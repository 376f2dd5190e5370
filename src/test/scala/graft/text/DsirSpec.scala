package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DSIR importance resampling (Xie et al. 2023): hashed-unigram
  * likelihood-ratio scoring + deterministic Gumbel-top-k. Pins the
  * property the operator exists for — raw docs that look like the
  * TARGET outscore raw docs that look like the rest of the pool — plus
  * exact determinism, the raw-pool-only contract, and the Gumbel
  * draw's domain safety at its integer-grid extremes. */
class DsirSpec extends SparkSpec {

  private def corpus = {
    val sp = spark; import sp.implicits._
    // target domain talks about "alpha beta gamma"; the off-domain pool
    // about "delta epsilon zeta"; two raw docs are target-LIKE plants
    (Seq(
      (1L, "tgt", "alpha beta gamma alpha beta"),
      (2L, "tgt", "beta gamma alpha gamma"),
      (3L, "tgt", "alpha alpha beta gamma beta"),
      (10L, "poolA", "alpha beta gamma beta alpha"), // plant: target-like
      (11L, "poolA", "delta epsilon zeta epsilon"),
      (12L, "poolB", "zeta zeta delta epsilon delta"),
      (13L, "poolB", "gamma alpha beta alpha"), // plant: target-like
      (14L, "poolB", "epsilon delta zeta zeta epsilon delta")
    )).toDF("doc_id", "source", "text")
  }

  test("target-like raw docs outscore off-domain raw docs; target docs are excluded") {
    val imp = Dsir.importance(corpus, "doc_id", "text", "source", "tgt")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(imp.keySet == Set(10L, 11L, 12L, 13L, 14L),
      s"importance must cover exactly the raw pool: ${imp.keySet}")
    val plants = Seq(10L, 13L).map(imp)
    val offDomain = Seq(11L, 12L, 14L).map(imp)
    assert(plants.min > offDomain.max,
      s"planted target-like docs ($plants) must outscore off-domain ($offDomain)")
  }

  test("selection is exactly deterministic and ranked by key desc, id asc") {
    val a = Dsir.select(corpus, "doc_id", "text", "source", "tgt", n = 3)
      .orderBy(col("rank")).collect()
    val b = Dsir.select(corpus, "doc_id", "text", "source", "tgt", n = 3)
      .orderBy(col("rank")).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length == 3)
    val keys = a.map(r => (r.getLong(5), r.getLong(0))) // (key_micro, id)
    assert(keys.sameElements(keys.sortBy(t => (-t._1, t._2))),
      s"rank order must be (key desc, id asc): ${keys.toSeq}")
    a.foreach(r => assert(r.getLong(5) == r.getLong(3) + r.getLong(4),
      "key_micro must be the exact integer sum lr_micro + g_micro"))
  }

  test("gumbel draw: finite on the whole integer grid, including u extremes") {
    val sp = spark; import sp.implicits._
    // force the extreme grid points by probing the draw formula directly:
    // u ranges over {0.5/1e6, …, 999999.5/1e6} — both ln arguments stay
    // strictly in-domain, so no draw is NaN/Inf on ANY id
    val ids = (1L to 5000L).toDF("id")
    val g = ids.select(Dsir.gumbelMicro(col("id")).as("g")).collect().map(_.getLong(0))
    assert(g.distinct.length > 4000, "draws must vary across ids")
    // extremes of the closed-form bounds: g(u_min) ≈ -ln(ln 2e6)·1e6 …
    assert(g.forall(v => v > -4000000L && v < 16000000L),
      s"gumbel micro out of the analytic range: min=${g.min} max=${g.max}")
  }

  test("hashed vocabulary is closed: every token lands in [0, Buckets)") {
    val b = corpus
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("t"))
      .select(Dsir.tokenBucket(col("t")).as("b"))
      .agg(min(col("b")), max(col("b"))).head()
    assert(b.getLong(0) >= 0L && b.getLong(1) < Dsir.Buckets)
  }

  test("stored model: importanceStored == importance, value-identical; modulus pinned") {
    val dir = graft.TestDir("dsir_model")
    Dsir.writeModel(corpus, "doc_id", "text", "source", "tgt", dir)
    assert(graft.ops.ConfigFile.readIntsRange(dir, "dsir_config", 4, 4).head
      == Dsir.Buckets)
    val rawPool = corpus.filter(col("source") =!= "tgt")
      .select(col("doc_id"), col("text"))
    val stored = Dsir.importanceStored(spark, rawPool, "doc_id", "text", dir)
    val inline = Dsir.importance(corpus, "doc_id", "text", "source", "tgt")
    assert(stored.collect().toSet == inline.collect().toSet)
  }

  test("torn model fails loudly: a store changed under a stale sidecar") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("dsir_torn")
    Dsir.writeModel(corpus, "doc_id", "text", "source", "tgt", dir)
    // simulate a crash mid-re-train: the raw LM store changes while the
    // sidecar (and tgt/tots) stay from the previous release
    val bumped = spark.read.parquet(s"$dir/raw")
      .withColumn("cnt_r", col("cnt_r") + 1L)
    val tmp = graft.TestDir("dsir_torn_r")
    bumped.write.mode("overwrite").parquet(s"$tmp/raw")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/raw"), true),
      "test setup: delete failed")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/raw"),
      new org.apache.hadoop.fs.Path(s"$dir/raw")), "test setup: rename failed")
    val e = intercept[IllegalArgumentException] {
      Dsir.importanceStored(spark,
        Seq((99L, "alpha beta")).toDF("doc_id", "text"),
        "doc_id", "text", dir).collect()
    }
    assert(e.getMessage.contains("torn model"))
  }
}
