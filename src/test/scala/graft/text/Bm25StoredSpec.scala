package graft.text

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** The PRUNED stored BM25 serving path ([[Bm25.searchStored]]): postings
  * persist partitioned by tbucket = pmod(xxhash64(term), TermBuckets)
  * and a probe's scan lists only its query terms' directories — the
  * lexical member of the round-12 serving-tier pruning sweep (RepIndex
  * bands, Matryoshka rerank, IVF lists). Pins: value-identity with the
  * canonical read+search path, the LITERAL partition filter surviving to
  * the executed scan (runtime partition metrics, not just the initial
  * plan — the round-12 DPP lesson), pre-upgrade unpartitioned artifacts
  * degrading instead of failing, the empty-index edge, and the
  * torn-modulus guard failing loudly. */
class Bm25StoredSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }

  test("stored pruned search == canonical read+search, scores included") {
    val docs = graft.Tables.documents(spark, sfDir)
    val dir = graft.TestDir("bm25stored")
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir)
    val queries = docs.filter(col("doc_id") < 10)
    val pruned = Bm25.searchStored(spark, queries, dir, "doc_id", "text", k = 5)
    val canonical = Bm25.searchIndex(queries, Bm25.readIndex(spark, dir),
      "doc_id", "text", k = 5)
    assert(pruned.collect().toSet == canonical.collect().toSet)
    assert(pruned.count() > 0, "vacuous fixture: no search hits")
  }

  test("the postings scan prunes: literal tbucket filters, fewer partitions read") {
    val docs = graft.Tables.documents(spark, sfDir)
    val dir = graft.TestDir("bm25prune")
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), dir)
    // one short probe doc built from REAL corpus terms (an absent term
    // set prunes every partition and AQE collapses the scan entirely):
    // its term set covers few of the 64 buckets
    val sp = spark; import sp.implicits._
    val words = docs.select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "").limit(3).collect().map(_.getString(0))
    val probe = Seq((9001L, words.mkString(" "))).toDF("doc_id", "text")
    val out = Bm25.searchStored(spark, probe, dir, "doc_id", "text", k = 5,
      minIdfMicro = 0L)
    out.collect() // drive the memoized execution the metrics read from
    val post = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(dir)))
      .filter(_.output.exists(_.name == "tf"))
    assert(post.nonEmpty, "no postings scan in the stored-search plan")
    val total = new java.io.File(s"$dir/postings").listFiles()
      .count(_.getName.startsWith("tbucket="))
    post.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("tbucket")),
        s"postings scan carries no tbucket partition filter: ${f.partitionFilters}")
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read < total,
        s"postings scan read $read of $total partitions — no pruning")
    }
  }

  test("pre-upgrade unpartitioned artifact: degrades to unpruned, same results") {
    val docs = graft.Tables.documents(spark, sfDir)
    val idx = Bm25.buildIndex(docs, "doc_id", "text")
    val dir = graft.TestDir("bm25plain")
    // the pre-round-12 layout: plain postings, no config sidecar
    idx.postings.write.mode("overwrite").parquet(s"$dir/postings")
    idx.doclen.write.mode("overwrite").parquet(s"$dir/doclen")
    idx.dfreq.write.mode("overwrite").parquet(s"$dir/dfreq")
    idx.stats.write.mode("overwrite").parquet(s"$dir/stats")
    val queries = docs.filter(col("doc_id") < 5)
    val served = Bm25.searchStored(spark, queries, dir, "doc_id", "text", k = 5)
    val canonical = Bm25.searchIndex(queries, Bm25.readIndex(spark, dir),
      "doc_id", "text", k = 5)
    assert(served.collect().toSet == canonical.collect().toSet)
  }

  test("empty index round-trips and serves zero rows") {
    val docs = graft.Tables.documents(spark, sfDir)
    val empty = Bm25.buildIndex(docs.filter(lit(false)), "doc_id", "text")
    val dir = graft.TestDir("bm25empty")
    Bm25.writeIndex(empty, dir)
    val queries = docs.filter(col("doc_id") < 5)
    assert(Bm25.searchStored(spark, queries, dir, "doc_id", "text", k = 5)
      .count() == 0L)
    assert(Bm25.searchIndex(queries, Bm25.readIndex(spark, dir),
      "doc_id", "text", k = 5).count() == 0L)
  }

  test("torn config (modulus drift) fails loudly, never silently mis-prunes") {
    val sp = spark; import sp.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val dir = graft.TestDir("bm25torn")
    Bm25.writeIndex(Bm25.buildIndex(corpus, "doc_id", "text"), dir)
    // pick a fake modulus under which at least the first sampled term's
    // bucket provably differs (xxhash64 is deterministic, so this is a
    // stable choice, not a flaky one)
    val terms = spark.read.parquet(s"$dir/postings")
      .select(col("term"), col("tbucket"),
        pmod(xxhash64(col("term")), lit(7L)).cast("int").as("b7"),
        pmod(xxhash64(col("term")), lit(13L)).cast("int").as("b13"))
      .collect()
    val fake = if (terms.forall(r => r.getInt(1) != r.getInt(2))) 7
    else { assert(terms.forall(r => r.getInt(1) != r.getInt(3))); 13 }
    graft.ops.ConfigFile.writeAtomic(dir, "config", Seq(fake))
    val e = intercept[IllegalArgumentException] {
      Bm25.searchStored(spark, corpus.filter(col("doc_id") === 1L), dir,
        "doc_id", "text", k = 5).collect()
    }
    assert(e.getMessage.contains("torn artifact"))
  }
}
