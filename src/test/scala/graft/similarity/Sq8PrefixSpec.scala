package graft.similarity

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization and Matryoshka prefix search: the contracts
  * the x19/x20 oracles can't state — the packed byte layout round-trips
  * every code value (sign-bit top bytes included), quantization edge
  * semantics (constant dims, range extremes), two-stage equivalence to
  * brute force on a separated fixture, and stored ≡ inline for the
  * prefix layout including the empty-corpus degradation. */
class Sq8PrefixSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sq8 pack/unpack round-trips all byte values, sign-bit top bytes included") {
    val sp = spark; import sp.implicits._
    // 34 vectors of 64 codes: all-255 (every word's top byte sets the
    // long's sign bit — unpack must mask AFTER the arithmetic shift),
    // all-0, and LCG-random coverage of [0, 255] in every position
    val rnd = seededInts(12L)
    val rows = (0 until 34).map { i =>
      (i.toLong, Seq.tabulate(64)(_ =>
        if (i == 0) 255 else if (i == 1) 0 else rnd(256)))
    }
    val df = rows.toDF("vec_id", "codes")
    val bad = df.select(col("vec_id"), col("codes"),
        Cosine.sq8Unpack(Cosine.sq8Pack(col("codes"), 64), 64).as("codes2"))
      .filter(!(col("codes") === col("codes2")))
    assert(bad.isEmpty, bad.collect().mkString("\n"))
    // the packed form really is dim BYTES: 8 longs for 64 dims
    assert(df.select(Cosine.sq8Pack(col("codes"), 64).as("p"))
      .head.getSeq[Long](0).length == 8)
  }

  test("sq8 codes: constant dims code 0; range extremes land on 0/255") {
    val sp = spark; import sp.implicits._
    // packed codes hold whole 8-byte words: five constant dims pad to 8
    val df = Seq(
      (1L, Array(0.5f, 1.0f, -2.0f) ++ Array.fill(5)(0.0f)),
      (2L, Array(0.5f, 2.0f, 4.0f) ++ Array.fill(5)(0.0f)),
      (3L, Array(0.5f, 3.0f, 1.0f) ++ Array.fill(5)(0.0f))).toDF("vec_id", "embedding")
    val codes = Cosine.sq8PackedCodes(df, Cosine.sq8Stats(df, "embedding"),
        "vec_id", "embedding", dim = 8)
      .select(col("vec_id"), Cosine.sq8Unpack(col("pcode"), 8))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // dim 1 is constant (span 0): codes 0 everywhere, reconstructs vmin
    assert(codes.values.forall(_.head == 0), codes.toString)
    // dim 2 spans [1, 3]: min codes 0, midpoint 128, max 255
    assert(codes(1L)(1) == 0 && codes(2L)(1) == 128 && codes(3L)(1) == 255,
      codes.toString)
    assert(codes.values.forall(_.forall(c => c >= 0 && c <= 255)))
  }

  test("sq8TopK two-stage equals exact brute force on a separated fixture") {
    val sp = spark; import sp.implicits._
    // LCG directions in 16 dims: pairwise sims well separated, so the
    // ≤ span/510 per-dim reconstruction error cannot reorder the top-3
    // and the quantized 12-shortlist must contain them
    val rnd = seededInts(7L)
    val rows = (0 until 24).map { i =>
      (i.toLong, Array.tabulate(16)(_ => (rnd(2001) - 1000) / 1000.0f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 4)
    val got = Cosine.sq8TopK(q, df, "vec_id", "embedding",
        dim = 16, k = 3, kShort = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(4)))
      .toSet
    val want = Cosine.topK(q, df, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want, s"sq8=$got\nexact=$want")
  }

  test("sq8 append under pinned stats == one-pass coding; delete is an exact anti-join") {
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 5 =!= 4)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    val stats = Cosine.sq8Stats(base, "embedding")
    val codes = Cosine.sq8PackedCodes(base, stats, "vec_id", "embedding", 64)
    // append quantizes the batch under the STORED range (saturating for
    // the values past it) — exactly what one pass over the union under
    // the same stats produces
    val appended = Cosine.sq8Append(batch, codes, stats, "vec_id", "embedding", 64)
    val want = Cosine.sq8PackedCodes(emb, stats, "vec_id", "embedding", 64)
    assert(appended.exceptAll(want).isEmpty && want.exceptAll(appended).isEmpty,
      "append != re-code under pinned stats")
    val afterDel = Cosine.sq8DeleteCodes(
      emb.filter(col("vec_id") % 7 === 0).select(col("vec_id")),
      appended, "vec_id")
    assert(afterDel.filter(col("vec_id") % 7 === 0).isEmpty)
    assert(afterDel.count() == emb.filter(col("vec_id") % 7 =!= 0).count())
  }

  test("prefix: stored search is value-identical to inline; p comes from the artifact") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val inline = Cosine.prefixTopK(q, emb, "vec_id", "embedding", p = 16, k = 5)
    val tmp = graft.TestDir("graft_prefix")
    Cosine.writePrefixIndex(emb, "vec_id", "embedding", p = 16, tmp)
    val stored = Cosine.prefixTopKStored(spark, q, tmp, "vec_id", "embedding", k = 5)
    assert(stored.collect().toSet == inline.collect().toSet)
    // the config sidecar pins (p, buckets)
    assert(graft.ops.ConfigFile.readIntsRange(tmp, "prefix_config", 2, 2) ==
      Seq(16, Cosine.PrefixBuckets))
  }

  test("prefix stored: empty corpus writes a readable unpartitioned layout") {
    val emb = Tables.embeddings(spark, dir)
    val tmp = graft.TestDir("graft_prefix_e")
    Cosine.writePrefixIndex(emb.filter(col("vec_id") < 0), "vec_id",
      "embedding", p = 16, tmp)
    val out = Cosine.prefixTopKStored(spark, emb.filter(col("vec_id") < 3),
      tmp, "vec_id", "embedding", k = 5)
    assert(out.isEmpty)
  }

  test("prefix stored: one pbucket directory at another width is a torn artifact") {
    val emb = Tables.embeddings(spark, dir)
    val tmp = graft.TestDir("graft_prefix_w")
    Cosine.writePrefixIndex(emb, "vec_id", "embedding", p = 16, tmp)
    // a crashed in-place rebuild under p = 8: ONE directory already holds
    // the new width while every other one and the sidecar still say 16
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmp/vectors"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("pbucket="))
    assert(buckets.length > 1, s"fixture too small: ${buckets.length} directories")
    val victim = buckets.last.getPath
    val narrow = graft.TestDir("graft_prefix_n")
    spark.read.parquet(victim.toString)
      .withColumn("prefix", slice(col("prefix"), 1, 8))
      .write.mode("overwrite").parquet(s"$narrow/b")
    assert(fs.delete(victim, true), "test setup: delete failed")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$narrow/b"), victim),
      "test setup: rename failed")
    val e = intercept[IllegalArgumentException] {
      Cosine.prefixTopKStored(spark, emb.filter(col("vec_id") < 3), tmp,
        "vec_id", "embedding", k = 5).collect()
    }
    assert(e.getMessage.contains("torn artifact"), e.getMessage)
  }

  test("stored SQ8: pruned serving == inline sq8TopK; rerank scan prunes; torn stats loud") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val emb = graft.Tables.embeddings(spark, dir)
    val tmp = graft.TestDir("sq8stored")
    Cosine.writeSq8Index(emb, "vec_id", "embedding", 64, tmp)
    val queries = emb.filter(col("vec_id") < 10)
    val stored = Cosine.sq8TopKStored(spark, queries, tmp, "vec_id",
      "embedding", k = 5)
    val inline = Cosine.sq8TopK(queries, emb, "vec_id", "embedding",
      dim = 64, k = 5)
    assert(stored.collect().toSet == inline.collect().toSet)
    assert(stored.count() > 0)
    // the rerank's raw-vector scan reads fewer pbucket dirs than exist
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
      }
    val one = Cosine.sq8TopKStored(spark, emb.filter(col("vec_id") === 3),
      tmp, "vec_id", "embedding", k = 3, kShort = 5)
    one.collect()
    val total = new java.io.File(s"$tmp/vectors").listFiles()
      .count(_.getName.startsWith("pbucket="))
    val vecScans = scans(one.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
    assert(vecScans.nonEmpty)
    vecScans.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("pbucket")))
      val read = f.metrics("numPartitions").value
      assert(read > 0 && read < total,
        s"rerank scan read $read of $total pbucket dirs — no pruning")
    }
    // torn stats under a stale sidecar: loud, never silent mis-scoring.
    // A FRESH artifact dir (never probed in this JVM): the guard
    // validates once per (dir, sidecar), so the torn state must be
    // discovered at first open — which is exactly the crash-restart
    // shape a torn re-train leaves behind
    val tornDir = graft.TestDir("sq8torn_a")
    Cosine.writeSq8Index(emb, "vec_id", "embedding", 64, tornDir)
    val bumped = spark.read.parquet(s"$tornDir/stats")
    val t2 = graft.TestDir("sq8torn")
    bumped.selectExpr("transform(vmins, x -> x - 1.0) AS vmins", "vmaxs")
      .write.mode("overwrite").parquet(s"$t2/stats")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$tornDir/stats"), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$t2/stats"),
      new org.apache.hadoop.fs.Path(s"$tornDir/stats")))
    val e = intercept[IllegalArgumentException] {
      Cosine.sq8TopKStored(spark, queries, tornDir, "vec_id", "embedding", k = 5)
        .collect()
    }
    assert(e.getMessage.contains("torn artifact"))
  }
}
