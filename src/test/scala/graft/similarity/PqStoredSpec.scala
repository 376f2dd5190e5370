package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The PERSISTED PQ/IVFADC serving tier ([[Cosine.writePqIndex]] /
  * [[Cosine.ivfAdcSearchStored]] / [[Cosine.pqTopKStored]]) — the last
  * approximate family to gain a stored artifact. Pins: value-identity
  * with the in-plan `ivfAdcTopK` over the same corpus, the LITERAL
  * pcell filter surviving to the executed codes scan's runtime
  * partition metrics, the rerank's raw-vector scan pruning by pbucket,
  * torn-artifact loudness (codebook changed under a stale sidecar), and
  * the empty-corpus edge. */
class PqStoredSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def scans(p: org.apache.spark.sql.execution.SparkPlan) =
    graft.PlanWalk.scans(p)

  private def writeFixture(dir: String): Unit = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    Cosine.writePqIndex(emb, emb.select(col("vec_id"), col("label")),
      "vec_id", "embedding", "label", dir,
      centroidFn = Cosine.cellCentroidsSorted,
      centroids = Some(Cosine.cellCentroidsSorted(emb, "label", "embedding")))
  }

  test("stored cell-pruned IVFADC == in-plan ivfAdcTopK, sims included") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = graft.TestDir("pqstored")
    writeFixture(dir)
    val queries = emb.filter(col("vec_id") < 10)
    val stored = Cosine.ivfAdcSearchStored(spark, queries, dir,
      "vec_id", "embedding", "label", k = 5)
    val inplan = Cosine.ivfAdcTopK(queries, emb, "vec_id", "embedding",
      "label", k = 5, centroidFn = Cosine.cellCentroidsSorted)
    assert(stored.count() > 0, "vacuous fixture: no search hits")
    assert(stored.collect().toSet == inplan.collect().toSet)
  }

  test("the codes scan prunes to the probed cells; rerank prunes raw vectors") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = graft.TestDir("pqprune")
    writeFixture(dir)
    val totalCells = new java.io.File(s"$dir/codes").listFiles()
      .count(_.getName.startsWith("pcell="))
    assert(totalCells > 2, s"fixture has only $totalCells cells — pruning unprovable")
    // one query probing its own cell: the codes scan must read only that
    // directory's share of the partition tree
    val out = Cosine.ivfAdcSearchStored(spark,
      emb.filter(col("vec_id") === 3), dir, "vec_id", "embedding", "label",
      k = 5)
    out.collect()
    val codeScans = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codeScans.nonEmpty, "no codes scan in the stored-search plan")
    codeScans.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("pcell")),
        s"codes scan carries no pcell partition filter: ${f.partitionFilters}")
      assert(f.metrics("numPartitions").value == 1L,
        s"1-cell probe read ${f.metrics("numPartitions").value} of $totalCells cell dirs")
    }
    // the two-stage form: rerank's raw-vector scan prunes by pbucket
    val two = Cosine.pqTopKStored(spark, emb.filter(col("vec_id") === 3),
      dir, "vec_id", "embedding", k = 5, kShort = 8)
    two.collect()
    val vecScans = scans(two.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/vectors")))
    assert(vecScans.nonEmpty, "no vectors scan in the two-stage plan")
    vecScans.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("pbucket")),
        s"vectors scan carries no pbucket filter: ${f.partitionFilters}")
      val total = new java.io.File(s"$dir/vectors").listFiles()
        .count(_.getName.startsWith("pbucket="))
      assert(f.metrics("numPartitions").value < total,
        s"rerank read all $total vector buckets — nothing pruned")
    }
  }

  test("multiprobe stored IVFADC == in-plan twin; probes prune the code tree") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = graft.TestDir("pqmulti")
    writeFixture(dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val stored = Cosine.ivfAdcMultiprobeStored(spark, queries, dir,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    val inplan = Cosine.ivfAdcTopKMultiprobe(queries, emb,
      emb.select(col("vec_id"), col("label")),
      Cosine.cellCentroidsSorted(emb, "label", "embedding"),
      "vec_id", "embedding", "label", k = 5, nProbe = 2,
      centroidFn = Cosine.cellCentroidsSorted)
    assert(stored.count() > 0, "vacuous fixture")
    assert(stored.collect().toSet == inplan.collect().toSet)
    // a 1-query nProbe=2 probe reads exactly 2 cell directories
    val total = new java.io.File(s"$dir/codes").listFiles()
      .count(_.getName.startsWith("pcell="))
    val one = Cosine.ivfAdcMultiprobeStored(spark,
      emb.filter(col("vec_id") === 3).select(col("vec_id"), col("embedding")),
      dir, "vec_id", "embedding", "label", k = 5, nProbe = 2)
    one.collect()
    scans(one.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/codes")))
      .foreach { f =>
        assert(f.metrics("numPartitions").value == 2L,
          s"nProbe=2 probe read ${f.metrics("numPartitions").value} of $total cell dirs")
      }
  }

  test("numeric-LOOKING string cells survive the pcell roundtrip") {
    // the ivfSearchStored lesson applied to the codes store: zero-padded
    // string cell labels must serve identically through the pinned-
    // string-schema read (no partition-type inference in the filter)
    val emb = graft.Tables.embeddings(spark, sfDir)
      .withColumn("slabel", format_string("%03d", col("label")))
    val dir = graft.TestDir("pqstrcell")
    Cosine.writePqIndex(emb, emb.select(col("vec_id"), col("slabel")),
      "vec_id", "embedding", "slabel", dir,
      centroidFn = Cosine.cellCentroidsSorted)
    assert(new java.io.File(s"$dir/codes").listFiles()
        .exists(_.getName.matches("pcell=0\\d+")),
      "fixture lost its zero-padded directory names")
    val queries = emb.filter(col("vec_id") < 10)
    val stored = Cosine.ivfAdcSearchStored(spark, queries, dir,
      "vec_id", "embedding", "slabel", k = 5)
    val inplan = Cosine.ivfAdcTopK(queries, emb, "vec_id", "embedding",
      "slabel", k = 5, centroidFn = Cosine.cellCentroidsSorted)
    assert(stored.count() > 0, "string-cell stored search served nothing")
    assert(stored.collect().toSet == inplan.collect().toSet)
  }

  test("torn re-train fails loudly: changed codebook under a stale sidecar") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = graft.TestDir("pqtorn")
    writeFixture(dir)
    val shifted = spark.read.parquet(s"$dir/codebook")
      .withColumn("centroid", col("centroid") + 1.0d)
    val tmp = graft.TestDir("pqtorn_c")
    shifted.write.mode("overwrite").parquet(s"$tmp/codebook")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/codebook"), true),
      "test setup: delete failed")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/codebook"),
      new org.apache.hadoop.fs.Path(s"$dir/codebook")), "test setup: rename failed")
    val e = intercept[IllegalArgumentException] {
      Cosine.ivfAdcSearchStored(spark, emb.filter(col("vec_id") === 1),
        dir, "vec_id", "embedding", "label", k = 5).collect()
    }
    assert(e.getMessage.contains("torn artifact"))
  }

  test("multiprobe refuses a store committed without centroids — even " +
      "when a stale centroids/ dir would otherwise be servable") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = graft.TestDir("pqnocent")
    writeFixture(dir) // leaves a centroid-bearing train on disk
    assert(new java.io.File(s"$dir/centroids").exists(),
      "test setup: first train wrote no centroids")
    // re-train WITHOUT centroids over the same dir: the stale centroid
    // store must be retired (not left servable under flag 0)
    Cosine.writePqIndex(emb, emb.select(col("vec_id"), col("label")),
      "vec_id", "embedding", "label", dir,
      centroidFn = Cosine.cellCentroidsSorted)
    assert(!new java.io.File(s"$dir/centroids").exists(),
      "re-train without centroids left the previous train's coarse " +
        "centroids on disk")
    // and even if one re-appeared (external copy, crash window), the
    // sidecar flag — not directory existence — gates the multiprobe read
    val e = intercept[IllegalArgumentException] {
      Cosine.ivfAdcMultiprobeStored(spark,
        emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding")),
        dir, "vec_id", "embedding", "label", k = 5, nProbe = 2).collect()
    }
    assert(e.getMessage.contains("without coarse centroids"), e.getMessage)
    // the own-cell form needs no centroids and still serves
    assert(Cosine.ivfAdcSearchStored(spark, emb.filter(col("vec_id") < 3),
      dir, "vec_id", "embedding", "label", k = 5).count() > 0)
  }

  test("empty corpus writes a readable layout and serves zero rows") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val none = emb.filter(lit(false))
    val dir = graft.TestDir("pqempty")
    Cosine.writePqIndex(none, none.select(col("vec_id"), col("label")),
      "vec_id", "embedding", "label", dir,
      centroidFn = Cosine.cellCentroidsSorted)
    assert(Cosine.ivfAdcSearchStored(spark,
      emb.filter(col("vec_id") < 3), dir, "vec_id", "embedding", "label",
      k = 5).count() == 0L)
    assert(Cosine.pqTopKStored(spark, emb.filter(col("vec_id") < 3),
      dir, "vec_id", "embedding", k = 5).count() == 0L)
  }
}
