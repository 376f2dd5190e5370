package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** The PRUNED stored IVF serving path ([[Cosine.ivfSearchStored]]): the
  * posting lists persist partitioned BY CELL (the textbook IVF list
  * layout as a parquet partition tree) and a probe reads only its
  * probed cells' directories — the dense member of the round-12
  * serving-tier pruning sweep (RepIndex bands, Matryoshka rerank, BM25
  * postings). Pins: value-identity with the in-plan `ivfSearchIndex`
  * over the same frames, the LITERAL pcell filter surviving to the
  * executed scan's runtime partition metrics, the probe side riding a
  * broadcast (the corpus-side lists must be the streamed side at
  * 100 TB), and the empty-corpus edge. */
class IvfStoredSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }

  test("stored pruned search == in-plan ivfSearchIndex, sims included") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
    val cells = emb.select(col("vec_id"), col("label"))
    val dir = graft.TestDir("ivfstored")
    Cosine.writeIvfIndex(emb.select(col("vec_id"), col("embedding")), cells,
      cents, "vec_id", "embedding", "label", dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val stored = Cosine.ivfSearchStored(spark, queries, dir, "vec_id",
      "embedding", "label", k = 5, nProbe = 3)
    val inplan = Cosine.ivfSearchIndex(queries,
      emb.select(col("vec_id"), col("embedding")), cells, cents,
      "vec_id", "embedding", "label", k = 5, nProbe = 3)
    assert(stored.collect().toSet == inplan.collect().toSet)
    assert(stored.count() > 0, "vacuous fixture: no search hits")
  }

  test("the lists scan prunes to the probed cells; probes ride a broadcast") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
    val dir = graft.TestDir("ivfprune")
    Cosine.writeIvfIndex(emb.select(col("vec_id"), col("embedding")),
      emb.select(col("vec_id"), col("label")), cents,
      "vec_id", "embedding", "label", dir)
    val total = new java.io.File(s"$dir/lists").listFiles()
      .count(_.getName.startsWith("pcell="))
    assert(total > 2, s"fixture has only $total cells — pruning unprovable")
    // one query probing 1 cell: must read exactly its directory's share
    val out = Cosine.ivfSearchStored(spark,
      emb.filter(col("vec_id") === 3).select(col("vec_id"), col("embedding")),
      dir, "vec_id", "embedding", "label", k = 5, nProbe = 1)
    out.collect()
    val lists = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/lists")))
    assert(lists.nonEmpty, "no lists scan in the stored-search plan")
    lists.foreach { f =>
      assert(f.partitionFilters.exists(_.toString.contains("pcell")),
        s"lists scan carries no pcell partition filter: ${f.partitionFilters}")
      val read = f.metrics("numPartitions").value
      assert(read == 1L, s"1-probe search read $read of $total cell dirs")
    }
    assert(out.queryExecution.executedPlan.toString()
        .contains("BroadcastHashJoin"),
      "probe side should broadcast into the cell join")
  }

  test("numeric-LOOKING string cells survive the partition-column roundtrip") {
    // bare parquet reads re-type partition directory values by inference
    // ("007" → int 7), after which pcell-vs-string-literal comparisons
    // ride whichever way Catalyst's IN coercion happens to cast — a
    // version-sensitive accident (cast toward string drops every
    // zero-padded cell; it also merges distinct "007"/"7" directories).
    // ivfSearchStored pins pcell back to string with an explicit read
    // schema so no coercion is involved at all; this spec pins the
    // roundtrip: zero-padded string cell labels must serve exactly the
    // in-plan search's rows.
    val emb = graft.Tables.embeddings(spark, sfDir)
      .withColumn("slabel", format_string("%03d", col("label")))
    val cents = Cosine.cellCentroidsSorted(emb, "slabel", "embedding")
    val cells = emb.select(col("vec_id"), col("slabel"))
    val dir = graft.TestDir("ivfstrcell")
    Cosine.writeIvfIndex(emb.select(col("vec_id"), col("embedding")), cells,
      cents, "vec_id", "embedding", "slabel", dir)
    // the on-disk layout must actually contain zero-padded directories —
    // otherwise this fixture proves nothing
    assert(new java.io.File(s"$dir/lists").listFiles()
        .exists(_.getName.matches("pcell=0\\d+")),
      "fixture lost its zero-padded directory names")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val stored = Cosine.ivfSearchStored(spark, queries, dir, "vec_id",
      "embedding", "slabel", k = 5, nProbe = 3)
    val inplan = Cosine.ivfSearchIndex(queries,
      emb.select(col("vec_id"), col("embedding")), cells, cents,
      "vec_id", "embedding", "slabel", k = 5, nProbe = 3)
    assert(stored.count() > 0, "string-cell stored search served nothing")
    assert(stored.collect().toSet == inplan.collect().toSet)
  }

  test("torn re-train fails loudly: changed centroids under a stale sidecar") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
    val dir = graft.TestDir("ivftorn")
    Cosine.writeIvfIndex(emb.select(col("vec_id"), col("embedding")),
      emb.select(col("vec_id"), col("label")), cents,
      "vec_id", "embedding", "label", dir)
    // simulate the crash-after-centroids torn state: the geometry on
    // disk changes (all centroids shifted) while sidecar + lists stay
    val shifted = spark.read.parquet(s"$dir/centroids")
      .withColumn("centroid", col("centroid") + 1.0d)
    val tmp = graft.TestDir("ivftorn_c")
    shifted.write.mode("overwrite").parquet(s"$tmp/centroids")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/centroids"), true),
      "test setup: delete failed")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/centroids"),
      new org.apache.hadoop.fs.Path(s"$dir/centroids")), "test setup: rename failed")
    val e = intercept[IllegalArgumentException] {
      Cosine.ivfSearchStored(spark,
        emb.filter(col("vec_id") === 1).select(col("vec_id"), col("embedding")),
        dir, "vec_id", "embedding", "label", k = 5, nProbe = 2).collect()
    }
    assert(e.getMessage.contains("torn artifact"))
  }

  test("empty corpus writes a readable layout and serves zero rows") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val none = emb.filter(lit(false))
    val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
    val dir = graft.TestDir("ivfempty")
    Cosine.writeIvfIndex(none.select(col("vec_id"), col("embedding")),
      none.select(col("vec_id"), col("label")), cents,
      "vec_id", "embedding", "label", dir)
    val out = Cosine.ivfSearchStored(spark,
      emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding")),
      dir, "vec_id", "embedding", "label", k = 5, nProbe = 2)
    assert(out.count() == 0L)
  }
}
