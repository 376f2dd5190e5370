package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RESIDUAL IVFADC ([[Cosine.writeResidualPqIndex]] — Jégou §IV's actual
  * encoding: PQ over x − q₁(x), decode = centroid + codewords, flagged in
  * sidecar slot 8) behind x27c/x28c. Pins: the stored multiprobe serves
  * value-identically to the in-plan residual twin, the two-stage search
  * is EXACT when the shortlist covers the corpus (rerank inverts the
  * residual decode correctly), a residual sidecar without centroids is
  * loud (the decode is impossible — the guard must fire, not serve
  * garbage), pre-residual 8-field sidecars still open as raw-code
  * stores, and residual coding strictly reduces reconstruction error vs
  * raw-vector coding under the same trained quantizer budget. */
class ResidualPqSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def coarse(emb: org.apache.spark.sql.DataFrame) = {
    val cents = Cosine.cellCentroids(emb, "label", "embedding")
    val cells = Cosine.assignToCentroids(emb, "vec_id", "embedding",
        cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    (cents, cells)
  }

  test("stored multiprobe == in-plan residual twin; full-shortlist two-stage == exact topK") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cents, cells) = coarse(emb)
    val dir = graft.TestDir("graft_respq")
    Cosine.writeResidualPqIndex(emb, cells, "vec_id", "embedding", "label",
      cents, dir, iters = 2)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val stored = Cosine.ivfAdcMultiprobeStored(spark, queries, dir,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    // the in-plan twin under the SAME stored (book, centroids) pair —
    // stored ≡ inline is the gate's contract
    val book = spark.read.parquet(s"$dir/codebook")
    val storedCents = spark.read.parquet(s"$dir/centroids")
      .withColumnRenamed("cell", "label")
    val inline = Cosine.ivfAdcResidualMultiprobe(queries, emb, cells,
      storedCents, book, "vec_id", "embedding", "label", k = 5, nProbe = 2)
    assert(stored.collect().toSet == inline.collect().toSet,
      "stored residual multiprobe drifted from the in-plan twin")
    assert(stored.count() > 0)
    // a corpus-covering shortlist makes stage 2 exact: the residual
    // decode fed stage 1, the raw rerank must recover brute force
    val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val twoStage = Cosine.pqTopKStored(spark, queries, dir,
        "vec_id", "embedding", k = 5, kShort = 500)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    assert(twoStage.collect().toSet == exact.collect().toSet,
      "full-shortlist residual two-stage != exact topK")
    emb.unpersist()
  }

  test("residual sidecar without centroids is LOUD; 8-field sidecars open as raw stores") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val (cents, cells) = coarse(emb)
    val dir = graft.TestDir("graft_respq_g")
    Cosine.writeResidualPqIndex(emb, cells, "vec_id", "embedding", "label",
      cents, dir, iters = 1)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    // simulate the torn/hand-edited artifact: residual flag up, centroid
    // presence down — decode would be centroid-less garbage, so open
    // must refuse (the every-guard-fires convention)
    val cfg = graft.ops.ConfigFile.readIntsRange(dir, "pq_commit", 9, 9)
    graft.ops.ConfigFile.writeAtomic(dir, "pq_commit",
      cfg.updated(6, 0).updated(7, 0))
    val e = intercept[Exception] {
      Cosine.pqTopKStored(spark, queries, dir, "vec_id", "embedding", k = 3)
    }
    assert(e.getMessage.contains("residual"), e.getMessage)
    // back-compat: a HASH store whose sidecar predates slot 8 (8 fields)
    // still opens and serves, as residual=0
    val rawDir = graft.TestDir("graft_respq_b")
    Cosine.writePqIndex(emb, cells, "vec_id", "embedding", "label", rawDir)
    val full = Cosine.pqTopKStored(spark, queries, rawDir,
      "vec_id", "embedding", k = 3).collect().toSet
    graft.ops.ConfigFile.writeAtomic(rawDir, "pq_commit",
      graft.ops.ConfigFile.readIntsRange(rawDir, "pq_commit", 9, 9).take(8))
    val legacy = Cosine.pqTopKStored(spark, queries, rawDir,
      "vec_id", "embedding", k = 3).collect().toSet
    assert(legacy == full, "8-field sidecar must serve identically")
  }

  test("residual coding strictly reduces reconstruction error at equal bits") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (cents, cells) = coarse(emb)
    val rawDir = graft.TestDir("graft_respq_r")
    val resDir = graft.TestDir("graft_respq_s")
    Cosine.writeTrainedPqIndex(emb, cells, "vec_id", "embedding", "label",
      rawDir, iters = 2)
    Cosine.writeResidualPqIndex(emb, cells, "vec_id", "embedding", "label",
      cents, resDir, iters = 2)
    val (mRaw, mRes) = (PqTestMse.reconMse(spark, emb, rawDir),
      PqTestMse.reconMse(spark, emb, resDir, residual = true))
    assert(mRes < mRaw, s"residual MSE $mRes not below raw-coding MSE $mRaw")
    info(f"reconstruction MSE: trained-raw $mRaw%.4f -> residual $mRes%.4f")
    emb.unpersist()
  }
}
