package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TRAINED per-subspace PQ codebooks ([[Cosine.trainPqCodebook]] /
  * [[Cosine.writeTrainedPqIndex]]) — the k-means quantizer behind
  * x27b's acceptance row. Pins: the trained book keeps the hash
  * codebook's schema and key space (so every downstream form reads both
  * quantizers identically), training strictly reduces quantization MSE
  * vs the SRP sign-bucket codebook on the same corpus (the reason to
  * train at all), codes stay in range and reconstruct, the stored
  * searches serve a trained artifact end-to-end, and the empty-corpus
  * edge degrades like the hash writer's. */
class TrainedPqSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def mse(dir: String): Double =
    PqTestMse.reconMse(spark, graft.Tables.embeddings(spark, sfDir), dir)

  test("trained book keeps the pqCodebook schema/key space; codes in range; MSE strictly improves") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cells = emb.select(col("vec_id"), col("label"))
    val srpDir = graft.TestDir("pq_srp")
    val trDir = graft.TestDir("pq_tr")
    Cosine.writePqIndex(emb, cells, "vec_id", "embedding", "label", srpDir)
    Cosine.writeTrainedPqIndex(emb, cells, "vec_id", "embedding", "label",
      trDir, iters = 4)
    val srpBook = spark.read.parquet(s"$srpDir/codebook")
    val trBook = spark.read.parquet(s"$trDir/codebook")
    assert(trBook.schema == srpBook.schema,
      s"schema drift: ${trBook.schema} vs ${srpBook.schema}")
    // key space: cells within [0, nSub * 2^nPlanes), dims within subDim
    val stats = trBook.agg(min("cell"), max("cell"), min("dim"), max("dim"),
      countDistinct("cell")).head()
    assert(stats.getLong(0) >= 0L && stats.getLong(1) < 128L, stats.toString)
    assert(stats.getLong(2) == 1L && stats.getLong(3) == 8L, stats.toString)
    // at least one codeword survives per subspace
    val perSub = trBook.select((col("cell") / 16).cast("int").as("j"))
      .distinct().count()
    assert(perSub == 8L, s"subspaces with surviving codewords: $perSub")
    // codes local to the subspace
    val codeRange = spark.read.parquet(s"$trDir/codes")
      .select(explode(col("codes")).as("c")).agg(min("c"), max("c")).head()
    assert(codeRange.getLong(0) >= 0L && codeRange.getLong(1) < 16L,
      codeRange.toString)
    // the trained claim: strictly less reconstruction error at equal bits
    val (ms, mt) = (mse(srpDir), mse(trDir))
    assert(mt < ms, s"trained MSE $mt not below SRP MSE $ms")
    info(f"quantization MSE: SRP $ms%.4f -> trained $mt%.4f")
  }

  test("stored searches serve a trained artifact; more Lloyd rounds never raise MSE") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cells = emb.select(col("vec_id"), col("label"))
    val d1 = graft.TestDir("pq_t1")
    val d4 = graft.TestDir("pq_t4")
    Cosine.writeTrainedPqIndex(emb, cells, "vec_id", "embedding", "label",
      d1, iters = 1)
    Cosine.writeTrainedPqIndex(emb, cells, "vec_id", "embedding", "label",
      d4, iters = 4,
      centroids = Some(Cosine.cellCentroids(emb, "label", "embedding")))
    assert(mse(d4) <= mse(d1) + 1e-9,
      s"Lloyd regressed: iters=4 ${mse(d4)} vs iters=1 ${mse(d1)}")
    val q = emb.filter(col("vec_id") < 3)
    assert(Cosine.pqTopKStored(spark, q, d4, "vec_id", "embedding", k = 5)
      .count() > 0, "trained two-stage search served nothing")
    assert(Cosine.ivfAdcSearchStored(spark, q, d4, "vec_id", "embedding",
      "label", k = 5).count() > 0, "trained own-cell search served nothing")
    assert(Cosine.ivfAdcMultiprobeStored(spark,
      q.select(col("vec_id"), col("embedding")), d4, "vec_id", "embedding",
      "label", k = 5, nProbe = 2).count() > 0,
      "trained multiprobe served nothing")
  }

  test("empty corpus: trained writer degrades to a readable empty layout") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val none = emb.filter(lit(false))
    val dir = graft.TestDir("pq_tempty")
    Cosine.writeTrainedPqIndex(none, none.select(col("vec_id"), col("label")),
      "vec_id", "embedding", "label", dir)
    assert(Cosine.pqTopKStored(spark, emb.filter(col("vec_id") < 3),
      dir, "vec_id", "embedding", k = 5).count() == 0L)
  }
}
