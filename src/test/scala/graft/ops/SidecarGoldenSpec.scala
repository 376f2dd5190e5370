package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.dedup.{MinHash, RepIndex}
import graft.similarity.Cosine
import graft.streaming.StreamingPrefixMaintenance
import graft.text.{Bm25, Dsir}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The on-disk sidecar format of every stored family, pinned byte for
  * byte. Each family writes a tiny fixed fixture whose content is
  * bit-reproducible (sorted-fold centroids and codebooks, min/max
  * stats, sign codes, integer counts, an explicit rotation), so each
  * sidecar's text is a constant: a change to any writer's slot order,
  * count or fingerprint recipe fails here, and an artifact written by
  * an earlier build keeps opening under a later one. */
class SidecarGoldenSpec extends SparkSpec {

  private def sidecar(dir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(dir, name)), StandardCharsets.UTF_8)

  /** 12 vectors of 16 dims, every value a multiple of 1/8 (exact in
    * float and double), with cell = id mod 3. */
  private lazy val vectors: DataFrame = {
    val sp = spark; import sp.implicits._
    val rnd = seededInts(5L)
    (0 until 12).map { i =>
      (i.toLong, Array.tabulate(16)(_ => (rnd(17) - 8) / 8.0f), i % 3)
    }.toDF("vec_id", "embedding", "cell")
  }

  private lazy val centroids: DataFrame =
    Cosine.cellCentroidsSorted(vectors, "cell", "embedding")

  private lazy val cells: DataFrame = vectors.select(col("vec_id"), col("cell"))

  private lazy val docs: DataFrame = {
    val sp = spark; import sp.implicits._
    Seq((1L, "alpha beta gamma delta epsilon", "tgt"),
      (2L, "alpha beta gamma delta zeta", "tgt"),
      (3L, "one two three four five six", "raw"),
      (4L, "one two three four five seven", "raw"),
      (5L, "alpha one beta two gamma", "raw")).toDF("doc_id", "text", "source")
  }

  test("text and dedup sidecars: BM25 and RepIndex config, DSIR model") {
    val bm = graft.TestDir("graft_golden_bm25")
    Bm25.writeIndex(Bm25.buildIndex(docs, "doc_id", "text"), bm)
    assert(sidecar(bm, "config") == s"${Bm25.TermBuckets}")
    val rep = graft.TestDir("graft_golden_rep")
    RepIndex.write(RepIndex.build(MinHash.hashedShingleArray(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", 2),
      "doc_id"), rep)
    assert(sidecar(rep, "config") == s"${MinHash.ProbeBuckets}")
    val dsir = graft.TestDir("graft_golden_dsir")
    Dsir.writeModel(docs, "doc_id", "text", "source", "tgt", dsir)
    assert(sidecar(dsir, "dsir_config") == "4096,182760643,783989734,293308810")
  }

  test("vector sidecars: IVF, SQ8, BQ, prefix and rotated prefix") {
    val ivf = graft.TestDir("graft_golden_ivf")
    Cosine.writeIvfIndex(vectors.select(col("vec_id"), col("embedding")),
      cells, centroids, "vec_id", "embedding", "cell", ivf)
    assert(sidecar(ivf, "ivf_commit") == "12,973203558")
    val sq8 = graft.TestDir("graft_golden_sq8")
    Cosine.writeSq8Index(vectors, "vec_id", "embedding", 16, sq8)
    assert(sidecar(sq8, "sq8_config") == "16,16,16746651")
    val bq = graft.TestDir("graft_golden_bq")
    Cosine.writeBqIndex(vectors, "vec_id", "embedding", 16, bq)
    assert(sidecar(bq, "bq_config") == "16,16,12,805307567")
    val prefix = graft.TestDir("graft_golden_prefix")
    Cosine.writePrefixIndex(vectors, "vec_id", "embedding", 4, prefix)
    assert(sidecar(prefix, "prefix_config") == s"4,${Cosine.PrefixBuckets}")
    // the streamed publish pins an explicit rotation: four rows of
    // eighths, reproducible where a trained eigenbasis is not
    val rotation = Seq.tabulate(4, 16)((i, j) => ((i + 2 * j) % 5 - 2) / 8.0)
    val seg = graft.TestDir("graft_golden_rot_seg")
    StreamingPrefixMaintenance.rowSink(spark, seg, "vec_id", "embedding", 4,
      rotation)(vectors, 0L)
    val rot = graft.TestDir("graft_golden_rot")
    StreamingPrefixMaintenance.publish(spark, seg, "vec_id", 4, rot, rotation)
    assert(sidecar(rot, "prefix_rot_config") == "4,16,640535701")
  }

  test("PQ sidecars: with and without coarse centroids, and residual") {
    def pq(dir: String, cents: Option[DataFrame]): Unit =
      Cosine.writePqIndex(vectors, cells, "vec_id", "embedding", "cell", dir,
        nSub = 2, subDim = 8, nPlanes = 2,
        centroidFn = Cosine.cellCentroidsSorted, centroids = cents)
    val withCents = graft.TestDir("graft_golden_pq_c")
    pq(withCents, Some(centroids))
    assert(sidecar(withCents, "pq_commit") == "2,8,2,16,12,36319531,973203558,1,0")
    val bare = graft.TestDir("graft_golden_pq")
    pq(bare, None)
    assert(sidecar(bare, "pq_commit") == "2,8,2,16,12,36319531,0,0,0")
    val residual = graft.TestDir("graft_golden_pq_r")
    Cosine.writeResidualPqIndexWith(vectors, cells, "vec_id", "embedding",
      "cell", spark.read.parquet(s"$withCents/codebook"), centroids, residual,
      nSub = 2, subDim = 8, nPlanes = 2)
    assert(sidecar(residual, "pq_commit") == "2,8,2,16,12,36319531,973203558,1,1")
  }
}
