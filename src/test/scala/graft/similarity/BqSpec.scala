package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Binary quantization ([[Cosine.bqCodes]] / [[Cosine.bqTopK]] /
  * [[Cosine.writeBqIndex]] — the 1 bit/dim tier behind x29/x29b). Pins:
  * word-pack semantics at the bit level (32 dims/word, strict `> 0`,
  * no sign-bit hazard), Hamming arithmetic, exactness of the two-stage
  * search at a corpus-covering shortlist, stored ≡ inline value
  * identity, the torn-artifact guard FIRING on a post-commit code
  * rewrite, and the empty-corpus edge. */
class BqSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("word pack: strict >0 rule, 32 dims/word, full-word and cross-word bits") {
    val sp = spark; import sp.implicits._
    val allPos = Seq.fill(64)(1.0)
    val allNeg = Seq.fill(64)(-1.0)
    val zeros = Seq.fill(64)(0.0)
    // bit 0 and bit 33 set: word0 = 1, word1 = 2
    val sparse = Seq.tabulate(64)(i => if (i == 0 || i == 33) 1.0 else -1.0)
    val rows = Seq((1L, allPos), (2L, allNeg), (3L, zeros), (4L, sparse))
      .toDF("id", "v")
    val got = rows.select(col("id"), Cosine.bqCodes(col("v"), 64).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(4294967295L, 4294967295L), got(1L).toString)
    assert(got(2L) == Seq(0L, 0L))
    assert(got(3L) == Seq(0L, 0L), "zero is NOT positive — strict >")
    assert(got(4L) == Seq(1L, 2L), got(4L).toString)
    // Hamming between all-positive and the sparse vector = 62 flipped
    val h = rows.filter(col("id") === 1L)
      .crossJoin(rows.filter(col("id") === 4L).select(col("v").as("v2")))
      .select(Cosine.bqHamming(Cosine.bqCodes(col("v"), 64),
        Cosine.bqCodes(col("v2"), 64)).as("h"))
      .head().getLong(0)
    assert(h == 62L, s"hamming $h")
  }

  test("corpus-covering shortlist makes the two-stage exact; stored == inline; guard fires") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val full = Cosine.bqTopK(queries, emb, "vec_id", "embedding",
        dim = 64, k = 5, kShort = 500)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    assert(full.collect().toSet == exact.collect().toSet,
      "corpus-covering BQ two-stage != exact topK")
    val dir = graft.TestDir("graft_bq")
    Cosine.writeBqIndex(emb, "vec_id", "embedding", 64, dir)
    val inline = Cosine.bqTopK(queries, emb, "vec_id", "embedding",
      dim = 64, k = 5, kShort = 20)
    val stored = Cosine.bqTopKStored(spark, queries, dir,
      "vec_id", "embedding", k = 5, kShort = 20)
    assert(stored.collect().toSet == inline.collect().toSet,
      "stored BQ search drifted from inline")
    assert(stored.count() > 0)
    // torn-artifact guard: rewrite one code word after commit on a
    // store that has never been OPENED in this process (validation runs
    // once per (dir, sidecar) — Artifact.open), then the
    // first open must refuse via the content fingerprint
    val dir2 = graft.TestDir("graft_bq_t")
    Cosine.writeBqIndex(emb, "vec_id", "embedding", 64, dir2)
    val codes = spark.read.parquet(s"$dir2/codes")
    codes.withColumn("bwords",
        when(col("vec_id") === 0L, array(lit(0L), lit(0L)))
          .otherwise(col("bwords")))
      .write.mode("overwrite").parquet(s"$dir2/codes2")
    // swap the stores on disk (overwrite-in-place of a read source fails)
    val p = java.nio.file.Paths.get(dir2)
    locally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p.resolve("codes"))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
    java.nio.file.Files.move(p.resolve("codes2"), p.resolve("codes"))
    val e = intercept[Exception] {
      Cosine.bqTopKStored(spark, queries, dir2, "vec_id", "embedding", k = 5)
    }
    assert(e.getMessage.contains("commit sidecar"), e.getMessage)
    emb.unpersist()
  }

  test("empty corpus writes a readable store; searches return zero rows") {
    val sp = spark; import sp.implicits._
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val dir = graft.TestDir("graft_bq_e")
    Cosine.writeBqIndex(empty, "vec_id", "embedding", 64, dir)
    val queries = Seq((1L, Seq.fill(64)(0.5))).toDF("vec_id", "embedding")
    assert(Cosine.bqTopKStored(sp, queries, dir,
      "vec_id", "embedding", k = 3).count() == 0)
  }
}
