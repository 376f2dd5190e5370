package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The cross-snapshot dedup index survives storage: a snapshot's band
  * index written to parquet and read back yields decision-identical
  * results to the fresh computation — the configuration the scale story
  * promises ("dedup a daily batch against the stored index without
  * touching the snapshot's text again"). */
class IndexRoundTripSpec extends SparkSpec {

  test("parquet round trip of the snapshot index is decision-identical") {
    val sp = spark; import sp.implicits._
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "an entirely different sentence about catalyst plans and shuffles here"),
      (3L, "one more unrelated document talking about parquet files and buckets"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank forever"),
      (11L, "novel content with no counterpart in the prior snapshot whatsoever"))
      .toDF("doc_id", "text")

    val fresh = MinHash.nearDuplicatesAgainst(batch, old, "doc_id", "text",
      n = 2, threshold = 0.5).orderBy("id_new", "id_old").collect().toSeq
    assert(fresh.nonEmpty, "fixture must produce at least one cross-snapshot dup")

    val dir = graft.TestDir("graft_idx")
    try {
      val sharr = MinHash.hashedShingleArray(old, "doc_id", "text", 2)
      MinHash.snapshotIndex(sharr, "doc_id").write.mode("overwrite").parquet(dir)
      // a new session day: only the stored index is available
      val stored = spark.read.parquet(dir)
      val viaIndex = MinHash.nearDuplicatesAgainstIndex(batch, stored,
        "doc_id", "text", n = 2, threshold = 0.5)
        .orderBy("id_new", "id_old").collect().toSeq
      assert(viaIndex == fresh, s"stored-index path diverged: $viaIndex vs $fresh")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("appendToSnapshotIndex on a parquet-stored index == fresh full index") {
    val sp = spark; import sp.implicits._
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "an entirely different sentence about catalyst plans and shuffles here"))
      .toDF("doc_id", "text")
    val wave2 = Seq(
      (3L, "one more unrelated document talking about parquet files and buckets"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank soon"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank forever"),
      (11L, "one more unrelated document talking about parquet files and pails"))
      .toDF("doc_id", "text")
    val dir = graft.TestDir("graft_idx_app")
    try {
      MinHash.snapshotIndex(MinHash.hashedShingleArray(old, "doc_id", "text", 2),
        "doc_id").write.mode("overwrite").parquet(dir)
      // wave 2 finalizes: fold it into the STORED index, old never re-read
      val appended = MinHash.appendToSnapshotIndex(
        MinHash.hashedShingleArray(wave2, "doc_id", "text", 2),
        spark.read.parquet(dir), "doc_id")
      val viaAppend = MinHash.nearDuplicatesAgainstIndex(batch, appended,
        "doc_id", "text", n = 2, threshold = 0.5)
        .orderBy("id_new", "id_old").collect().toSeq
      val fresh = MinHash.nearDuplicatesAgainst(batch, old.unionByName(wave2),
        "doc_id", "text", n = 2, threshold = 0.5)
        .orderBy("id_new", "id_old").collect().toSeq
      assert(viaAppend == fresh, s"append diverged: $viaAppend vs $fresh")
      // the batch matches docs from BOTH waves — the append really
      // contributed index rows
      val olds = viaAppend.map(_.getLong(1)).toSet
      assert(olds.exists(_ <= 2) && olds.exists(o => o == 3L || o == 4L),
        s"append not exercised: matched olds $olds")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("deleteFromSnapshotIndex == index built without the deleted docs") {
    val sp = spark; import sp.implicits._
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank soon"),
      (3L, "one more unrelated document talking about parquet files and buckets"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank forever"))
      .toDF("doc_id", "text")
    val idx = MinHash.snapshotIndex(
      MinHash.hashedShingleArray(old, "doc_id", "text", 2), "doc_id")
    // tombstone doc 2 (one of the batch's matches); 999 is absent (ignored)
    val afterDel = MinHash.deleteFromSnapshotIndex(
      Seq(2L, 999L).toDF("doc_id"), idx, "doc_id")
    val got = MinHash.nearDuplicatesAgainstIndex(batch, afterDel,
      "doc_id", "text", n = 2, threshold = 0.5)
      .orderBy("id_new", "id_old").collect().toSeq
    val want = MinHash.nearDuplicatesAgainst(batch,
      old.filter(col("doc_id") =!= 2L), "doc_id", "text", n = 2, threshold = 0.5)
      .orderBy("id_new", "id_old").collect().toSeq
    assert(got == want, s"delete diverged: $got vs $want")
    assert(got.nonEmpty && !got.exists(_.getLong(1) == 2L))
    // delete + append re-indexes a changed doc (the documented contract)
    val newText = Seq((2L, "totally rewritten article on container formats"))
      .toDF("doc_id", "text")
    val reIdx = MinHash.appendToSnapshotIndex(
      MinHash.hashedShingleArray(newText, "doc_id", "text", 2), afterDel, "doc_id")
    val got2 = MinHash.nearDuplicatesAgainstIndex(batch, reIdx,
      "doc_id", "text", n = 2, threshold = 0.5)
      .orderBy("id_new", "id_old").collect().toSeq
    val want2 = MinHash.nearDuplicatesAgainst(batch,
      old.filter(col("doc_id") =!= 2L).unionByName(newText),
      "doc_id", "text", n = 2, threshold = 0.5)
      .orderBy("id_new", "id_old").collect().toSeq
    assert(got2 == want2, s"delete+append diverged: $got2 vs $want2")
  }

  test("IVF centroid table round-trips through parquet: assignment identical") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = graft.similarity.Cosine.cellCentroidsSorted(emb, "label", "embedding")
    val fresh = graft.similarity.Cosine.assignToCentroids(
      emb, "vec_id", "embedding", cents, "label").orderBy("vec_id").collect().toSeq
    assert(fresh.nonEmpty)
    val dir = graft.TestDir("graft_ivf")
    try {
      cents.write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val viaStore = graft.similarity.Cosine.assignToCentroids(
        emb, "vec_id", "embedding", stored, "label").orderBy("vec_id").collect().toSeq
      assert(viaStore == fresh, "stored-centroid assignment diverged")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
