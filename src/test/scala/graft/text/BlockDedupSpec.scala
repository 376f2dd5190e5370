package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BlockDedupSpec extends SparkSpec {

  test("repeated blocks are cut, first occurrence wins, docs reassemble") {
    val sp = spark; import sp.implicits._
    // blockSize=3: doc1 = [A][B], doc2 = [A][C] (A repeats -> cut),
    // doc3 = [A][B] (everything repeats -> empty)
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c d e f")).toDF("doc_id", "text")
    val out = TextAnalysis.blockDedup(docs, "doc_id", "text", blockSize = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 2L, 2L, "a b c d e f")))
    assert(out(1) == ((2L, 2L, 1L, "x y z")))
    assert(out(2) == ((3L, 2L, 0L, "")))
  }

  test("a partial trailing block dedups like any other") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "p q r s"),   // blocks [p q r][s]
      (2L, "s"),         // block [s] repeats doc1's tail -> cut
      (3L, "p q")).toDF("doc_id", "text") // partial [p q] is unique -> kept
    val out = TextAnalysis.blockDedup(docs, "doc_id", "text", blockSize = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 2L, "p q r s")))
    assert(out(1) == ((2L, 0L, "")))
    assert(out(2) == ((3L, 1L, "p q")))
  }

  test("incremental dedup against a stored index equals the unioned run") {
    val sp = spark; import sp.implicits._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // snapshot = low ids, batch = high ids, so in the unioned run every
    // snapshot occurrence precedes every batch occurrence — the exact
    // precondition blockDedupAgainst encodes
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val idx = TextAnalysis.blockIndex(old, "doc_id", "text", 20)
    // parquet round trip: decisions must be identical from the stored form
    val dir = graft.TestDir("blockidx")
    idx.write.mode("overwrite").parquet(dir)
    val stored = spark.read.parquet(dir)
    val incremental = TextAnalysis.blockDedupAgainst(batch, stored,
      "doc_id", "text", 20).orderBy("doc_id")
    val unioned = TextAnalysis.blockDedup(old.unionByName(batch),
        "doc_id", "text", 20)
      .filter(col("doc_id") >= 1000000L).orderBy("doc_id")
    assert(incremental.exceptAll(unioned).isEmpty
      && unioned.exceptAll(incremental).isEmpty)
    // non-vacuous: the batch loses some blocks to the snapshot
    assert(incremental.filter(col("n_kept") < col("n_blocks")).count() > 0)
  }

  test("bloom-prefiltered incremental dedup is exactly the plain path") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val idx = TextAnalysis.blockIndex(old, "doc_id", "text", 20)
    val plain = TextAnalysis.blockDedupAgainst(batch, idx, "doc_id", "text", 20)
    val bloom = TextAnalysis.blockDedupAgainstBloom(batch, idx, "doc_id", "text", 20)
    assert(bloom.exceptAll(plain).isEmpty && plain.exceptAll(bloom).isEmpty)
    // a DELIBERATELY undersized filter (64 bits for thousands of keys ->
    // near-every probe is a false positive) must still be exact: the
    // confirm join removes every fp
    val tiny = TextAnalysis.blockDedupAgainstBloom(batch, idx, "doc_id", "text",
      20, numBits = 64, numHashes = 2)
    assert(tiny.exceptAll(plain).isEmpty && plain.exceptAll(tiny).isEmpty)
  }

  test("xxhash64 block keys are row-identical to string keys (d9 pattern)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val byHash = TextAnalysis.blockDedup(docs, "doc_id", "text", 20,
      hashKeys = true).orderBy("doc_id")
    val byString = TextAnalysis.blockDedup(docs, "doc_id", "text", 20,
      hashKeys = false).orderBy("doc_id")
    assert(byHash.exceptAll(byString).isEmpty && byString.exceptAll(byHash).isEmpty)
    // the gate corpus is non-vacuous: some block actually repeats
    assert(byHash.filter(col("n_kept") < col("n_blocks")).count() > 0,
      "no duplicate blocks in the fixture corpus — gate is vacuous")
  }
}
