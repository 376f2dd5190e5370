package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingBlockDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("streaming block decisions equal the batch c8 keep set on real docs") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val docs = graft.Tables.documents(spark, dir).limit(120)
      .select(col("doc_id"), col("text")).as[StreamingDedup.Doc]
      .collect().sortBy(_.doc_id)
    // batch truth: which (doc_id, chunk_idx) survive blockDedup
    val b = graft.text.TextAnalysis
      .chunkWindows(docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", 20, 20)
    val winners = b.groupBy(col("chunk")).agg(min(struct(col("doc_id"),
      col("chunk_idx"))).as("w"))
    val expected = b.join(winners, "chunk")
      .select(col("doc_id"), col("chunk_idx"),
        (col("doc_id") === col("w.doc_id")
          && col("chunk_idx") === col("w.chunk_idx")).as("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // stream the same docs in doc_id order, two micro-batches
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.blockDecisions(mem.toDS(), 20)
      .writeStream.format("memory").queryName("sbd_parity").outputMode("append").start()
    val (first, second) = docs.splitAt(60)
    mem.addData(first.toIndexedSeq: _*); q.processAllAvailable()
    mem.addData(second.toIndexedSeq: _*); q.processAllAvailable()
    val got = sp.sql("SELECT * FROM sbd_parity")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    q.stop()
    assert(got == expected, s"diff=${(got diff expected) ++ (expected diff got)}")
    assert(got.exists(!_._3), "fixture produced no duplicate blocks — vacuous")
  }

  test("seeded initial state reproduces the batch incremental (c9) decisions") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val docs = graft.Tables.documents(spark, dir)
    val old = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0).limit(80)
      .select(col("doc_id"), col("text")).as[StreamingDedup.Doc]
      .collect().sortBy(_.doc_id)
    // batch truth: blockDedupAgainst's kept count per doc
    val expected = graft.text.TextAnalysis.blockDedupAgainst(
        batch.toSeq.toDF("doc_id", "text"),
        graft.text.TextAnalysis.blockIndex(old, "doc_id", "text", 20,
          hashKeys = false).withColumnRenamed("bkey", "bkey"),
        "doc_id", "text", 20, hashKeys = false)
      .select(col("doc_id"), col("n_kept"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seedKeys = graft.text.TextAnalysis.blockIndex(old, "doc_id", "text", 20,
      hashKeys = false).select(col("bkey")).as[String]
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.blockDecisions(mem.toDS(), 20, Some(seedKeys))
      .writeStream.format("memory").queryName("sbd_seeded").outputMode("append").start()
    mem.addData(batch.toIndexedSeq: _*)
    q.processAllAvailable()
    val got = sp.sql(
        "SELECT doc_id, sum(CASE WHEN keep THEN 1 ELSE 0 END) FROM sbd_seeded GROUP BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    assert(got == expected)
    assert(expected.values.sum < got.keys.size * 3, "seed removed nothing — vacuous")
  }

  test("block state survives a checkpointed restart") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    // the memory sink can't recover a checkpoint — collect via foreachBatch,
    // same shape as the LSH restart test
    val chk = graft.TestDir.path("sbd_chk")
    try {
      val mem = MemoryStream[StreamingDedup.Doc]
      var emitted = Vector.empty[(Long, Long, Boolean)]
      def start() = StreamingDedup.blockDecisions(mem.toDS(), 3)
        .writeStream.outputMode("append")
        .option("checkpointLocation", chk.toString)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingDedup.BlockDecision], _: Long) =>
            emitted = emitted ++ df.collect().map(d => (d.doc_id, d.block_idx, d.keep))
        }.start()
      val q1 = start()
      mem.addData(StreamingDedup.Doc(1L, "a b c d e f"))
      q1.processAllAvailable(); q1.stop()
      emitted = Vector.empty // isolate the restarted run
      val q2 = start()
      // same first block as doc 1 — the restarted query must remember it
      mem.addData(StreamingDedup.Doc(2L, "a b c x y z"))
      q2.processAllAvailable(); q2.stop()
      assert(emitted.contains((2L, 0L, false)), s"state lost across restart: $emitted")
      assert(emitted.contains((2L, 1L, true)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(chk.toFile)
  }
}
