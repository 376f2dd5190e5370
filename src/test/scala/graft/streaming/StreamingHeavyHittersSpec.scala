package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingHeavyHittersSpec extends SparkSpec {

  test("streaming MG summaries carry heavy keys across micro-batches") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val mem = MemoryStream[Long]
    val q = StreamingHeavyHitters.summaries(mem.toDS(), shards = 4, k = 8)
      .writeStream.format("memory").queryName("shh_out").outputMode("update").start()
    // batch 1: key 7 heavy, noise singletons
    mem.addData(Seq.fill(50)(7L) ++ (100L to 130L): _*)
    q.processAllAvailable()
    // batch 2: key 7 keeps arriving; key 9 becomes heavy
    mem.addData(Seq.fill(30)(7L) ++ Seq.fill(40)(9L) ++ (200L to 220L): _*)
    q.processAllAvailable()
    // latest row per (shard, h) — Update mode re-emits refreshed shards
    val latest = sp.sql(
      """SELECT h, max(cnt_lb) AS cnt FROM shh_out GROUP BY h""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    assert(latest.contains(7L) && latest.contains(9L), s"heavy keys lost: $latest")
    assert(latest(7L) <= 80L && latest(9L) <= 40L, s"counter exceeds truth: $latest")
    // cross-batch accumulation actually happened (state, not per-batch count)
    assert(latest(7L) > 50L, s"state did not accumulate across batches: $latest")
  }

  test("MG shard state survives a checkpointed restart and matches batch truth") {
    // The flatMapGroupsWithState recovery path (PriceStreamSpec proves it
    // for the file source; this proves the STATE store side): stop the
    // query after batch 1, restart from the same checkpoint, and verify
    // the counters seen after batch 2 reflect batch 1's mass — which can
    // only have come from recovered GroupState, since the restarted query
    // resumes from the committed offset and never re-reads batch 1.
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val chk = graft.TestDir.path("graft-shh-chk")
    try {
      val mem = MemoryStream[Long]
      // foreachBatch sink: the memory sink rejects checkpoint recovery
      // ("This query does not support recovering from checkpoint location")
      var emitted = Vector.empty[(Long, Long)] // (h, cnt_lb)
      def start() =
        StreamingHeavyHitters.summaries(mem.toDS(), shards = 2, k = 8)
          .writeStream.outputMode("update")
          .option("checkpointLocation", chk.toString)
          .foreachBatch {
            (df: org.apache.spark.sql.Dataset[StreamingHeavyHitters.ShardCounter],
             _: Long) =>
              emitted = emitted ++ df.collect().map(s => (s.h, s.cnt_lb))
          }.start()
      // noise spans both shards so the restarted run re-emits every shard
      val batch1 = Seq.fill(40)(7L) ++ (100L to 119L)
      val batch2 = Seq.fill(25)(7L) ++ Seq.fill(30)(9L) ++ (200L to 214L)
      val q1 = start()
      mem.addData(batch1: _*)
      q1.processAllAvailable()
      q1.stop()
      emitted = Vector.empty // isolate the restarted run's emissions
      val q2 = start()
      mem.addData(batch2: _*)
      q2.processAllAvailable()
      val latest = emitted.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      q2.stop()
      // batch 2 alone contributes ≤25 to key 7; >25 proves recovered state
      assert(latest(7L) > 25L, s"state lost across restart: $latest")
      // MG counters are lower bounds — never above the exact truth
      assert(latest(7L) <= 65L && latest(9L) <= 30L, s"counter exceeds truth: $latest")
      // batch t17 truth over the union of both batches: every key above
      // N/(k+1) survives both the batch summary and the streamed one
      val all = batch1 ++ batch2
      val batchHeavy = all.toDF("h")
        .agg(graft.plans.MisraGriesAgg.mgSummary(col("h"), 8)).head.getSeq[Row](0)
        .map(_.getLong(0)).toSet
      assert(batchHeavy.contains(7L) && batchHeavy.contains(9L))
      assert(latest.contains(7L) && latest.contains(9L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(chk.toFile)
  }

  test("streaming summaries agree with the batch operator's guarantee") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val next = seededInts(13L)
    val keys = (1 to 600).map { _ =>
      val r = next(100)
      if (r < 30) 1L else if (r < 50) 2L else (1000 + next(300)).toLong
    }
    val mem = MemoryStream[Long]
    val q = StreamingHeavyHitters.summaries(mem.toDS(), shards = 4, k = 16)
      .writeStream.format("memory").queryName("shh_par").outputMode("update").start()
    keys.grouped(150).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    val streamCand = sp.sql("SELECT DISTINCT h FROM shh_par")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    // batch MG over the same keys (k=16 per the whole corpus)
    val batchHeavy = keys.toDF("h")
      .agg(graft.plans.MisraGriesAgg.mgSummary(col("h"), 16)).head.getSeq[Row](0)
      .map(_.getLong(0)).toSet
    // the stream candidates must cover every key above n/(k+1) — here keys
    // 1 and 2 (~30% and ~20% of 600)
    assert(streamCand.contains(1L) && streamCand.contains(2L))
    assert(batchHeavy.contains(1L) && batchHeavy.contains(2L))
  }
}
