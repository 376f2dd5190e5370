package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class PriceStreamSpec extends SparkSpec {

  private def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

  test("watermarked dedup drops duplicate (key, ts) observations") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val mem = MemoryStream[PriceStream.PriceObs]
    val q = PriceStream.dedupedObservations(mem.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    mem.addData(
      PriceStream.PriceObs("a", ts(1), 1.0),
      PriceStream.PriceObs("a", ts(1), 1.0), // duplicate
      PriceStream.PriceObs("a", ts(2), 2.0))
    q.processAllAvailable()
    val out = sp.sql("SELECT * FROM dedup_out").collect()
    q.stop()
    assert(out.length == 2)
  }

  test("windowed stats aggregate per tumbling window") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val mem = MemoryStream[PriceStream.PriceObs]
    val q = PriceStream.windowedStats(mem.toDF(), windowLen = "5 minutes").writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    mem.addData(
      PriceStream.PriceObs("a", ts(1), 1.0),
      PriceStream.PriceObs("a", ts(2), 3.0),
      PriceStream.PriceObs("a", ts(7), 10.0))
    q.processAllAvailable()
    val out = sp.sql("SELECT * FROM win_out ORDER BY window_start").collect()
    q.stop()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("min_price") == 1.0)
    assert(out(0).getAs[Double]("max_price") == 3.0)
    assert(out(0).getAs[Long]("n_obs") == 2L)
    assert(out(1).getAs[Double]("max_price") == 10.0)
  }

  test("flatMapGroupsWithState emits only price changes across batches") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val mem = MemoryStream[PriceStream.PriceObs]
    val q = PriceStream.priceChanges(mem.toDS()).writeStream
      .format("memory").queryName("chg_out").outputMode("append").start()
    mem.addData(
      PriceStream.PriceObs("a", ts(1), 1.0),
      PriceStream.PriceObs("a", ts(2), 1.0), // unchanged → suppressed
      PriceStream.PriceObs("a", ts(3), 2.0))
    q.processAllAvailable()
    mem.addData(
      PriceStream.PriceObs("a", ts(4), 2.0), // still unchanged across batch
      PriceStream.PriceObs("a", ts(5), 3.0))
    q.processAllAvailable()
    val out = sp.sql("SELECT * FROM chg_out ORDER BY ts").collect()
      .map(r => (r.getAs[Double]("price"), Option(r.getAs[Double]("prevPrice"))))
    q.stop()
    assert(out.length == 3)
    assert(out.map(_._1).toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("stream-static join enriches observations with dimension attributes") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val dim = Seq(("a", "us-east-1"), ("b", "eu-west-1")).toDF("key", "region")
    val mem = MemoryStream[PriceStream.PriceObs]
    val q = PriceStream.enriched(mem.toDF(), dim, "key").writeStream
      .format("memory").queryName("enriched_out").outputMode("append").start()
    mem.addData(PriceStream.PriceObs("a", ts(1), 1.0),
      PriceStream.PriceObs("z", ts(2), 2.0)) // no dim row -> null region
    q.processAllAvailable()
    val out = sp.sql("SELECT key, region FROM enriched_out ORDER BY key").collect()
      .map(r => r.getString(0) -> Option(r.getString(1)))
    q.stop()
    assert(out.toSeq == Seq("a" -> Some("us-east-1"), "z" -> None))
  }

  test("foreachBatch scd merge dedups within batch before writing") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val mem = MemoryStream[PriceStream.PriceObs]
    var written = Seq.empty[(String, Double)]
    val q = PriceStream.scdMergeWriter(mem.toDF(), Seq("key"), "ts") { batch =>
      written = written ++ batch.collect().map(r =>
        (r.getAs[String]("key"), r.getAs[Double]("price")))
    }.start()
    mem.addData(
      PriceStream.PriceObs("a", ts(1), 1.0),
      PriceStream.PriceObs("a", ts(2), 5.0), // keep-last wins
      PriceStream.PriceObs("b", ts(1), 7.0))
    q.processAllAvailable()
    q.stop()
    assert(written.toSet == Set("a" -> 5.0, "b" -> 7.0))
  }

  test("file-source stream resumes exactly-once from its checkpoint") {
    val sp = spark; import sp.implicits._
    val src = graft.TestDir.path("graft-stream-src")
    val chk = graft.TestDir.path("graft-stream-chk")
    val out = graft.TestDir.path("graft-stream-out")
    try {
      def runOnce(): Unit = {
        val q = sp.readStream.schema("key STRING, price DOUBLE")
          .parquet(src.toString)
          .writeStream.format("parquet")
          .option("path", out.toString)
          .option("checkpointLocation", chk.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Seq(("a", 1.0)).toDF("key", "price").write.mode("append").parquet(src.toString)
      runOnce()
      Seq(("b", 2.0)).toDF("key", "price").write.mode("append").parquet(src.toString)
      runOnce() // restart from checkpoint: must process ONLY the new file
      val rows = sp.read.parquet(out.toString)
        .as[(String, Double)].collect().toSet
      assert(rows == Set(("a", 1.0), ("b", 2.0))) // a duplicated ⇒ replayed old input
    } finally Seq(src, chk, out).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
  }

  test("session windows merge observations within the gap, split beyond it") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val mem = MemoryStream[PriceStream.PriceObs]
    val q = PriceStream.sessionized(mem.toDF(), gap = "5 minutes").writeStream
      .format("memory").queryName("sess_out").outputMode("complete").start()
    mem.addData(
      PriceStream.PriceObs("a", ts(1), 1.0),
      PriceStream.PriceObs("a", ts(3), 2.0),  // <5 min after ts(1) → same session
      PriceStream.PriceObs("a", ts(20), 9.0), // >5 min gap → new session
      PriceStream.PriceObs("b", ts(2), 4.0))
    q.processAllAvailable()
    val out = sp.sql("SELECT * FROM sess_out ORDER BY key, session_start").collect()
    q.stop()
    assert(out.length == 3) // a×2 sessions + b×1
    assert(out(0).getAs[Long]("n_obs") == 2L)
    assert(out(0).getAs[Double]("max_price") == 2.0)
    assert(out(1).getAs[Long]("n_obs") == 1L)
    assert(out(1).getAs[Double]("min_price") == 9.0)
  }

  test("stream-stream interval join pairs prices with events within tolerance") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val prices = MemoryStream[PriceStream.PriceObs]
    case class Ev(key: String, ets: Timestamp, status: String)
    val events = MemoryStream[(String, Timestamp, String)]
    val evDf = events.toDF().toDF("key", "ets", "status")
    val q = PriceStream.withRecentEvents(prices.toDF(), evDf,
        tolerance = "5 minutes").writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    events.addData(
      ("a", ts(1), "up"),
      ("a", ts(30), "down"), // after the observation → excluded (ets <= ts)
      ("b", ts(2), "up"))    // other key
    prices.addData(PriceStream.PriceObs("a", ts(3), 1.5))
    q.processAllAvailable()
    // advance both watermarks so joined rows are finalized in append mode
    events.addData(("z", ts(59), "up"))
    prices.addData(PriceStream.PriceObs("z", ts(59), 0.0))
    q.processAllAvailable()
    val out = sp.sql("SELECT key, status FROM ssj_out WHERE key = 'a'").collect()
      .map(r => (r.getString(0), r.getString(1)))
    q.stop()
    assert(out.toSeq == Seq(("a", "up"))) // only the in-window, same-key event
  }
}
