package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

class PriceStreamSpec extends SparkSpec {

  private def ts(m: Int) = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")

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
}
