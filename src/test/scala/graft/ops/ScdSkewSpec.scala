package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.sql.Timestamp

class ScdSpec extends SparkSpec {

  private def scd = {
    val sp = spark; import sp.implicits._
    Seq(
      ("a", 1.0, Timestamp.valueOf("2026-01-01 00:00:00")),
      ("a", 2.0, Timestamp.valueOf("2026-02-01 00:00:00")),
      ("a", 3.0, Timestamp.valueOf("2026-03-01 00:00:00")),
      ("b", 9.0, Timestamp.valueOf("2026-01-15 00:00:00")))
      .toDF("id", "v", "observed_at")
  }

  test("currentView keeps the latest version per key") {
    val out = Scd.currentView(scd, Seq("id"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 3.0, "b" -> 9.0))
  }

  test("asOf returns the version live at the timestamp") {
    val out = Scd.asOf(scd, Seq("id"), lit("2026-02-15").cast("timestamp"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out == Map("a" -> 2.0, "b" -> 9.0))
  }

  test("withValidity chains valid_from/valid_to intervals") {
    val out = Scd.withValidity(scd, Seq("id"))
      .filter(col("id") === "a").orderBy(col("observed_at"))
      .collect().map(r => Option(r.getAs[Timestamp]("valid_to")).map(_.toString))
    assert(out.toSeq == Seq(Some("2026-02-01 00:00:00.0"),
      Some("2026-03-01 00:00:00.0"), None))
  }
}
