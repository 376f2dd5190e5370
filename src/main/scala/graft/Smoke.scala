package graft

import org.apache.spark.sql.SparkSession

/** Local stand-in for the driver's t1 smoke: builds a bare session (no
  * graft-specific confs, like the driver would) and checks
  * `SparkEntry.entry` returns rows. The one entry point that does not go
  * through [[Harness.session]], on purpose: it catches code that only
  * works because the harness sets a session conf. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE entry rows=$n ${if (n > 0) "OK" else "FAIL"}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
