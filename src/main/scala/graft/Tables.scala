package graft

import graft.ops.ParquetOpen
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-harness table loader (TESTDATA.md): TPC-H-ish star schema plus
  * `events` (stream-shaped), `documents` / `embeddings` (training-data ops).
  *
  * At 100 TB these reads stay valid: parquet scans with pushed filters and
  * pruned columns (Catalyst does both as long as queries stay declarative);
  * the per-table helpers exist so every query funnels through one place
  * where bucketing / sorting metadata could be attached later.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    ParquetOpen(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** `events.parquet` stores TIMESTAMP(NANOS), which Spark 4 refuses by
    * default. Read nanos as long (legacy conf, runtime-settable; it must
    * stay set for the scan too, so it is set on the session) and convert
    * to a microsecond TimestampType column — the generator's values are
    * µs-grained, so the conversion is lossless. The open is
    * [[graft.ops.ParquetOpen]]'s, whose memo keys on the conf. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(spark, dir, "events")
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // integer DIV: `/` on longs promotes to double and loses µs precision
      df.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
    else df
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    spread(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spread(spark, dir, "embeddings")

  /** A small table arrives as ONE input split, so heavy per-row compute
    * downstream (shingling, per-shingle md5, dot products) runs in a single
    * task no matter how many cores exist — at sf0.1 that made every dedup
    * query pay ~7 s of single-threaded hashing. Spread the scan to
    * defaultParallelism when it has fewer partitions; at 100 TB inputs have
    * thousands of row groups and this is a no-op (no shuffle). Row order is
    * never load-bearing here: every oracle-gated query ends in a total
    * ORDER BY, and ordered dedup derives order from data columns. The
    * split count is remembered with the table's schema, so a repeat open
    * does not plan the scan. */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (df, splits) = ParquetOpen.withSplits(spark, s"$dir/$name.parquet")
    val target = spark.sparkContext.defaultParallelism
    if (splits < target) df.repartition(target) else df
  }
}
