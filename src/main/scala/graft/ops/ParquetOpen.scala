package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one way the program opens parquet input. A plain read runs a
  * Spark job to infer the schema on every call, even when the input has
  * not changed. Here the first open of a path infers exactly as a plain
  * read does; later opens in the session read with the remembered
  * schema: no job, and the same columns, order, partition-column types
  * and rows.
  *
  * The memo is keyed by the paths, the session confs that change
  * inference, and a write stamp per path (length and mtime, plus the
  * `_SUCCESS` marker's mtime for a directory), so any Spark write to a
  * path (overwrite, append, `partitionBy` or flat) infers again. A change
  * below the top directory that rewrites no marker (a partition directory
  * renamed by hand) keeps the remembered schema; the file listing, and so
  * the rows, is always fresh. A path whose status cannot be read
  * (missing, a glob) is opened plainly and fails or resolves as a plain
  * read does. Values are schemas and split counts, never frames, and
  * sessions are weak keys, so a dropped session's entries go with it. */
object ParquetOpen {

  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** The inputs of `FilePartition.maxSplitBytes` besides file sizes. */
  private val SplitConfs = Seq(
    "spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes",
    "spark.sql.files.minPartitionNum", "spark.sql.files.maxPartitionNum",
    "spark.sql.leafNodeDefaultParallelism")

  /** (paths, pinned column types, inference confs). */
  private type Key = (Seq[String], Seq[(String, DataType)], Seq[String])

  /** One inference's schema, valid while `stamps` hold, and the scan's
    * split count per (defaultParallelism +: split confs). */
  private final class Entry(val stamps: Seq[Long], val schema: StructType) {
    val splits = new ConcurrentHashMap[Seq[String], Integer]()
  }

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, Entry]]())

  /** Opens `paths` as one parquet scan. */
  def apply(spark: SparkSession, paths: String*): DataFrame =
    open(spark, paths, Nil)._1

  /** Opens `path` with `column`, where present, re-typed to `to` (a
    * partition column inference would make int that the store keys by
    * string). The memo holds the re-typed schema: one read per repeat. */
  def pinned(spark: SparkSession, path: String, column: String,
             to: DataType): DataFrame =
    open(spark, Seq(path), Seq(column -> to))._1

  /** Opens `path` with the number of input splits its scan plans to,
    * remembered with the schema so a repeat open does not plan the scan. */
  def withSplits(spark: SparkSession, path: String): (DataFrame, Int) = {
    val (df, entry) = open(spark, Seq(path), Nil)
    val key = spark.sparkContext.defaultParallelism.toString +: SplitConfs.map(conf(spark, _))
    (df, entry.fold(df.rdd.getNumPartitions)(
      _.splits.computeIfAbsent(key, _ => Int.box(df.rdd.getNumPartitions)).intValue))
  }

  /** Sessions the memo holds entries for. */
  private[graft] def sessionsHeld: Int = memo.size()

  private def conf(spark: SparkSession, key: String): String =
    spark.conf.getOption(key).getOrElse("")

  /** Taken before inference, so a write racing the first open leaves a
    * stale stamp, which only makes the next open infer again. */
  private def stamps(spark: SparkSession, paths: Seq[String]): Option[Seq[Long]] =
    try Some(paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(path)
      val marker =
        if (!st.isDirectory) 0L
        else try fs.getFileStatus(new Path(path, "_SUCCESS")).getModificationTime
        catch { case _: java.io.FileNotFoundException => -1L }
      Seq(st.getLen, st.getModificationTime, marker)
    }) catch { case NonFatal(_) => None }

  private def open(spark: SparkSession, paths: Seq[String],
                   pins: Seq[(String, DataType)]): (DataFrame, Option[Entry]) = {
    def inferred(): (DataFrame, StructType) = {
      val df = spark.read.parquet(paths: _*)
      val schema = StructType(df.schema.map(f =>
        pins.collectFirst { case (f.name, t) => f.copy(dataType = t) }.getOrElse(f)))
      (if (schema == df.schema) df else spark.read.schema(schema).parquet(paths: _*), schema)
    }
    stamps(spark, paths) match {
      case None => (inferred()._1, None)
      case Some(st) =>
        val entries = memo.computeIfAbsent(spark, _ => new ConcurrentHashMap[Key, Entry]())
        val key: Key = (paths.toList, pins.toList, InferenceConfs.map(conf(spark, _)))
        Option(entries.get(key)).filter(_.stamps == st) match {
          case Some(hit) => (spark.read.schema(hit.schema).parquet(paths: _*), Some(hit))
          case None =>
            val (df, schema) = inferred()
            val e = new Entry(st, schema)
            entries.put(key, e)
            (df, Some(e))
        }
    }
  }
}
