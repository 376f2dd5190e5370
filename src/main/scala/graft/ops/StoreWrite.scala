package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Output-file sizing for the partitioned serving stores (optimization
  * guide §6: "small files hurt twice — listing/planning time on the driver
  * and per-file open overhead on executors"; the prescription is Iceberg's
  * hash `write.distribution-mode`, i.e. cluster rows by the partition key
  * before the partitioned write, at the cost of one shuffle).
  *
  * Without clustering, a `partitionBy(p)` write emits one file per
  * (upstream task × partition directory): measured on the sf0.01 BM25
  * artifact, 353 parquet files for 2.9 MB of postings (~8 KB/file) — every
  * later open of the store pays 353 footer reads and the probe-time
  * listing walks the same tree. Clustered, each directory's rows land in
  * exactly one task, so the store carries one file per directory (64 for
  * the BM25 tree), and the write itself creates 5-15× fewer files.
  *
  * Scale knob: hash-clustering by the partition key alone serializes each
  * directory into ONE write task — correct for the bucketed stores here
  * (keys are xxhash64-derived, so directories are uniform), but a 100 TB
  * store wants several writers (and files) per directory. `filesPerDir`
  * (session conf `spark.graft.store.filesPerDir`, default 1) adds a salt
  * derived from `saltCol` so each directory is written by up to that many
  * tasks/files; set it to ~(directory bytes / desired file size) in
  * production. The local default keeps the bench's stores one-file-per-dir,
  * which is also the fastest shape at test scale. */
object StoreWrite {
  val FilesPerDirConf = "spark.graft.store.filesPerDir"

  /** Cluster `rows` by the partition columns (plus a bounded salt when
    * `filesPerDir > 1`) so the following `partitionBy` write emits
    * `filesPerDir` files per directory instead of one per task×directory. */
  def clusterByDirs(rows: DataFrame, saltCol: Column,
                    partCols: Column*): DataFrame = {
    val raw = rows.sparkSession.conf.get(FilesPerDirConf, "1")
    val fpd = scala.util.Try(raw.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"$FilesPerDirConf must be an integer >= 1, got '$raw'"))
    require(fpd >= 1, s"$FilesPerDirConf must be >= 1, got $fpd")
    if (fpd == 1) rows.repartition(partCols: _*)
    else rows.repartition(partCols :+
      pmod(xxhash64(saltCol), lit(fpd.toLong)).as("__salt"): _*)
  }

  /** Overwrites `path` with `rows` partitioned by `parts` (directory
    * column → key expression), clustered by [[clusterByDirs]]. Zero rows
    * write unpartitioned instead: partitionBy writes no directories for
    * zero rows and the read-back would fail schema inference, while the
    * flat layout keeps the schema and readers degrade to an unpruned scan.
    * A caller whose `rows` lineage is expensive persists it around this
    * call (the emptiness probe and the write both evaluate it). */
  def partitioned(rows: DataFrame, path: String, saltCol: Column,
                  parts: (String, Column)*): Unit =
    if (rows.isEmpty) rows.write.mode("overwrite").parquet(path)
    else
      clusterByDirs(parts.foldLeft(rows) { case (df, (c, key)) => df.withColumn(c, key) },
          saltCol, parts.map(p => col(p._1)): _*)
        .write.mode("overwrite").partitionBy(parts.map(_._1): _*).parquet(path)
}
