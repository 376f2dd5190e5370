package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Torn-artifact guard sampler for partitioned stores: ONE row from EACH
  * `partCol=value` directory, read as independent limit(1) scans — a
  * partial in-place rewrite can re-bucket some directories and not
  * others, so a single unordered sample can land in an already-correct
  * directory and wave the torn remainder through, while a groupBy over
  * the whole store pays a first-probe scan proportional to STORE size.
  * This sampler's cost is bounded by directory count (≤ the pinned
  * modulus): each limit(1) stops at the first row of one row group.
  * Directory values are the raw `partCol=` suffixes (the guards use
  * integer bucket keys, never escaped strings). Empty directories
  * contribute nothing.
  *
  * The per-directory scans are INDEPENDENT Spark jobs, so they run from a
  * small driver thread pool (optimization guide §2.6 "overlap independent
  * jobs"): sequentially, a 64-directory tree paid 64 × (listing + footer
  * + job latency) ≈ seconds of first-probe wall; overlapped, the
  * validation costs ~latency of the slowest scan. Result order stays the
  * directory-listing order (futures are collected in input order). */
object PartitionSample {

  private def overlapped[A, B](xs: Seq[A])(f: A => Seq[B]): Seq[B] =
    Overlap.map(xs)(f).flatten

  def firstRows(spark: SparkSession, base: String, partCol: String)(
      project: DataFrame => DataFrame): Seq[(String, Row)] = {
    val bp = new org.apache.hadoop.fs.Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(bp)) Nil
    else {
      val dirs = fs.listStatus(bp).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      overlapped(dirs) { st =>
        val v = st.getPath.getName.drop(partCol.length + 1)
        project(ParquetOpen(spark, st.getPath.toString)).limit(1).collect()
          .headOption.map(v -> _).toSeq
      }
    }
  }

  /** Two-level variant for `outer=/inner=` trees (the RepIndex
    * (band, pbucket) layout): one row from EACH leaf directory, returned
    * as (outerValue, innerValue, row). Cost is bounded by the leaf
    * directory count — bandCount × modulus for the band trees, both
    * pinned constants — never by store size. Leaf scans across ALL outer
    * directories share one overlapped batch. */
  def firstRowsNested(spark: SparkSession, base: String, outerCol: String,
                      innerCol: String)(
      project: DataFrame => DataFrame): Seq[(String, String, Row)] = {
    val bp = new org.apache.hadoop.fs.Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(bp)) Nil
    else {
      val leaves = for {
        outer <- fs.listStatus(bp).toSeq
        if outer.isDirectory && outer.getPath.getName.startsWith(outerCol + "=")
        inner <- fs.listStatus(outer.getPath).toSeq
        if inner.isDirectory && inner.getPath.getName.startsWith(innerCol + "=")
      } yield (outer.getPath.getName.drop(outerCol.length + 1),
        inner.getPath.getName.drop(innerCol.length + 1), inner.getPath)
      overlapped(leaves) { case (ov, iv, path) =>
        project(ParquetOpen(spark, path.toString)).limit(1).collect()
          .headOption.map(r => (ov, iv, r)).toSeq
      }
    }
  }
}
