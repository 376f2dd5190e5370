package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Torn-artifact guard sampler for partitioned stores ([[Artifact.guard]]):
  * ONE row from EACH leaf directory of a `c1=v1/…/cn=vn` tree, read as
  * independent limit(1) scans. A partial in-place rewrite can re-bucket
  * some directories and not others, so a single unordered sample can
  * land in an already-correct directory and wave the torn remainder
  * through, while a groupBy over the whole store pays a first-probe scan
  * proportional to STORE size. This sampler's cost is bounded by the
  * leaf count (a product of pinned moduli for the guarded trees): each
  * limit(1) stops at the first row of one row group. Directory values
  * are the raw `c=` suffixes (the guards use integer bucket keys, never
  * escaped strings). Empty directories contribute nothing.
  *
  * The per-directory scans are INDEPENDENT Spark jobs, so they run from a
  * small driver thread pool ([[Overlap]]): sequentially, a 64-directory
  * tree paid 64 × (listing + footer + job latency) ≈ seconds of
  * first-probe wall; overlapped, the validation costs ~latency of the
  * slowest scan. Result order stays the directory-listing order. */
object PartitionSample {

  /** (v1…vn, first row) per leaf directory under `base`, walking one
    * level per `partCols` entry; no `partCols` samples `base` itself. */
  def firstRows(spark: SparkSession, base: String, partCols: Seq[String])(
      project: DataFrame => DataFrame): Seq[(Seq[String], Row)] = {
    val bp = new Path(base)
    val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(dir: Path, cols: Seq[String], vals: Seq[String]): Seq[(Seq[String], Path)] =
      cols match {
        case Seq() => Seq(vals -> dir)
        case c +: rest => fs.listStatus(dir).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(c + "="))
          .flatMap(st => leaves(st.getPath, rest,
            vals :+ st.getPath.getName.drop(c.length + 1)))
      }
    if (!fs.exists(bp)) Nil
    else Overlap.map(leaves(bp, partCols, Vector.empty)) { case (vals, path) =>
      project(ParquetOpen(spark, path.toString)).limit(1).collect()
        .headOption.map(vals -> _).toSeq
    }.flatten
  }
}
