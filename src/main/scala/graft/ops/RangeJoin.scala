package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalable point-in-interval range join. A naive `p >= lo && p < hi`
  * join has no equi-key, so Spark plans BroadcastNestedLoopJoin —
  * O(|points|·|intervals|) comparisons and a broadcast of a whole side.
  * Binning restores an equi-join: every interval is exploded onto the
  * fixed-width bins it overlaps, every point hashes to exactly one bin,
  * and the join runs on the bin key with the exact predicate as a
  * post-filter. Work becomes O(|points| + |intervals|·spans + |matches|),
  * shuffled by bin — the standard geospatial/interval trick, and each
  * (point, interval) pair can match at most once (the point's single bin),
  * so no dedup is needed.
  *
  * `binWidth` tunes replication: ≈ the median interval width keeps the
  * per-interval span at 1-2 bins. Pathologically wide intervals replicate
  * across many bins — cap them upstream or pick a coarser width.
  */
object RangeJoin {

  /** Inner join of points to the intervals containing them
    * (`lo <= point < hi`). All columns from both frames survive. */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
                      pointCol: String, loCol: String, hiCol: String,
                      binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    val pb = points.withColumn("__bin",
      floor(col(pointCol) / binWidth).cast("long"))
    val ib = intervals.withColumn("__bin", explode(sequence(
      floor(col(loCol) / binWidth).cast("long"),
      floor(col(hiCol) / binWidth).cast("long"))))
    pb.join(ib, Seq("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bin")
  }
}
