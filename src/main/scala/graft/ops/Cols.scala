package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column helpers shared by the operator library.
  *
  * Money math goes through DecimalType so that results are EXACT and
  * therefore independent of partial-aggregation order — a requirement both
  * for cross-engine (DuckDB oracle) reproducibility and for deterministic
  * results on a 1000-executor cluster where partition merge order is
  * arbitrary. Final results are cast back to double.
  */
object Cols {
  /** (1 - discount) as exact decimal. */
  def oneMinus(c: Column): Column = lit(1).cast(DecimalType(3, 2)) - c.cast(DecimalType(3, 2))

  /** Exact money sum, returned as double: SUM(decimal) is order-insensitive,
    * the single final cast is deterministic. */
  def moneySum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Exact revenue sum: SUM(price * (1-discount)) in decimal, cast to double. */
  def revenueSum(price: Column, discount: Column): Column =
    sum(price.cast(DecimalType(18, 2)) * oneMinus(discount)).cast("double")

  /** Hourly → monthly price (reference `utils.py:13-14`: 730 h/month). */
  val HoursPerMonth = 730
  /** GiB → GB (reference `utils.py:16-17`). */
  val GibToGb = 1.073741824
  /** MiB → MB (reference `utils.py:19-20`). */
  val MibToMb = 1.048576
}
