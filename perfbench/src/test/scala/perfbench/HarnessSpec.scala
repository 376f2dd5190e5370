package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "3").config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fp(df: org.apache.spark.sql.DataFrame) =
    Fingerprint.of(df.queryExecution.toRdd, df.schema)

  private def rows = spark.range(0, 500).select(
    col("id"), (col("id") % 7).cast("int").as("k"), (col("id") / 3.0).as("d"),
    concat(lit("s"), col("id").cast("string")).as("s"),
    array(col("id"), col("id") + 1).as("arr"),
    map(col("id").cast("string"), col("id") * 2).as("m"),
    struct(col("id").cast("float").as("f"), lit(null).cast("string").as("n")).as("st"))

  test("fingerprint is invariant under repartitioning and row order") {
    val base = fp(rows)
    assert(fp(rows.repartition(7)) == base)
    assert(fp(rows.coalesce(1)) == base)
    assert(fp(rows.orderBy(col("id").desc)) == base)
    assert(fp(rows.repartition(5, col("k")).sortWithinPartitions(col("s"))) == base)
  }

  test("fingerprint ignores last-digit noise in doubles but not real differences") {
    val a = spark.range(0, 10).select((col("id") / 3.0).as("d"))
    val b = spark.range(0, 10).select((col("id") / 3.0 * (1 + 1e-14)).as("d"))
    assert(fp(a) == fp(b))
    assert(fp(a) != fp(spark.range(0, 10).select((col("id") / 3.0 * (1 + 1e-6)).as("d"))))
  }

  test("a deliberately wrong result changes the fingerprint") {
    val base = fp(rows)
    assert(fp(rows.filter(col("id") =!= 17)) != base, "a dropped row")
    assert(fp(rows.union(rows.filter(col("id") === 17))) != base, "a duplicated row")
    val changed = rows.withColumn("s", when(col("id") === 17, lit("x")).otherwise(col("s")))
    assert(fp(changed) != base, "one changed value")
    val swapped = rows.withColumn("arr", when(col("id") === 17, array(lit(18L), lit(17L)))
      .otherwise(col("arr")))
    assert(fp(swapped) != base, "array elements are ordered")
    assert(fp(rows).rows == 500)
  }

  test("span self time subtracts direct children only") {
    val s = Seq(
      Span(0, -1, "op", 0L, 10000000000L),
      Span(1, 0, "build", 0L, 3000000000L),
      Span(2, 0, "exec", 3000000000L, 10000000000L),
      Span(3, 1, "analysis", 500000000L, 1500000000L),
      Span(4, 2, "job", 4000000000L, 9000000000L),
      Span(5, 2, "job", 8000000000L, 11000000000L))
    val self = Spans.selfTimes(s)
    assert(math.abs(self(0) - 0.0) < 1e-9)
    assert(math.abs(self(1) - 2.0) < 1e-9)
    assert(math.abs(self(2) - 0.0) < 1e-9, "overlapping children never make self time negative")
    assert(math.abs(self(3) - 1.0) < 1e-9)
    assert(math.abs(self(4) - 5.0) < 1e-9)
  }
}
