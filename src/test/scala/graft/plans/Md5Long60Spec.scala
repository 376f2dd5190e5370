package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Md5Long60Expr]] — the native replacement for the
  * `conv(substring(md5(s), 1, n), 16, 10) :: long` hashing chain used by
  * every md5-keyed operator (shingles, salted samples, sketches, SimHash
  * token hashes). Pins bit-level value identity against the composed
  * chain on real corpus text plus the edge inputs (empty string, unicode,
  * whitespace, null), at both the 15-nibble and the SimHash 8-nibble
  * widths, and scalar/Column agreement for the streaming kernels. */
class Md5Long60Spec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  private def chain(c: org.apache.spark.sql.Column, nibbles: Int) =
    conv(substring(md5(c), 1, nibbles), 16, 10).cast("long")

  test("value-identical to the composed chain on corpus text (15 and 8 nibbles)") {
    val docs = graft.Tables.documents(spark, sfDir)
    for (nib <- Seq(15, 8)) {
      val diff = docs.select(
          Md5Long60Expr.md5Long(col("text"), nib).as("native"),
          chain(col("text"), nib).as("composed"))
        .filter(col("native") =!= col("composed") ||
          col("native").isNull =!= col("composed").isNull)
        .count()
      assert(diff == 0L, s"nibbles=$nib: $diff rows diverge")
    }
  }

  test("edge inputs: empty, unicode, whitespace, null") {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(""), org.apache.spark.sql.Row("héllo wörld 的是"),
        org.apache.spark.sql.Row("  a\tb\n"), org.apache.spark.sql.Row("a"),
        org.apache.spark.sql.Row(null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val rows = df.select(
        Md5Long60Expr.md5Long60(col("s")).as("native"),
        chain(col("s"), 15).as("composed"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("scalar kernel == Column kernel (the streaming parity contract)") {
    for (s <- Seq("", "two words", "tab\tsep", "的是")) {
      val viaScalar = Md5Long60Expr.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 15)
      val viaColumn = spark.range(1).select(
        Md5Long60Expr.md5Long60(lit(s))).head().getLong(0)
      assert(viaScalar == viaColumn, s"input '$s'")
    }
  }

  test("inside a transform lambda (the shingle-array form)") {
    val df = spark.range(2).select(
      when(col("id") === 0, array(lit("a b"), lit("b c"), lit("x")))
        .otherwise(array().cast("array<string>")).as("arr"))
    val rows = df.select(
        transform(col("arr"), s => Md5Long60Expr.md5Long60(s)).as("native"),
        transform(col("arr"), s => chain(s, 15)).as("composed"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }
}
