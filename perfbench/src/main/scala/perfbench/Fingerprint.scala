package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive fingerprint of a query result: the row count plus the
  * wrapping sum of one 64-bit hash per row. A sum does not depend on row
  * order or on how rows are split into partitions, so two plans that return
  * the same multiset of rows always agree. Doubles are rounded to 10
  * significant digits (floats to 6) before hashing, so last-ulp differences
  * from a different aggregation merge order do not count as a wrong result;
  * -0.0 and 0.0 hash alike. Arrays and structs hash in element order, maps
  * order-insensitively. */
object Fingerprint {
  final case class Fp(rows: Long, sum: Long) {
    override def toString: String = f"$rows%d:$sum%016x"
  }

  private val Seed = 0x5bd1e995L
  private val Null = 0x6a09e667f3bcc908L
  private val Mc10 = new MathContext(10)
  private val Mc6 = new MathContext(6)

  /** splitmix64 finalizer: spreads ordered combinations over all 64 bits. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def combine(h: Long, v: Long): Long = mix(h * 31 + v)

  private def roundedBits(d: Double, mc: MathContext): Long =
    if (d == 0.0) 0L
    else if (d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else java.lang.Double.doubleToLongBits(new JBigDecimal(d).round(mc).doubleValue)

  private def bytesHash(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, Seed)

  def value(v: Any, dt: DataType): Long =
    if (v == null) Null
    else dt match {
      case DoubleType => XXH64.hashLong(roundedBits(v.asInstanceOf[Double], Mc10), Seed)
      case FloatType => XXH64.hashLong(roundedBits(v.asInstanceOf[Float].toDouble, Mc6), Seed)
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        XXH64.hashLong(v.asInstanceOf[Long], Seed)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        XXH64.hashLong(v.asInstanceOf[Int].toLong, Seed)
      case ShortType => XXH64.hashLong(v.asInstanceOf[Short].toLong, Seed)
      case ByteType => XXH64.hashLong(v.asInstanceOf[Byte].toLong, Seed)
      case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
      case _: StringType => bytesHash(v.asInstanceOf[UTF8String].getBytes)
      case BinaryType => bytesHash(v.asInstanceOf[Array[Byte]])
      case _: DecimalType =>
        bytesHash(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros
          .toPlainString.getBytes("UTF-8"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = XXH64.hashLong(a.numElements().toLong, Seed)
        var i = 0
        while (i < a.numElements()) {
          h = combine(h, if (a.isNullAt(i)) Null else value(a.get(i, et), et))
          i += 1
        }
        h
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var h = 0L
        var i = 0
        while (i < m.numElements()) {
          val vh = if (vs.isNullAt(i)) Null else value(vs.get(i, vt), vt)
          h += mix(combine(value(ks.get(i, kt), kt), vh))
          i += 1
        }
        h
      case st: StructType => row(v.asInstanceOf[InternalRow], st)
      case _ => bytesHash(v.toString.getBytes("UTF-8"))
    }

  def row(r: InternalRow, st: StructType): Long = {
    var h = Seed
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      h = combine(h, if (r.isNullAt(i)) Null else value(r.get(i, dt), dt))
      i += 1
    }
    h
  }

  /** Fingerprint of every row of `rdd` (one job over the result's lineage:
    * shuffle outputs a previous action produced are reused, so only the
    * final stage re-runs). */
  def of(rdd: RDD[InternalRow], schema: StructType): Fp = {
    val (n, s) = rdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += mix(row(r, schema)) }
      Iterator.single((n, s))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Fp(n, s)
  }
}
