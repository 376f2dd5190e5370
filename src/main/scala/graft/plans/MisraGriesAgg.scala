package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Misra-Gries heavy-hitter summary as a native Catalyst aggregate
  * (Misra & Gries 1982; merge rule per Agarwal et al., "Mergeable
  * Summaries", PODS'12): at most k counters; any item whose true count
  * exceeds n/(k+1) is GUARANTEED present in the final summary, and each
  * surviving counter lower-bounds its item's true count within
  * n/(k+1). Emits `array<struct<h:bigint, cnt_lb:bigint>>`, counters
  * descending (ties by hash) for a deterministic layout.
  *
  * The 100 TB role is CANDIDATE GENERATION: the classic heavy-hitter
  * query (`groupBy(token).count().filter(cnt >= T)`) shuffles every
  * distinct token; this summary is one map-combined pass with k-bounded
  * state whose result broadcasts. Semi-join the corpus against the
  * candidates and exact-count only those — because candidates are a
  * PROVEN superset of every item above the threshold (for T > n/(k+1)),
  * the composed result is exact and oracle-gatable, the same
  * exact-over-approximate composition as the Bloom prefilter
  * ([[BloomSketchAgg]]). The summary itself is also mergeable across
  * shards/days (counter-wise sum, then subtract the (k+1)-th largest
  * counter — the PODS'12 rule — so stored per-shard summaries compose
  * without re-reading data).
  *
  * NOTE the candidate set (and the counter lower bounds) may vary with
  * partitioning — only the guarantee is deterministic, not the summary
  * bytes. Gated results must therefore always go through the exact
  * confirm step; the raw summary is for diagnostics and candidate
  * routing only.
  *
  * `prettyName`, the SQL name, fixes the input: `mg_summary` reads 64-bit
  * keys; `mg_merge` reads the summaries `mg_summary` emits (one row per
  * shard/day) and unions them by that rule. Per-merge error adds at most
  * the subtracted trim value, keeping the combined guarantee: any item
  * above N_total/(k+1) survives the union.
  */
case class MisraGriesAgg(child: Expression, k: Int,
                         override val prettyName: String = "mg_summary",
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.HashMap[java.lang.Long, java.lang.Long]]
    with UnaryLike[Expression] {

  require(k >= 1, "k must be >= 1")
  require(Seq("mg_summary", "mg_merge").contains(prettyName),
    s"not a Misra-Gries function: $prettyName")

  private type Buf = java.util.HashMap[java.lang.Long, java.lang.Long]

  override def createAggregationBuffer(): Buf = new Buf()

  override def update(m: Buf, input: InternalRow): Buf = {
    child.eval(input) match {
      case null =>
      case summary: ArrayData =>
        val other = new Buf()
        var i = 0
        while (i < summary.numElements()) {
          val row = summary.getStruct(i, 2)
          other.put(row.getLong(0), row.getLong(1))
          i += 1
        }
        merge(m, other)
      case h: Long => MisraGriesAgg.offer(m, h, k)
    }
    m
  }

  override def merge(a: Buf, b: Buf): Buf = {
    val itB = b.entrySet().iterator()
    while (itB.hasNext) {
      val e = itB.next()
      val cur = a.get(e.getKey)
      a.put(e.getKey, if (cur == null) e.getValue else java.lang.Long.valueOf(cur + e.getValue))
    }
    if (a.size > k) {
      // subtract the (k+1)-th largest counter from all, drop <= 0
      // (PODS'12: preserves the summed error bound, restores |state| <= k)
      val vals = new Array[Long](a.size)
      var i = 0
      val itV = a.values().iterator()
      while (itV.hasNext) { vals(i) = itV.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val sub = vals(vals.length - (k + 1)) // (k+1)-th largest
      val it = a.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= sub) it.remove() else e.setValue(e.getValue - sub)
      }
    }
    a
  }

  override def eval(m: Buf): Any = {
    val arr = new Array[(Long, Long)](m.size)
    var i = 0
    val it = m.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey.longValue, e.getValue.longValue); i += 1 }
    // counters descending, ties by hash ascending: deterministic layout
    // for a GIVEN summary content
    val sorted = arr.sortBy { case (h, c) => (-c, h) }
    new GenericArrayData(sorted.map { case (h, c) =>
      new GenericInternalRow(Array[Any](h, c)): Any
    })
  }

  override def serialize(m: Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(m.size * 16)
    val it = m.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); bb.putLong(e.getKey); bb.putLong(e.getValue) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val m = new Buf()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 16) m.put(bb.getLong, bb.getLong)
    m
  }

  override def dataType: DataType = MisraGriesAgg.resultType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, prettyName) match {
    case (LongType, "mg_summary") => TypeCheckResult.TypeCheckSuccess
    case (ArrayType(StructType(Array(
      StructField(_, LongType, _, _), StructField(_, LongType, _, _))), _), "mg_merge") =>
      TypeCheckResult.TypeCheckSuccess
    case (other, "mg_summary") => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint (a 64-bit key/hash), got ${other.simpleString}")
    case (other, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<h:bigint,cnt_lb:bigint>> summaries, " +
        s"got ${other.simpleString}")
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): MisraGriesAgg =
    copy(child = c)
}

object MisraGriesAgg {
  import org.apache.spark.sql.Column

  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("cnt_lb", LongType, nullable = false))), containsNull = false)

  /** The Misra-Gries step for one arriving key `h` against at most `k`
    * counters — the aggregate's update counts through it. */
  private def offer(m: java.util.Map[java.lang.Long, java.lang.Long], h: Long, k: Int): Unit = {
    val key = java.lang.Long.valueOf(h)
    val cur = m.get(key)
    if (cur != null) m.put(key, cur + 1L)
    else if (m.size < k) m.put(key, 1L)
    else {
      // decrement-all: removes one unit from k+1 distinct items (the
      // arriving one included) — the source of the n/(k+1) error bound
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  private def agg(c: Column, k: Int, name: String): Column =
    Exprs.toColumn(MisraGriesAgg(Exprs.toExpression(c), k, name).toAggregateExpression())

  /** `mgSummary($"h", 256)` — heavy-hitter candidates over a 64-bit key
    * column; guaranteed superset of items with count > n/(k+1). */
  def mgSummary(c: Column, k: Int): Column = agg(c, k, "mg_summary")

  /** Union of stored summaries at the same k. No query calls it: it is
    * the Column twin of the registered SQL function `mg_merge`. */
  def mgMerge(c: Column, k: Int): Column = agg(c, k, "mg_merge")
}
