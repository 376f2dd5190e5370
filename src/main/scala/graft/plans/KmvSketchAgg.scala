package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch as a native Catalyst
  * aggregate: keeps the k smallest DISTINCT 60-bit hashes seen; the
  * estimator `(k-1) · 2^60 / h_k` (Bar-Yossef et al., "Counting distinct
  * elements in a data stream", RANDOM'02) turns the k-th minimum into a
  * cardinality estimate with relative error ~1/√k.
  *
  * Why this beats the declarative alternatives at 100 TB:
  *  - `count(distinct x)` is exact but shuffles every distinct value;
  *  - `collect_set` has unbounded per-group state (OOM on a 100M-token
  *    vocabulary);
  *  - the sketch's state is ≤ k longs per group, map-side combined, and
  *    MERGEABLE — partial sketches union across partitions/days/datasets,
  *    the same property HyperLogLog gives `approx_count_distinct`, but
  *    with a DETERMINISTIC result for a deterministic hash input: the k
  *    smallest distinct values of a column do not depend on partitioning,
  *    ordering, or merge shape, so (unlike HLL's implementation-defined
  *    registers) the estimate is reproducible across engines and can be
  *    oracle-gated exactly.
  *
  * Input: the 60-bit md5-derived hash column the engine uses everywhere
  * (`conv(substring(md5(x),1,15),16,10)`); domain [0, 2^60). Output: the
  * estimate as double — exact `|S|` while fewer than k distinct values
  * have been seen.
  *
  * `prettyName`, the SQL name, fixes the input and the output:
  *  - `kmv_distinct`: hashes in, the estimate out;
  *  - `kmv_state`: hashes in, the serialized state out (binary, ≤ 8k
  *    bytes) — store one sketch per day/shard/source and union them
  *    later, incremental data-card maintenance without re-touching old
  *    data;
  *  - `kmv_merge`: stored states in, the estimate over the union of
  *    everything they saw out. Union of k-minimum sets is exact (the k
  *    smallest of a union are among the per-part k smallest), so
  *    merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B) — bit-for-bit.
  */
case class KmvSketchAgg(child: Expression, k: Int,
                        override val prettyName: String = "kmv_distinct",
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with UnaryLike[Expression] {

  require(k >= 2, "k must be >= 2")
  require(Seq("kmv_distinct", "kmv_state", "kmv_merge").contains(prettyName),
    s"not a KMV function: $prettyName")

  private val twoPow60 = 1152921504606846976.0 // hash domain size as double

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  // only insert when it would make the k-minimum set smaller; TreeSet
  // dedups, pollLast keeps the state bounded at k longs
  private def add(buffer: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    if (buffer.size < k || h < buffer.last()) {
      buffer.add(h)
      if (buffer.size > k) buffer.pollLast()
    }

  override def update(buffer: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] =
    child.eval(input) match {
      case null => buffer
      case state: Array[Byte] => merge(buffer, deserialize(state))
      case h: Long => add(buffer, h); buffer
    }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) add(buffer, it.next())
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any =
    if (prettyName == "kmv_state") serialize(buffer)
    else if (buffer.size < k) buffer.size.toDouble
    else (k - 1).toDouble * twoPow60 / buffer.last().toDouble

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.size * 8)
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val out = new java.util.TreeSet[java.lang.Long]()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 8) out.add(bb.getLong)
    out
  }

  override def dataType: DataType = if (prettyName == "kmv_state") BinaryType else DoubleType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, prettyName == "kmv_merge") match {
      case (LongType, false) | (BinaryType, true) => TypeCheckResult.TypeCheckSuccess
      case (other, false) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint (a 60-bit hash), got ${other.simpleString}")
      case (other, true) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary sketch state, got ${other.simpleString}")
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}

object KmvSketchAgg {
  import org.apache.spark.sql.Column

  private def agg(c: Column, k: Int, name: String): Column =
    Exprs.toColumn(KmvSketchAgg(Exprs.toExpression(c), k, name).toAggregateExpression())

  /** Column API: `kmvDistinct($"h", 256)` — aggregate usable anywhere a
    * built-in aggregate is (groupBy.agg, window, SQL via extensions). */
  def kmvDistinct(c: Column, k: Int): Column = agg(c, k, "kmv_distinct")

  /** Storable sketch state (binary). */
  def kmvState(c: Column, k: Int): Column = agg(c, k, "kmv_state")

  /** Estimate over a union of stored sketch states. */
  def kmvMerge(c: Column, k: Int): Column = agg(c, k, "kmv_merge")
}
