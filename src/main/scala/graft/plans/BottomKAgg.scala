package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** PER-GROUP bottom-k hash sample as a native Catalyst aggregate: keeps
  * the `k` (hash, value) pairs with the smallest hashes seen in the
  * group — [[graft.ops.BottomK]]'s deterministic uniform sample, but per
  * GROUP, which the declarative alternatives get wrong at 100 TB:
  *  - `Window.partitionBy(g).orderBy(h)` + `row_number <= k` SORTS every
  *    group's full row set (a corpus-wide sort for a k-row answer);
  *  - `sort_array(collect_list(...))` holds unbounded per-group state.
  * This aggregate's state is ≤ k (hash, value) pairs — 16k bytes —
  * map-side combined and MERGEABLE (min-k of a set is a function of the
  * set), so the per-group sample is identical under any partitioning.
  *
  * Output: the sampled VALUES ordered by hash ascending (array<bigint>) —
  * feed them to `percentile`/histograms for per-group data cards.
  * Duplicate hashes keep ONE entry, resolved to the smallest value — a
  * deterministic policy, so even colliding inputs stay a function of the
  * set (unreachable with the unique-id md5 keys the in-repo callers
  * use).
  *
  * `prettyName`, the SQL name, fixes the inputs (`children`) and the
  * output:
  *  - `bottom_k_values`: (hash, value) in, the sampled values out;
  *  - `bottom_k_state`: (hash, value) in, the serialized sample out
  *    (binary (hash, value) pairs) — store one per day/shard/source:
  *    incremental per-group quantile maintenance without re-reading old
  *    data;
  *  - `bottom_k_merge`: stored samples in, the sampled values of their
  *    union out. Min-k of a union is exact (the k smallest of A ∪ B are
  *    among the per-part k smallest), so merge(sample(A), sample(B)) ≡
  *    sample(A ∪ B) — the merged quantile card equals the direct one
  *    bit-for-bit. */
case class BottomKAgg(children: Seq[Expression], k: Int,
                      override val prettyName: String = "bottom_k_values",
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeMap[java.lang.Long, java.lang.Long]] {

  require(k >= 1, "k must be >= 1")
  require(Seq("bottom_k_values", "bottom_k_state", "bottom_k_merge").contains(prettyName),
    s"not a bottom-k function: $prettyName")
  require(children.size == (if (prettyName == "bottom_k_merge") 1 else 2),
    s"$prettyName: wrong number of inputs")

  override def createAggregationBuffer(): java.util.TreeMap[java.lang.Long, java.lang.Long] =
    new java.util.TreeMap[java.lang.Long, java.lang.Long]()

  private def add(buffer: java.util.TreeMap[java.lang.Long, java.lang.Long],
                  h: Long, v: Long): Unit =
    if (buffer.size < k || h <= buffer.lastKey()) {
      // hash collision with a DIFFERENT value: keep the smaller value —
      // a deterministic merge policy, so the sample stays a function of
      // the input SET under any partition/merge order (first-write-wins
      // would be order-dependent). Unreachable with the md5-of-unique-id
      // keys the in-repo callers use; matters for arbitrary SQL inputs.
      val prev = buffer.get(h)
      if (prev == null || v < prev) buffer.put(h, v)
      if (buffer.size > k) buffer.pollLastEntry()
    }

  override def update(buffer: java.util.TreeMap[java.lang.Long, java.lang.Long],
                      input: InternalRow): java.util.TreeMap[java.lang.Long, java.lang.Long] = {
    children.head.eval(input) match {
      case null =>
      case state: Array[Byte] => merge(buffer, deserialize(state))
      case h: Long =>
        val v = children(1).eval(input)
        if (v != null) add(buffer, h, v.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: java.util.TreeMap[java.lang.Long, java.lang.Long],
                     other: java.util.TreeMap[java.lang.Long, java.lang.Long]): java.util.TreeMap[java.lang.Long, java.lang.Long] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      add(buffer, e.getKey, e.getValue)
    }
    buffer
  }

  override def eval(buffer: java.util.TreeMap[java.lang.Long, java.lang.Long]): Any =
    if (prettyName == "bottom_k_state") serialize(buffer)
    else {
      val out = new Array[Any](buffer.size)
      val it = buffer.values().iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
      new GenericArrayData(out)
    }

  override def serialize(buffer: java.util.TreeMap[java.lang.Long, java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.size * 16)
    val it = buffer.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next(); bb.putLong(e.getKey); bb.putLong(e.getValue)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[java.lang.Long, java.lang.Long] = {
    val out = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    val bb = java.nio.ByteBuffer.wrap(bytes)
    while (bb.remaining() >= 16) out.put(bb.getLong, bb.getLong)
    out
  }

  override def dataType: DataType =
    if (prettyName == "bottom_k_state") BinaryType
    else ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case Seq(LongType, LongType) | Seq(BinaryType) => TypeCheckResult.TypeCheckSuccess
    case Seq(h, v) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint hash, bigint value), got ${(h, v)}")
    case Seq(other) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary sample state, got ${other.simpleString}")
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BottomKAgg =
    copy(children = newChildren)
}

object BottomKAgg {
  import org.apache.spark.sql.Column

  private def agg(inputs: Seq[Column], k: Int, name: String): Column =
    Exprs.toColumn(BottomKAgg(inputs.map(Exprs.toExpression), k, name).toAggregateExpression())

  /** Column API: per-group sampled values ordered by hash. */
  def bottomKValues(hash: Column, value: Column, k: Int): Column =
    agg(Seq(hash, value), k, "bottom_k_values")

  /** Storable sample state (binary). */
  def bottomKState(hash: Column, value: Column, k: Int): Column =
    agg(Seq(hash, value), k, "bottom_k_state")

  /** Sampled values over a union of stored states. */
  def bottomKMerge(state: Column, k: Int): Column = agg(Seq(state), k, "bottom_k_merge")
}
