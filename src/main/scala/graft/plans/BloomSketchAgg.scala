package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Bit-level core of the Bloom membership sketch (Bloom 1970; probe
  * sequence per Kirsch & Mitzenmacher 2006, "Less hashing, same
  * performance": two 64-bit hashes generate all j probes as h1 + i·h2).
  *
  * The serialized state is self-describing — an 8-byte little-endian
  * header (numBits int, numHashes int) followed by the bit words in
  * little-endian byte order, so that global bit b lives at byte
  * `header + (b >>> 3)`, mask `1 << (b & 7)`. [[BloomContains]] probes
  * the byte array DIRECTLY (no deserialization, no allocation per row)
  * — the membership filter stays O(j) byte reads inside codegen.
  */
object BloomBits {
  final val HeaderBytes = 8

  /** Murmur3 64-bit finalizer (public domain constant mix). */
  def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** The zero state of a shape: the header, then `numBits` rounded up to
    * whole 64-bit words of clear bits. */
  def empty(numBits: Int, numHashes: Int): Array[Byte] = {
    val state = new Array[Byte](HeaderBytes + ((numBits + 63) >>> 6) * 8)
    java.nio.ByteBuffer.wrap(state).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(numBits).putInt(numHashes)
    state
  }

  def add(state: Array[Byte], numBits: Int, numHashes: Int, v: Long): Unit = {
    val h1 = fmix64(v)
    val h2 = fmix64(v ^ 0x9E3779B97F4A7C15L) | 1L // odd → full-period probe
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Math.floorMod(h1 + i.toLong * h2, numBits.toLong).toInt
      val at = HeaderBytes + (bit >>> 3)
      state(at) = (state(at) | (1 << (bit & 7))).toByte
      i += 1
    }
  }

  /** Probe a SERIALIZED state in place — called from both interpreted
    * eval and generated code. No false negatives by construction. */
  def contains(state: Array[Byte], v: Long): Boolean = {
    val numBits = (state(0) & 0xff) | (state(1) & 0xff) << 8 |
      (state(2) & 0xff) << 16 | (state(3) & 0xff) << 24
    val numHashes = (state(4) & 0xff) | (state(5) & 0xff) << 8 |
      (state(6) & 0xff) << 16 | (state(7) & 0xff) << 24
    val h1 = fmix64(v)
    val h2 = fmix64(v ^ 0x9E3779B97F4A7C15L) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Math.floorMod(h1 + i.toLong * h2, numBits.toLong).toInt
      if ((state(HeaderBytes + (bit >>> 3)) & (1 << (bit & 7))) == 0) return false
      i += 1
    }
    true
  }
}

/** Bloom membership sketch as a native Catalyst aggregate: absorbs a
  * 64-bit hash column into an m-bit filter; eval returns the serialized
  * state (binary, m/8 + 8 bytes), which is also the aggregation buffer.
  *
  * The 100 TB shape this enables: build the filter over the SMALL side
  * of a membership question (held-out split, revoked-id list, previous
  * snapshot) in one combine-enabled aggregate, broadcast the few hundred
  * KB of state, and pre-filter the LARGE side map-side with
  * [[BloomContains]] BEFORE its shuffle ([[BloomSketchAgg.prefilter]]) —
  * the exact join that follows only sees survivors (matches + the fp
  * rate), so shuffle volume scales with the answer, not the corpus.
  * False positives are removed by the exact join; false negatives cannot
  * occur, so the composed result is EXACT and oracle-gatable.
  *
  * `prettyName`, the SQL name, fixes the input: `bloom_state` reads
  * hashes into a (numBits, numHashes) filter; `bloom_merge` reads stored
  * states, takes their shape from the first one (numBits and numHashes
  * are unused) and ORs them, refusing a state of another shape. OR-union
  * is exact: merge(bloom(A), bloom(B)) ≡ bloom(A ∪ B) bit-for-bit, so
  * shard-built filters compose without re-reading data, the same
  * incremental story as `kmv_state` ([[KmvSketchAgg]]).
  */
case class BloomSketchAgg(child: Expression, numBits: Int, numHashes: Int,
                          override val prettyName: String = "bloom_state",
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]]
    with UnaryLike[Expression] {

  require(Seq("bloom_state", "bloom_merge").contains(prettyName),
    s"not a Bloom function: $prettyName")
  if (prettyName == "bloom_state") {
    require(numBits >= 64, "numBits must be >= 64")
    require(numHashes >= 1 && numHashes <= 16, "numHashes must be in [1, 16]")
  }

  // bloom_merge: an empty sentinel until the first state brings the shape
  override def createAggregationBuffer(): Array[Byte] =
    if (prettyName == "bloom_merge") Array.emptyByteArray
    else BloomBits.empty(numBits, numHashes)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] =
    child.eval(input) match {
      case null => buffer
      case state: Array[Byte] => merge(buffer, state)
      case h: Long => BloomBits.add(buffer, numBits, numHashes, h); buffer
    }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.length == 0) buffer
    else if (buffer.length == 0) java.util.Arrays.copyOf(other, other.length)
    else {
      require(buffer.length == other.length && java.util.Arrays.equals(
        buffer, 0, BloomBits.HeaderBytes, other, 0, BloomBits.HeaderBytes),
        s"$prettyName: mismatched sketch shapes (numBits/numHashes differ)")
      var i = BloomBits.HeaderBytes
      while (i < buffer.length) { buffer(i) = (buffer(i) | other(i)).toByte; i += 1 }
      buffer
    }

  override def eval(buffer: Array[Byte]): Any = buffer
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = (child.dataType, prettyName) match {
    case (LongType, "bloom_state") | (BinaryType, "bloom_merge") =>
      TypeCheckResult.TypeCheckSuccess
    case (other, "bloom_state") => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint (a 64-bit hash), got ${other.simpleString}")
    case (other, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary sketch state, got ${other.simpleString}")
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BloomSketchAgg =
    copy(child = c)
}

/** `bloom_contains(state, hash)` — membership probe against a serialized
  * Bloom state. Codegen'd: the generated code calls the same static
  * byte-probe as interpreted eval ([[BloomBits.contains]]), no
  * per-row deserialization, so a broadcast state column keeps the
  * pre-filter inside whole-stage codegen. */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression with BinaryLike[Expression] {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_contains(state, hash) requires (binary, bigint), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override protected def nullSafeEval(state: Any, v: Any): Any =
    BloomBits.contains(state.asInstanceOf[Array[Byte]], v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, v) => s"graft.plans.BloomBits.contains($s, $v)")

  override def prettyName: String = "bloom_contains"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomContains =
    copy(left = l, right = r)
}

object BloomSketchAgg {
  import org.apache.spark.sql.{Column, DataFrame}

  /** The [[prefilter]] shape: 4 Mbit (512 KB) and 7 probes, ~0.8 % false
    * positives up to ~400k distinct keys. */
  final val PrefilterBits = 1 << 22
  final val PrefilterHashes = 7

  /** Build a filter over a 64-bit hash column: `bloomState($"h", 1 << 22, 7)`.
    * Size rule of thumb: m ≈ 10·n bits, j = 7 → ~0.8% fp rate. */
  def bloomState(c: Column, numBits: Int, numHashes: Int): Column =
    Exprs.toColumn(
      BloomSketchAgg(Exprs.toExpression(c), numBits, numHashes).toAggregateExpression())

  /** Union stored states (bitwise OR; shapes must match). No query calls
    * it: it is the Column twin of the registered SQL function `bloom_merge`. */
  def bloomMerge(c: Column): Column =
    Exprs.toColumn(
      BloomSketchAgg(Exprs.toExpression(c), 0, 0, "bloom_merge").toAggregateExpression())

  /** Membership probe — true possibly, false definitely-not. */
  def bloomContains(state: Column, hash: Column): Column =
    Exprs.toColumn(
      BloomContains(Exprs.toExpression(state), Exprs.toExpression(hash)))

  /** The rows of `probe` whose bigint `key` may occur in `build`'s `key`
    * column: a superset of the matches (no false negatives), so an exact
    * join behind it sees every true match and only the fp rate more.
    *
    * `build`'s keys fold into one Bloom state that reaches the probe as a
    * SCALAR SUBQUERY — evaluated once per execution and inlined as a
    * constant, the shape Spark's own runtime row-level filters use. It
    * must NOT flow as a join column: reading a binary column out of an
    * `UnsafeRow` copies it, so a broadcast-join'd state would memcpy the
    * full filter for EVERY probed row (measured 8-13 s vs 0.05-0.9 s for
    * the subquery form on a 1.7M-shingle probe at sf1 — the state copy,
    * not the probe, was the whole cost). */
  def prefilter(probe: DataFrame, build: DataFrame, key: String,
                numBits: Int, numHashes: Int): DataFrame = {
    val state = build.agg(bloomState(col(key), numBits, numHashes))
    probe.filter(bloomContains(Exprs.toColumn(
      ScalarSubquery(state.queryExecution.analyzed)), col(key)))
  }
}
