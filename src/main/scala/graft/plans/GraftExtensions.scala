package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring: registers the engine's SQL surface so
  * `spark.sql(...)` users get the same operators as the Column API —
  *  - scalar: `canonical_json(struct)` / `canonical_row_hash(struct)`
  *    (Python-parity serialization), `dot_product(a, b)` (codegen'd
  *    vector kernel), `simhash(token_hashes[, bits])` (one-pass
  *    fingerprint), `poly_fingerprints(token_hashes, w)` (rolling window
  *    hashes) and `bloom_contains(state, hash)` (membership probe);
  *  - bounded-state sketch aggregates, each with a storable state and a
  *    merge of stored states: `kmv_distinct` / `kmv_state` / `kmv_merge`
  *    (cardinality), `bottom_k_values` / `bottom_k_state` /
  *    `bottom_k_merge` (per-group sample), `mg_summary` / `mg_merge`
  *    (heavy hitters), `bloom_state` / `bloom_merge` (membership).
  *
  * Use at session build time
  * (`.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`), or register into a live
  * session with [[GraftExtensions.register]].
  *
  * Deliberately NO custom optimizer Rule / SparkStrategy: every operator
  * in SURVEY §2 is expressible with built-in relational operators that
  * Catalyst already optimizes (§4); the custom surface stays limited to
  * scalar/aggregate functions whose semantics (byte-level Python parity,
  * bounded sketch state) genuinely cannot be expressed with built-ins.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {
  private def sha1Of(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Sha1(
      org.apache.spark.sql.catalyst.expressions.Cast(e,
        org.apache.spark.sql.types.BinaryType))

  /** One registered function. `signature` gives the SQL name and heads the
    * error for an argument list `build` does not match (`takes` says which
    * it accepts); `build` gets the name, for the sketch aggregates whose
    * input and output it fixes. Aggregates are built bare: the analyzer
    * wraps them in AggregateExpression at the use site (as built-in
    * sum/avg). */
  private def fn(signature: String, takes: String, cls: Class[_])(
      build: String => PartialFunction[Seq[Expression], Expression]) = {
    val name = signature.takeWhile(_ != '(')
    val builder = build(name)
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => builder.applyOrElse(args, (_: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$signature takes $takes")))
  }

  private val one = "exactly 1 argument"
  private val two = "exactly 2 arguments"
  private val three = "exactly 3 arguments"

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("canonical_json(struct)", one, classOf[CanonicalJsonExpr]) { _ => {
      case Seq(s) => CanonicalJsonExpr(s) } },
    fn("canonical_row_hash(struct)", one, classOf[CanonicalJsonExpr]) { _ => {
      case Seq(s) => sha1Of(CanonicalJsonExpr(s)) } },
    fn("dot_product(a, b)", two, classOf[DotProductExpr]) { _ => {
      case Seq(a, b) => DotProductExpr(a, b) } },
    fn("simhash(token_hashes[, bits])", "1 or 2 arguments", classOf[SimHashExpr]) { n => {
      case Seq(arr) => SimHashExpr(arr)
      case Seq(arr, bits) => SimHashExpr(arr, litInt(bits, s"$n bits")) } },
    fn("poly_fingerprints(token_hashes, w)", two, classOf[PolyFingerprintExpr]) { n => {
      case Seq(arr, w) => PolyFingerprintExpr(arr, litInt(w, s"$n w")) } },
    fn("bloom_contains(state, hash)", two, classOf[BloomContains]) { _ => {
      case Seq(s, h) => BloomContains(s, h) } },
    fn("kmv_distinct(hash, k)", two, classOf[KmvSketchAgg]) { n => {
      case Seq(h, k) => KmvSketchAgg(h, litInt(k, s"$n k"), n) } },
    fn("kmv_state(hash, k)", two, classOf[KmvSketchAgg]) { n => {
      case Seq(h, k) => KmvSketchAgg(h, litInt(k, s"$n k"), n) } },
    fn("kmv_merge(sketch, k)", two, classOf[KmvSketchAgg]) { n => {
      case Seq(s, k) => KmvSketchAgg(s, litInt(k, s"$n k"), n) } },
    fn("bottom_k_values(hash, value, k)", three, classOf[BottomKAgg]) { n => {
      case Seq(h, v, k) => BottomKAgg(Seq(h, v), litInt(k, s"$n k"), n) } },
    fn("bottom_k_state(hash, value, k)", three, classOf[BottomKAgg]) { n => {
      case Seq(h, v, k) => BottomKAgg(Seq(h, v), litInt(k, s"$n k"), n) } },
    fn("bottom_k_merge(state, k)", two, classOf[BottomKAgg]) { n => {
      case Seq(s, k) => BottomKAgg(Seq(s), litInt(k, s"$n k"), n) } },
    fn("mg_summary(hash, k)", two, classOf[MisraGriesAgg]) { n => {
      case Seq(h, k) => MisraGriesAgg(h, litInt(k, s"$n k"), n) } },
    fn("mg_merge(summary, k)", two, classOf[MisraGriesAgg]) { n => {
      case Seq(s, k) => MisraGriesAgg(s, litInt(k, s"$n k"), n) } },
    fn("bloom_state(hash, numBits, numHashes)", three, classOf[BloomSketchAgg]) { n => {
      case Seq(h, m, j) =>
        BloomSketchAgg(h, litInt(m, s"$n numBits"), litInt(j, s"$n numHashes"), n) } },
    fn("bloom_merge(state)", one, classOf[BloomSketchAgg]) { n => {
      case Seq(s) => BloomSketchAgg(s, 0, 0, n) } })

  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
      org.apache.spark.sql.types.IntegerType) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long,
      org.apache.spark.sql.types.LongType)
      if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
    case _ => throw new IllegalArgumentException(
      s"$what must be an int-range integer literal")
  }

  /** Register into an already-built session (idempotent — safe to call
    * from operator constructors). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(ident))
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
