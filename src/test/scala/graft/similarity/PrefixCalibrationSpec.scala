package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Cosine.calibratePrefixWidth]] / [[Cosine
  * .writeRotatedPrefixIndexCalibrated]] — the recall-target knob for the
  * prefix tier (the x24b→SCALE.md finding that prefix recall decays with
  * corpus density at fixed p made a static width a lie; the calibrator
  * MEASURES the width on a deterministic sample instead). Pins: the
  * measured curve is sane (p = dim is exact → recall 1.0), the chosen
  * width actually meets the target it was derived from, the target
  * escalates the width monotonically, and the calibrated store serves
  * value-identically to the inline search at the chosen width. */
class PrefixCalibrationSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  private def recallAt5(exact: DataFrame, approx: DataFrame): Double = {
    val overlap = exact
      .join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
    overlap.toDouble / exact.count()
  }

  test("curve ends at 1.0 at p = dim; chosen width meets its target; target escalates width") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val rot = Cosine.moment2Rotation(emb, "embedding", p = 64)
    // a 1.0 target forces the full walk: p=64 is the whole rotation, so
    // stage 1 ranks by exact (rotated ≡ raw) cosine and recall is 1.0 —
    // the curve's right edge is pinned, not assumed
    val (pFull, curveFull) = Cosine.calibratePrefixWidth(emb, "vec_id",
      "embedding", rot, targetRecall = 1.0)
    assert(pFull == 64, s"exact width not reached: $pFull ($curveFull)")
    assert(curveFull.last == (64, 1.0), curveFull.toString)
    assert(curveFull.map(_._1) == Seq(8, 16, 32, 64))
    // a modest target stops earlier, and the chosen width's measured
    // recall (from the same curve) meets it
    val (pMid, curveMid) = Cosine.calibratePrefixWidth(emb, "vec_id",
      "embedding", rot, targetRecall = 0.5)
    val achieved = curveMid.toMap.apply(pMid)
    info(s"target 0.5 → p=$pMid (curve $curveMid)")
    assert(achieved >= 0.5, s"chosen p=$pMid achieved $achieved < target")
    assert(pMid < 64, "a 0.5 target should not need the exact width")
    assert(pMid <= pFull)
    // the curve walked only as far as needed
    assert(curveMid.map(_._1) == Seq(8, 16, 32, 64).takeWhile(_ <= pMid))
  }

  test("an unreachable target returns the widest candidate with its honest curve") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val rot = Cosine.moment2Rotation(emb, "embedding", p = 16)
    // candidates capped below dim: recall < 1.0 is structural, so a 1.0
    // target cannot be met — the widest width returns and the curve
    // carries what it DID achieve for the caller to judge
    val (p, curve) = Cosine.calibratePrefixWidth(emb, "vec_id", "embedding",
      rot, targetRecall = 1.0, candidates = Seq(8, 16))
    assert(p == 16, curve.toString)
    assert(curve.map(_._1) == Seq(8, 16))
    assert(curve.forall(_._2 < 1.0),
      s"sf0.01's 16-wide prefix should not be exact: $curve")
  }

  test("calibrated store: sidecar pins the chosen width, serving == inline") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = graft.TestDir("prefcal")
    val (p, curve) = Cosine.writeRotatedPrefixIndexCalibrated(emb, "vec_id",
      "embedding", targetRecall = 0.5, dir)
    info(s"calibrated p=$p (curve $curve)")
    val rot = Cosine.readRotation(spark, dir)
    assert(rot.size == p, s"stored rotation is ${rot.size} rows, chose $p")
    val stored = Cosine.prefixTopKStored(spark, queries, dir,
      "vec_id", "embedding", k = 5, kShort = 20)
    val inline = Cosine.prefixTopKRotated(queries, emb, "vec_id", "embedding",
      rot, k = 5, kShort = 20)
    assert(stored.count() > 0, "vacuous fixture")
    assert(stored.collect().toSet == inline.collect().toSet)
    // and the stored artifact really delivers the target on the sample
    // it was calibrated against (the curve's own number, re-read)
    assert(curve.toMap.apply(p) >= 0.5)
  }

  test("empty corpus degrades to a readable empty layout at the narrowest width") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val none = emb.filter(lit(false))
    val dir = graft.TestDir("prefcal_e")
    val (p, curve) = Cosine.writeRotatedPrefixIndexCalibrated(none, "vec_id",
      "embedding", targetRecall = 0.9, dir)
    assert(p == 8 && curve.isEmpty)
    assert(Cosine.prefixTopKStored(spark, emb.filter(col("vec_id") < 3),
      dir, "vec_id", "embedding", k = 5).count() == 0L)
  }
}
