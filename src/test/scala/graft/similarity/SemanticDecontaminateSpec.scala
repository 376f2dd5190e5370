package graft.similarity

import graft.SparkSpec

/** Pins [[Cosine.semanticDecontaminate]]'s bounded-candidate contract:
  * an exact-duplicate contamination is ALWAYS caught (identical vectors
  * share every SRP sign bit, so they collide in every table), a train doc
  * colliding with no eval vector surfaces as NULL max_test_sim + kept,
  * and every non-null max is the exact cosine the brute-force pass would
  * produce for that pair. The gated c12 query layers the engine-exact
  * DuckDB replay on top; this spec pins the semantics no oracle states:
  * which side of the recall knob each outcome lands on. */
class SemanticDecontaminateSpec extends SparkSpec {

  test("exact-duplicate contamination always collides; isolated train doc keeps via NULL") {
    val sp = spark; import sp.implicits._
    val dim = 8
    // eval vector e1; train t1 = e1 verbatim (paraphrase-level worst case),
    // t2 = -e1 (opposite sign pattern in EVERY table: never collides)
    val e1 = Array.tabulate(dim)(i => (i + 1).toFloat / dim)
    val t2 = e1.map(x => -x)
    val evalDf = Seq((100L, e1)).toDF("vec_id", "embedding")
    val train = Seq((1L, e1), (2L, t2)).toDF("vec_id", "embedding")
    val out = Cosine.semanticDecontaminate(train, evalDf, "vec_id", "embedding",
        threshold = 0.9, nPlanes = 3, dim = dim, nTables = 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))).toMap

    // identical vectors: cosine exactly 1.0, flagged regardless of planes
    assert(out(1L) == (Some(1.0), false), out.toString)
    // antipodal vector: opposite sign on every projection -> no collision
    // in any table -> NULL max, kept
    assert(out(2L) == (None, true), out.toString)
  }

  test("multiprobe recall: analytic pins + an empirical floor against brute force") {
    // the formula's headline numbers (the scaladoc's honesty knob): an
    // occupancy-derived 15-plane/4-table config recalls ~34% of sim-0.9
    // pairs at radius 0 — the recall collapse multiprobing exists to fix
    // — and ~81% at radius 1
    assert(Cosine.srpRecall(0.9, 15, 4, 0) < 0.4)
    assert(Cosine.srpRecall(0.9, 15, 4, 1) > 0.75)
    // monotone in every knob
    assert(Cosine.srpRecall(0.9, 6, 3, 1) > Cosine.srpRecall(0.9, 6, 3, 0))
    assert(Cosine.srpRecall(0.9, 6, 4, 1) > Cosine.srpRecall(0.9, 6, 3, 1))
    assert(Cosine.srpRecall(0.95, 6, 3, 1) > Cosine.srpRecall(0.9, 6, 3, 1))
    // probe masks: radius-1 over n planes = 1 + n distinct masks
    assert(Cosine.probeMasks(6, 1) == Seq(0L, 1L, 2L, 4L, 8L, 16L, 32L))

    // radiusFor: the derived radius is the smallest clearing the target —
    // monotone non-decreasing in the target, capped at nPlanes (recall 1)
    assert(Cosine.radiusFor(0.9, 0.9, 15, 4) == 2) // the 1M-eval config:
    // radius 1 sits at 81%, the derivation probes one ring wider
    assert(Cosine.radiusFor(0.9, 0.9, 4, 2) == 1)  // small config: 1 is enough
    assert((1 to 9).map(t => Cosine.radiusFor(t / 10.0, 0.9, 15, 4))
      .sliding(2).forall(p => p.head <= p.last))
    assert(Cosine.radiusFor(1.0, 0.9, 3, 1) == 3)  // cap: probe every bucket
    assert(Cosine.srpRecall(0.9, 15, 4,
      Cosine.radiusFor(0.9, 0.9, 15, 4)) >= 0.9)

    // EMPIRICAL floor on real embeddings at the gate's own derived
    // config: of the train docs the brute-force gate flags (max sim ≥
    // 0.34), what fraction does the bounded gate flag? Deterministic —
    // fixed data, fixed hyperplanes.
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val bucket = graft.text.TextAnalysis.splitBucket(col("vec_id"))
    val evalSplit = emb.filter(bucket >= 90)
    val train = emb.filter(bucket < 90)
    val nPlanes = Cosine.autoPlanes(evalSplit.count(), targetOccupancy = 32)
    val nTables = Cosine.autoTables(nPlanes)
    val vt = train.select(col("vec_id"), Cosine.toDouble(col("embedding")).as("v"))
      .withColumn("vn", Cosine.normSq(col("v")))
    val ve = evalSplit.select(Cosine.toDouble(col("embedding")).as("tv"))
      .withColumn("tn", Cosine.normSq(col("tv")))
    val truth = vt.crossJoin(ve)
      // round(sim, 6) BEFORE the max, same as the gate's tail — else a
      // pair with true sim in [0.3399995, 0.34) is flagged by the gate
      // (rounded up to the threshold) but excluded from truth, and the
      // subset assertion fails spuriously
      .select(col("vec_id"),
        round(Cosine.cosine(col("v"), col("tv"), col("vn"), col("tn")), 6).as("sim"))
      .groupBy(col("vec_id")).agg(max(col("sim")).as("m"))
      .filter(col("m") >= 0.34)
      .collect().map(_.getLong(0)).toSet
    val flagged = Cosine.semanticDecontaminate(train, evalSplit, "vec_id",
        "embedding", threshold = 0.34, nPlanes, dim = 64, nTables)
      .filter(!col("kept"))
      .collect().map(_.getLong(0)).toSet
    assert(truth.nonEmpty, "fixture vacuous: brute force flags nothing")
    assert(flagged.subsetOf(truth), "bounded gate flagged a non-contaminated doc")
    val recall = flagged.size.toDouble / truth.size
    assert(recall >= 0.5, s"recall $recall (${flagged.size}/${truth.size})")
  }

  test("non-null max equals the exact cosine of the colliding pair") {
    val sp = spark; import sp.implicits._
    val dim = 4
    val e = Array(1.0f, 0.5f, 0.25f, 0.125f)
    // near-duplicate: same signs under every hyperplane with high
    // probability at 1 plane; assert only on rows that DID collide
    val t = Array(0.9f, 0.55f, 0.2f, 0.1f)
    val out = Cosine.semanticDecontaminate(
        Seq((1L, t)).toDF("vec_id", "embedding"),
        Seq((100L, e)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.5, nPlanes = 1, dim = dim,
        nTables = 4)
      .collect()
    assert(out.length == 1)
    val r = out.head
    if (!r.isNullAt(1)) {
      def d(a: Array[Float], b: Array[Float]) =
        a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val exact = BigDecimal(d(t, e) / (math.sqrt(d(t, t)) * math.sqrt(d(e, e))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(1) == exact, s"got ${r.getDouble(1)}, want $exact")
      assert(!r.getBoolean(2)) // 0.99+ similarity is over the 0.5 threshold
    }
  }
}
