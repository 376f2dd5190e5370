package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Numeric semantics of the composite score, mirroring the reference's
  * exact-value tests (`tests/test_workload_profile_scores.py:94-404`):
  * at-median ⇒ 1.0, 2× median with weight 0.6 ⇒ 2^0.6, orientation for
  * lower-is-better, and the ignore / penalize / require policies. */
class WorkloadScoresSpec extends SparkSpec {

  private def entries(policy: String) = WorkloadScores.entriesDf(spark, Seq(
    ("wl", 0, "b1", 0.6, true, "ignore", 1e-4),
    ("wl", 1, "b2", 0.4, true, policy, 1e-4)))

  private def scores(rows: Seq[(String, String, Double)]) = {
    val s = spark; import s.implicits._
    rows.toDF("unit", "benchmark_id", "score")
  }

  // medians: b1 over {10,20,10} = 10; b2 over {100,100} = 100
  private val base = Seq(
    ("s1", "b1", 10.0), ("s1", "b2", 100.0),
    ("s2", "b1", 20.0), ("s2", "b2", 100.0),
    ("s3", "b1", 10.0))

  private def resultMap(policy: String, sigFig: Boolean = false): Map[String, Option[Double]] =
    WorkloadScores.compute(scores(base), entries(policy), Seq("unit"), sigFigRound = sigFig)
      .collect().map { r: Row =>
        r.getAs[String]("unit") ->
          (if (r.isNullAt(r.fieldIndex("score"))) None else Some(r.getAs[Double]("score")))
      }.toMap

  test("at-median unit scores exactly 1.0; 2x-median scores 2^0.6") {
    val m = resultMap("ignore")
    assert(math.abs((m("s1").get) - (1.0)) < 1e-12)
    assert(math.abs((m("s2").get) - (math.pow(2, 0.6))) < 1e-12)
  }

  test("ignore policy renormalizes weights for missing component") {
    // s3 has only b1 (= median): 2^(0.6*log2(1)/0.6) = 1.0
    assert(math.abs((resultMap("ignore")("s3").get) - (1.0)) < 1e-12)
  }

  test("penalize policy substitutes the penalty floor, keeping weight") {
    // 2^((0.6*log2(1) + 0.4*log2(1e-4)) / 1.0) = (1e-4)^0.4
    assert(math.abs((resultMap("penalize")("s3").get) - (math.pow(1e-4, 0.4))) < 1e-12)
  }

  test("require policy suppresses units missing a required component") {
    val m = resultMap("require")
    assert(m("s3").isEmpty)
    assert(math.abs((m("s1").get) - (1.0)) < 1e-12)
  }

  test("lower-is-better entries invert normalization") {
    val e = WorkloadScores.entriesDf(spark, Seq(("wl", 0, "lat", 1.0, false, "ignore", 1e-4)))
    // latencies 5,10,20: median 10; best=min per unit
    val s = scores(Seq(("u1", "lat", 5.0), ("u2", "lat", 10.0), ("u3", "lat", 20.0)))
    val m = WorkloadScores.compute(s, e, Seq("unit"), sigFigRound = false)
      .collect().map(r => r.getAs[String]("unit") -> r.getAs[Double]("score")).toMap
    assert(math.abs((m("u1")) - (2.0)) < 1e-12) // half the median latency ⇒ 2x score
    assert(math.abs((m("u2")) - (1.0)) < 1e-12)
    assert(math.abs((m("u3")) - (0.5)) < 1e-12)
  }

  test("a lower-is-better best of 0.0 drops the component instead of dividing by zero") {
    val e = WorkloadScores.entriesDf(spark, Seq(
      ("wl", 0, "lat", 0.5, false, "ignore", 1e-4),
      ("wl", 1, "thr", 0.5, true, "ignore", 1e-4)))
    // lat median 10; u1's best latency 0.0 would make its norm 10 / 0.0
    val s = scores(Seq(("u1", "lat", 0.0), ("u1", "thr", 10.0),
      ("u2", "lat", 10.0), ("u2", "thr", 10.0),
      ("u3", "lat", 20.0), ("u3", "thr", 10.0)))
    val m = WorkloadScores.compute(s, e, Seq("unit"), sigFigRound = false)
      .collect().map(r => r.getAs[String]("unit") ->
        (r.getAs[Double]("score"), r.getAs[Long]("n_components"))).toMap
    // u1 keeps only its at-median throughput component
    assert(m("u1")._2 == 1L && math.abs(m("u1")._1 - 1.0) < 1e-12, m("u1").toString)
    assert(m("u2")._2 == 2L && math.abs(m("u2")._1 - 1.0) < 1e-12)
    assert(m("u3")._2 == 2L && math.abs(m("u3")._1 - math.sqrt(0.5)) < 1e-12)
  }

  test("sig-fig rounding: 3 significant figures, integers at |x| >= 1000") {
    assert(WorkloadScores.roundSigFigs(2.0 - 1e-13) === 2.0)
    assert(WorkloadScores.roundSigFigs(1.5157165665103982) === 1.52)
    assert(WorkloadScores.roundSigFigs(0.012345) === 0.0123)
    assert(WorkloadScores.roundSigFigs(123.456) === 123.0)
    assert(WorkloadScores.roundSigFigs(1234.567) === 1235.0)
    assert(WorkloadScores.roundSigFigs(0.0) === 0.0)
  }

  test("breakdown reconstructs the composite and shares sum to 1") {
    val out = WorkloadScores.compute(scores(base), entries("penalize"), Seq("unit"),
      sigFigRound = false, withBreakdown = true)
    val rows = out.collect().map(r => r.getAs[String]("unit") -> r).toMap
    // s2: present components (b1 norm 2 w .6, b2 norm 1 w .4)
    val s2 = rows("s2")
    val comps = s2.getSeq[Row](s2.fieldIndex("breakdown"))
    assert(comps.map(_.getAs[Double]("weight_share")).sum === 1.0)
    val reconstructed = comps.map(c =>
      math.pow(c.getAs[Double]("norm"), c.getAs[Double]("weight_share"))).product
    assert(math.abs(reconstructed - s2.getAs[Double]("score")) < 1e-9)
    // s3: missing b2 is penalized — flagged, with norm = penalty floor
    val s3c = rows("s3").getSeq[Row](rows("s3").fieldIndex("breakdown"))
    val pen = s3c.find(_.getAs[Boolean]("penalized")).get
    assert(pen.getAs[String]("benchmark_id") == "b2")
    assert(pen.getAs[Double]("norm") == 1e-4)
    // impact of an at-median present component is 0%
    val atMedian = s3c.find(!_.getAs[Boolean]("penalized")).get
    assert(math.abs(atMedian.getAs[Double]("impact_pct")) < 1e-9)
  }

  test("config_filter gates which score rows reach an entry (geekbench split)") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    // same benchmark, two runs per unit distinguished only by config
    val s = Seq(
      ("u1", "gb", 100.0, Map("cores" -> "1")),
      ("u1", "gb", 900.0, Map("cores" -> "16")),
      ("u2", "gb", 200.0, Map("cores" -> "1")),
      ("u2", "gb", 800.0, Map("cores" -> "16")))
      .toDF("unit", "benchmark_id", "score", "config")
    val e = WorkloadScores.entriesDf(spark, Seq(
      ("wl", 0, "gb", 1.0, true, "ignore", 1e-4),
      ("wl", 1, "gb", 1.0, true, "ignore", 1e-4)))
      .withColumn("config_filter",
        when(col("entry_idx") === 0, map(lit("cores"), lit("1")))
          .otherwise(map(lit("cores"), lit("16"))))
    val best = WorkloadScores.bestScores(s, e, Seq("unit"))
      .collect().map(r => (r.getAs[String]("unit"), r.getAs[Int]("entry_idx")) ->
        r.getAs[Double]("best")).toMap
    // without the filter, best per entry would be 900/800 for BOTH entries
    assert(best(("u1", 0)) == 100.0 && best(("u1", 1)) == 900.0)
    assert(best(("u2", 0)) == 200.0 && best(("u2", 1)) == 800.0)
    // float tolerance applies inside the filter ("1.0000001" ≈ "1" fails, 1e-7 diff passes)
    val sTol = Seq(("u1", "gb", 5.0, Map("cores" -> "1.00000001")))
      .toDF("unit", "benchmark_id", "score", "config")
    val bTol = WorkloadScores.bestScores(sTol, e, Seq("unit")).collect()
    assert(bTol.map(_.getAs[Int]("entry_idx")).toSet == Set(0))
    // entries without config_filter column behave exactly as before
    val plain = WorkloadScores.bestScores(s, WorkloadScores.entriesDf(spark, Seq(
      ("wl", 0, "gb", 1.0, true, "ignore", 1e-4))), Seq("unit"))
      .collect().map(r => r.getAs[String]("unit") -> r.getAs[Double]("best")).toMap
    assert(plain("u1") == 900.0 && plain("u2") == 800.0)
  }

  test("native config match agrees with the UDF on every edge case") {
    import org.apache.spark.sql.functions._
    val sp = spark; import sp.implicits._
    val cases: Seq[(Option[Map[String, String]], Option[Map[String, String]])] = Seq(
      (Some(Map("a" -> "1")), None),                            // null filter
      (Some(Map("a" -> "1")), Some(Map.empty)),                 // empty filter
      (None, Some(Map("a" -> "1"))),                            // null config
      (None, Some(Map.empty)),                                  // null config, empty filter
      (Some(Map("a" -> "1")), Some(Map("b" -> "1"))),           // missing key
      (Some(Map("a" -> "1.0000004")), Some(Map("a" -> "1"))),   // within tolerance
      (Some(Map("a" -> "1.5")), Some(Map("a" -> "1"))),         // outside tolerance
      (Some(Map("a" -> "8")), Some(Map("a" -> "8.0"))),         // int vs float text
      (Some(Map("a" -> "x")), Some(Map("a" -> "x"))),           // string equal
      (Some(Map("a" -> "x")), Some(Map("a" -> "y"))),           // string differ
      (Some(Map("a" -> "NaN")), Some(Map("a" -> "NaN"))),       // NaN → string path
      (Some(Map("a" -> "inf")), Some(Map("a" -> "inf"))),       // cast-only-in-Spark literal
      (Some(Map("a" -> "inf")), Some(Map("a" -> "Infinity"))),  // spellings differ → no match
      (Some(Map("a" -> "Infinity")), Some(Map("a" -> "Infinity"))), // non-finite → string path
      (Some(Map("a" -> "-inf")), Some(Map("a" -> "-inf"))),
      (Some(Map("a" -> "nan")), Some(Map("a" -> "nan"))),
      (Some(Map("a" -> "x", "b" -> "2")), Some(Map("a" -> "x", "b" -> "2.0000001"))))
    val df = cases.toDF("config", "filt")
      .withColumn("viaUdf", WorkloadScores.configMatches(col("config"), col("filt")))
      .withColumn("viaCol", WorkloadScores.configMatchesCol(col("config"), col("filt")))
    val rows = df.collect()
    rows.zip(cases).foreach { case (r, c) =>
      assert(r.getBoolean(r.fieldIndex("viaUdf")) == r.getBoolean(r.fieldIndex("viaCol")),
        s"divergence on $c: udf=${r.get(r.fieldIndex("viaUdf"))} col=${r.get(r.fieldIndex("viaCol"))}")
    }
    // and the filtered fan-out itself plans without any UDF call
    val s = Seq(("u1", "gb", 1.0, Map("cores" -> "1"))).toDF("unit", "benchmark_id", "score", "config")
    val e = WorkloadScores.entriesDf(spark, Seq(("wl", 0, "gb", 1.0, true, "ignore", 1e-4)))
      .withColumn("config_filter", map(lit("cores"), lit("1")))
    val plan = WorkloadScores.bestScores(s, e, Seq("unit"))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("UDF"), s"config filter left codegen:\n$plan")
  }

  test("seed workload profiles drive compute end-to-end (cicd clang split)") {
    val sp = spark; import sp.implicits._
    // two units, each with single- and multi-core clang runs plus a bestn
    // run — the cicd profile's filtered entries must pick the right rows
    val s = Seq(
      ("u1", "geekbench:clang", 1000.0, Map("cores" -> "multi")),
      ("u1", "geekbench:clang", 200.0, Map("cores" -> "single")),
      ("u1", "stress_ng:bestn", 50.0, Map.empty[String, String]),
      ("u2", "geekbench:clang", 2000.0, Map("cores" -> "multi")),
      ("u2", "geekbench:clang", 100.0, Map("cores" -> "single")),
      ("u2", "stress_ng:bestn", 150.0, Map.empty[String, String]))
      .toDF("unit", "benchmark_id", "score", "config")
    val entries = graft.ingest.SeedTables.workloads(spark)
      .filter(org.apache.spark.sql.functions.col("workload") === "cicd")
    val out = WorkloadScores.compute(s, entries, Seq("unit"),
        sigFigRound = false, withBreakdown = true)
      .collect().map(r => r.getAs[String]("unit") -> r).toMap
    // norms: medians are clang-multi 1500, clang-single 150, bestn 100.
    // weights renormalize over present entries (0.5 + 0.1 + 0.2 = 0.8)
    def expected(multi: Double, single: Double, bestn: Double) =
      math.pow(multi / 1500.0, 0.5 / 0.8) * math.pow(single / 150.0, 0.1 / 0.8) *
        math.pow(bestn / 100.0, 0.2 / 0.8)
    assert(math.abs(out("u1").getAs[Double]("score") - expected(1000, 200, 50)) < 1e-9)
    assert(math.abs(out("u2").getAs[Double]("score") - expected(2000, 100, 150)) < 1e-9)
    // each unit matched exactly 3 of the 7 cicd entries (filters split clang)
    assert(out("u1").getAs[Long]("n_components") == 3)
  }

  test("exact median uses even-count midpoint (python statistics.median)") {
    val sp = spark; import sp.implicits._
    val e = WorkloadScores.entriesDf(spark, Seq(("wl", 0, "b", 1.0, true, "ignore", 1e-4)))
    val s = Seq(("u1", "b", 1.0), ("u2", "b", 2.0), ("u3", "b", 4.0), ("u4", "b", 8.0))
      .toDF("unit", "benchmark_id", "score")
    val med = WorkloadScores.fleetMedians(WorkloadScores.bestScores(s, e, Seq("unit")))
      .collect().head.getAs[Double]("fleet_median")
    assert(math.abs(med - 3.0) < 1e-12)
  }
}
