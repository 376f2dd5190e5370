package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Flagship analytics: composite workload-profile scores
  * (reference §3.3: `workload_profile_scores.py:403-442`, math at
  * `240-400`; operators J8 + F4 + A1 + A2 + A3 in SURVEY §2).
  *
  * Pipeline, expressed as one declarative DataFrame program:
  *  1. fan each score out to every workload entry sharing its benchmark_id
  *     (J8) — entries are tiny, so this is a broadcast join;
  *  2. optional config-filter match with float tolerance (F4);
  *  3. keep the best score per (unit, workload, entry): max when
  *     higher_is_better else min (A1) — a single partial-aggregating
  *     groupBy, no window needed;
  *  4. fleet median per (workload, entry) over the best scores (A2) —
  *     EXACT median (`median`, not approx) to reproduce Python
  *     `statistics.median` incl. even-count midpoints;
  *  5. normalize (raw/median, inverted when lower-is-better), then the
  *     weighted geometric mean 2^(Σ w·log2(norm)/Σ w) per (unit, workload)
  *     with missing-component policies (A3):
  *       ignore   — drop the component, weights renormalize
  *       penalize — substitute `penalty` for the component's norm
  *       require  — suppress the unit's score for that workload
  *
  * Scale: shuffles only on (unit, workload, entry) and (workload, entry) —
  * both key sets are tiny relative to raw score volume, and step 3's
  * aggregation is partial (map-side combine) so the shuffle carries one row
  * per group per task. The medians frame is a few hundred rows → broadcast
  * back. The unit×entry grid (for penalize/require) is |units|×|entries|,
  * linear in units. Nothing collects to the driver.
  */
object WorkloadScores {

  /** Workload definitions as a DataFrame. Columns:
    * workload, entry_idx, benchmark_id, weight, higher_is_better,
    * policy ("ignore"|"penalize"|"require"), penalty. */
  def entriesDf(spark: org.apache.spark.sql.SparkSession,
                rows: Seq[(String, Int, String, Double, Boolean, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("workload", "entry_idx", "benchmark_id", "weight",
      "higher_is_better", "policy", "penalty")
  }

  /** Config-filter match with float tolerance (F4,
    * `workload_profile_scores.py:79-98`): every key of `filter` must be
    * present in `config` and equal — floats within 1e-6. */
  val configMatches = udf { (config: Map[String, String], filt: Map[String, String]) =>
    filt == null || filt.forall { case (k, fv) =>
      config != null && config.get(k).exists { cv =>
        (toDoubleOpt(cv), toDoubleOpt(fv)) match {
          case (Some(a), Some(b)) => math.abs(a - b) <= 1e-6
          case _ => cv == fv
        }
      }
    }
  }
  // non-finite parses (NaN/±Infinity) fall back to the STRING path: a
  // tolerance window around infinity is meaningless (inf-inf = NaN would
  // reject two equal "Infinity" strings), and Spark's try_cast accepts
  // more spellings ("inf", case-insensitive "nan") than String.toDouble —
  // routing every non-finite to string equality keeps the UDF and the
  // native Column in agreement on ALL of them (ADVICE r04)
  private def toDoubleOpt(s: String): Option[Double] =
    try { val d = s.toDouble; if (d.isNaN || d.isInfinite) None else Some(d) }
    catch { case _: Throwable => None }

  /** [[configMatches]] as a native Column expression — same semantics,
    * but codegen'd (higher-order `forall` over the filter's entries, with
    * `try_cast` supplying the float-tolerance branch), so the fan-out
    * filter never leaves whole-stage codegen at corpus scale. Non-finite
    * casts fall back to string equality exactly like `toDoubleOpt` (see
    * its note; `between(±MaxValue)` is false for NaN and ±Infinity both). */
  def configMatchesCol(config: Column, filt: Column): Column = {
    def finite(c: Column) =
      c.isNotNull && c.between(lit(-Double.MaxValue), lit(Double.MaxValue))
    val matches = filt.isNull || forall(map_entries(filt), e => {
      val fv = e.getField("value")
      val cv = element_at(config, e.getField("key"))
      val fd = fv.try_cast("double")
      val cd = cv.try_cast("double")
      val bothNumeric = finite(fd) && finite(cd)
      cv.isNotNull && when(bothNumeric, abs(cd - fd) <= lit(1e-6)).otherwise(cv === fv)
    })
    coalesce(matches, lit(false))
  }

  /** 3-significant-figure rounding; integers once |x| ≥ 1000 (reference
    * `workload_profile_scores.py:37-57`). */
  def roundSigFigs(x: Double, sig: Int = 3): Double = {
    if (x == 0.0 || x.isNaN || x.isInfinite) x
    else if (math.abs(x) >= 1000) math.rint(x)
    else {
      val d = math.ceil(math.log10(math.abs(x)))
      val power = sig - d.toInt
      val mag = math.pow(10, power)
      math.rint(x * mag) / mag
    }
  }
  val roundSigFigsUdf = udf((x: java.lang.Double) =>
    if (x == null) null.asInstanceOf[java.lang.Double] else java.lang.Double.valueOf(roundSigFigs(x)))

  /** Best score per (unit, workload, entry) — steps 1–3. `scores` needs
    * columns `benchmark_id`, `score` plus `unitCols`; an optional `config`
    * map column carries the per-run configuration. When `entries` has a
    * `config_filter` map column, a score attaches to an entry only if the
    * filter matches its config (F4 inside the fan-out, exactly
    * `workload_profile_scores.py:178-213`'s per-entry gating — a null
    * filter matches everything, so unfiltered entries are unchanged). */
  def bestScores(scores: DataFrame, entries: DataFrame, unitCols: Seq[String]): DataFrame = {
    val fanned0 = scores.join(broadcast(entries), Seq("benchmark_id"))
    val fanned =
      if (!entries.columns.contains("config_filter")) fanned0
      else fanned0.filter(configMatchesCol(
        if (scores.columns.contains("config")) col("config")
        else lit(null).cast("map<string,string>"),
        col("config_filter")))
    val keys = unitCols ++ Seq("workload", "entry_idx")
    fanned.groupBy(keys.map(col): _*)
      .agg(
        first(col("weight")).as("weight"),
        first(col("higher_is_better")).as("higher_is_better"),
        first(col("policy")).as("policy"),
        first(col("penalty")).as("penalty"),
        when(first(col("higher_is_better")), max(col("score")))
          .otherwise(min(col("score"))).as("best"))
  }

  /** Fleet medians per (workload, entry_idx) — step 4. */
  def fleetMedians(best: DataFrame): DataFrame =
    best.groupBy(col("workload"), col("entry_idx"))
      .agg(median(col("best")).as("fleet_median"))

  /** Full composite — steps 1–5. Output: unitCols..., workload, score,
    * coverage, n_components (+ `breakdown` when `withBreakdown`:
    * array<struct> of per-component entry/benchmark/raw/norm/weight/
    * weight_share/impact_pct, reference `workload_profile_scores.py:60-76,
    * 279-371` — impact = (norm^share − 1)·100, and the product of
    * norm^share over components reconstructs the composite exactly). */
  def compute(scores: DataFrame, entries: DataFrame, unitCols: Seq[String],
              sigFigRound: Boolean = true, withBreakdown: Boolean = false): DataFrame = {
    val best = bestScores(scores, entries, unitCols)
    val medians = fleetMedians(best)

    // unit × entry grid so penalize/require see missing components
    val units = best.select(unitCols.map(col): _*).distinct()
    val grid = units.crossJoin(broadcast(entries.select(
      col("workload"), col("entry_idx"), col("benchmark_id"), col("weight"),
      col("higher_is_better"), col("policy"), col("penalty"))))

    val joined = grid
      .join(best.select((unitCols ++ Seq("workload", "entry_idx")).map(col) :+ col("best"): _*),
        unitCols ++ Seq("workload", "entry_idx"), "left")
      .join(broadcast(medians), Seq("workload", "entry_idx"))
      // try_divide: a zero best or median gives NULL (what the oracle's
      // `x / 0.0` gives), not an ANSI DIVIDE_BY_ZERO
      .withColumn("norm",
        when(col("best").isNull, lit(null))
          .when(col("higher_is_better"), try_divide(col("best"), col("fleet_median")))
          .otherwise(try_divide(col("fleet_median"), col("best"))))
      // corrupted-data guard (F5): non-positive or NULL norms cannot
      // enter log2 — the component is dropped
      .withColumn("norm", when(col("norm") > 0, col("norm")))

    val present = col("norm").isNotNull
    // effective norm a component contributes: its norm when present, the
    // penalty floor when missing-but-penalized, nothing otherwise
    val effNorm = when(present, col("norm"))
      .when(col("policy") === "penalize", col("penalty"))
    val aggs = Seq(
      sum(when(present, col("weight") * log2(col("norm")))
        .when(col("policy") === "penalize", col("weight") * log2(col("penalty")))).as("wlog"),
      sum(when(present || col("policy") === "penalize", col("weight"))).as("w_eff"),
      max(when(col("policy") === "require" && !present, 1).otherwise(0)).as("missing_required"),
      sum(when(present, col("weight"))).as("w_present"),
      sum(col("weight")).as("w_total"),
      count(when(present, lit(1))).as("n_components")) ++
      (if (withBreakdown) Seq(
        sort_array(collect_list(when(effNorm.isNotNull, struct(
          col("entry_idx"), col("benchmark_id"), col("weight"),
          col("best").as("raw"), effNorm.as("norm"),
          (!present).as("penalized"))))).as("__comps"))
       else Nil)
    val agged = joined.groupBy((unitCols :+ "workload").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("raw_score",
        when(col("missing_required") === 1 || col("w_eff").isNull || col("w_eff") === 0, lit(null))
          .otherwise(pow(lit(2.0), col("wlog") / col("w_eff"))))
      .withColumn("coverage", col("w_present") / col("w_total"))

    val scored =
      if (sigFigRound) agged.withColumn("score", roundSigFigsUdf(col("raw_score")))
      else agged.withColumn("score", col("raw_score"))
    val outCols = (unitCols :+ "workload").map(col) ++
      Seq(col("score"), col("coverage"), col("n_components"))
    if (!withBreakdown) scored.select(outCols: _*)
    else scored
      .withColumn("breakdown", transform(col("__comps"), c => struct(
        c.getField("entry_idx").as("entry_idx"),
        c.getField("benchmark_id").as("benchmark_id"),
        c.getField("raw").as("raw"),
        c.getField("norm").as("norm"),
        c.getField("weight").as("weight"),
        (c.getField("weight") / col("w_eff")).as("weight_share"),
        ((pow(c.getField("norm"), c.getField("weight") / col("w_eff")) - 1) * 100)
          .as("impact_pct"),
        c.getField("penalized").as("penalized"))))
      .select(outCols :+ col("breakdown"): _*)
  }
}
