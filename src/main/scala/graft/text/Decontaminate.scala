package graft.text

import scala.util.Using

import graft.ops.Checkpoint.Releasables._
import graft.plans.BloomSketchAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination (C3): flag training documents that share any
  * word n-gram with a held-out split, with document-frequency pruning on
  * the shingle index — the same stop-shingle defense d2's Jaccard uses
  * (the `maxDf` prune of [[graft.dedup.MinHash.exactJaccardPairs]]), with
  * the cutoff derived from the df distribution. Without it, one
  * boilerplate n-gram (license header, nav bar) present in f_train train
  * docs and f_test test docs contributes f_train·f_test join rows before
  * the groupBy; with license-header duplication at corpus scale that
  * product is the job-killer, while a df cutoff at the 99.9th percentile
  * drops only the hot keys that carry no contamination signal.
  */
object Decontaminate {

  /** Per-train-doc overlap counts against the test split.
    *
    * One shingle pass, persisted: the df aggregate, the train side, and
    * the test side all reuse it (re-shingling a 100 TB corpus twice is a
    * duplicate corpus pass); it backs the RETURNED lazy frame. The df
    * cutoff is derived IN-PLAN from the
    * df distribution (q-quantile, exact percentile — per-group state is
    * one counts-map over the few distinct df values) and broadcast into
    * the filter, so no scalar ever round-trips through the driver. The
    * cutoff is rounded to 4 dp so an independent engine computing the
    * same quantile lands on the same keep-set (cross-engine ulp guard).
    *
    * @param trainPred predicate over the doc columns selecting train docs
    * @param testPred  predicate selecting held-out docs
    * @param dfQuantile quantile of the per-shingle doc-frequency
    *                   distribution above which shingles are pruned;
    *                   1.0 disables pruning (every shingle kept)
    */
  def overlaps(docs: DataFrame, idCol: String, textCol: String, n: Int,
               trainPred: Column, testPred: Column,
               dfQuantile: Double = 0.999): DataFrame = {
    val shh = shingleHashes(docs, idCol, textCol, n, trainPred, testPred)
    val pruned = prunedByDf(shh, dfQuantile)
    val train = pruned.filter(col("__is_train")).select(col(idCol), col("shash"))
    val test = pruned.filter(col("__is_test"))
      .select(col(idCol).as("__test_id"), col("shash"))
    train.join(test, "shash")
      .groupBy(col(idCol))
      .agg(countDistinct(col("shash")).as("n_shared_shingles"),
        countDistinct(col("__test_id")).as("n_test_docs"))
  }

  /** Per-doc NOVELTY score: for every train doc, how much of it already
    * exists in a reference corpus — the memorization-risk / dataset-
    * overlap rate (the Carlini-style eval-contamination metric, per doc
    * instead of per pair). Output: doc id, n_shingles (distinct n-grams
    * in the doc), n_seen (of them, how many occur anywhere in the
    * reference split), overlap_ppm (integer parts-per-million, exact
    * integer division — engine-independent).
    *
    * Scale shape: the reference side collapses to DISTINCT shingle keys
    * before the join, so the left join fans out at most 1:1 (no df
    * pruning needed — there is no pair explosion to guard, unlike
    * [[overlaps]]); per-doc counts are one combine-enabled aggregate.
    * At 100 TB the reference key set rides the same persisted-index /
    * bloom-prefilter path as [[overlapsBloom]]. */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String, n: Int,
                    trainPred: Column, testPred: Column): DataFrame =
    noveltyCore(shingleHashes(docs, idCol, textCol, n, trainPred, testPred),
      idCol)

  /** [[noveltyScores]] over an already-tokenized array column — the
    * shared-tokenize-pass entry point (c11 feeds its one persisted token
    * frame to this 8-gram gate and the 2-gram dup gate). */
  def noveltyScoresFromTokens(toksDf: DataFrame, idCol: String,
                              toksCol: String, n: Int, trainPred: Column,
                              testPred: Column): DataFrame =
    noveltyCore(shingleHashesFrom(toksDf, idCol,
      TextAnalysis.shinglesFromTokens(col(toksCol), n), trainPred, testPred),
      idCol)

  private def noveltyCore(shh: DataFrame, idCol: String): DataFrame = {
    val ref = shh.filter(col("__is_test")).select(col("shash")).distinct()
      .withColumn("__seen", lit(1))
    shh.filter(col("__is_train")).select(col(idCol), col("shash"))
      .join(ref, Seq("shash"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), count(col("__seen")).as("n_seen"))
      .select(col(idCol), col("n_shingles"), col("n_seen"),
        expr("n_seen * 1000000 div n_shingles").as("overlap_ppm"))
  }

  /** Shared shingle pass: `(idCol, __is_train, __is_test, shash)`,
    * persisted — the df aggregate and both join sides reuse it. */
  private def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, trainPred: Column,
                            testPred: Column): DataFrame =
    shingleHashesFrom(docs, idCol, TextAnalysis.shingles(col(textCol), n),
      trainPred, testPred)

  private def shingleHashesFrom(docs: DataFrame, idCol: String,
                                shinglesExpr: Column, trainPred: Column,
                                testPred: Column): DataFrame =
    docs
      .select(col(idCol), trainPred.as("__is_train"), testPred.as("__is_test"),
        explode(shinglesExpr).as("shingle"))
      .filter(col("__is_train") || col("__is_test"))
      .select(col(idCol), col("__is_train"), col("__is_test"),
        graft.plans.Md5Long60Expr.md5Long60(col("shingle")).as("shash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The stop-shingle defense shared by both variants. */
  private def prunedByDf(shh: DataFrame, dfQuantile: Double): DataFrame =
    if (dfQuantile >= 1.0) shh
    else {
      // shingles() is per-doc distinct, so count(*) per shash IS the
      // document frequency (one map-combined aggregation). The filter
      // then removes the HOT keys — and because high-order shingles are
      // mostly unique, the hot set (df above the q-quantile) is ~(1-q)
      // of the distinct shingles, thousands of keys where the keep set
      // would be millions. A broadcast ANTI join against that tiny set
      // prunes without re-shuffling the shingle frame (measured 8.6 s →
      // 3.1 s at sf0.1 vs the keep-set inner join; the residual ~2×
      // over the unpruned join is the df aggregation itself — one
      // linear pass buying quadratic-blowup immunity). At a corpus
      // scale where even the hot set outgrows a broadcast, raise
      // dfQuantile — its size is (1-q)·|distinct shingles| by
      // construction.
      // persisted: the quantile's broadcast exchange and the hot-set's
      // broadcast exchange each evaluate dfs independently otherwise —
      // measured 3× the aggregation without it
      val hot = Using.resource(shh.groupBy(col("shash"))
          .agg(count(lit(1)).as("df"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) { dfs =>
        val cut = dfs.agg(greatest(
          round(expr(s"percentile(df, $dfQuantile)"), 4), lit(1.0)).as("cut"))
        // materialize the hot set eagerly (it is tiny by construction —
        // (1-q)·|distinct shingles| keys), which lets the df frame be
        // released on return (ADVICE r04): dfs is only needed to derive
        // this set. The checkpoint also truncates the anti-join's build
        // side to a LogicalRDD, so the broadcast exchange never re-plans
        // the aggregation.
        dfs.crossJoin(broadcast(cut))
          .filter(col("df") > col("cut")).select(col("shash"))
          .localCheckpoint(true)
      }
      shh.join(broadcast(hot), Seq("shash"), "left_anti")
    }

  /** Bloom-prefiltered variant of [[overlaps]]: the held-out split's
    * shingle hashes are absorbed into ONE m-bit Bloom state
    * ([[graft.plans.BloomSketchAgg]], combine-enabled aggregate → a few
    * hundred KB), and the TRAIN side is pre-filtered map-side with
    * `bloom_contains` BEFORE its shuffle. The exact join that follows
    * sees only survivors (true matches + the fp rate), so shuffle
    * volume scales with the contamination, not the corpus — at 100 TB
    * the train side never shuffles in full. The composed result is
    * EXACT: the exact join removes false positives and a Bloom filter
    * has no false negatives, so this equals the unpruned [[overlaps]]
    * result row-for-row (and shares an exact oracle with it).
    *
    * The state reaches the probe as a scalar subquery, never as a join
    * column ([[graft.plans.BloomSketchAgg.prefilter]] says why).
    *
    * The two defenses are orthogonal and COMPOSE: the bloom probe is
    * per-row O(j) and immune to hot-shingle blowup on the filter side,
    * while the exact confirm join behind it still fans out on
    * boilerplate shingles shared between the splits — `dfQuantile < 1`
    * applies [[overlaps]]'s stop-shingle anti-join to both sides first
    * (the production configuration at corpus scale; the default keeps
    * the result exactly equal to unpruned [[overlaps]] so it can share
    * an exact oracle).
    */
  def overlapsBloom(docs: DataFrame, idCol: String, textCol: String, n: Int,
                    trainPred: Column, testPred: Column,
                    numBits: Int = BloomSketchAgg.PrefilterBits,
                    numHashes: Int = BloomSketchAgg.PrefilterHashes,
                    dfQuantile: Double = 1.0): DataFrame = {
    val shh = prunedByDf(
      shingleHashes(docs, idCol, textCol, n, trainPred, testPred), dfQuantile)
    val test = shh.filter(col("__is_test"))
      .select(col(idCol).as("__test_id"), col("shash"))
    val train = BloomSketchAgg.prefilter(
      shh.filter(col("__is_train")).select(col(idCol), col("shash")), test, "shash",
      numBits, numHashes)
    train.join(test, "shash")
      .groupBy(col(idCol))
      .agg(countDistinct(col("shash")).as("n_shared_shingles"),
        countDistinct(col("__test_id")).as("n_test_docs"))
  }
}
