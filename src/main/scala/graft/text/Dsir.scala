package graft.text

import scala.util.Using

import graft.ops.{Artifact, ParquetOpen}
import graft.ops.Checkpoint.Releasables._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * NeurIPS): pick raw-pool documents whose HASHED-unigram likelihood
  * ratio against a target domain is highest, with Gumbel noise on the
  * log-weights so the selection SAMPLES the importance distribution
  * instead of deterministically truncating it (Gumbel-top-k ≡ sampling
  * without replacement ∝ softmax of the scores — Vieira 2014).
  *
  * This is the curation family's domain-TARGETED member: c6/c7 reweight
  * sources by size heuristics, t18/t21 filter on in-domain perplexity
  * alone; DSIR scores each doc by log p_target(x) − log p_raw(x), so a
  * doc must look MORE like the target than like the pool it came from.
  *
  * Hashed n-gram trick (the paper's §3.2): token mass is bucketed by a
  * hash into a FIXED vocabulary of [[Buckets]] counters, so both LMs are
  * constant-size regardless of corpus vocabulary — the 100 TB story: two
  * [[Buckets]]-row count frames (broadcastable at any scale), one token
  * explode, per-doc integer sums; nothing vocabulary-sized shuffles.
  * The md5-derived bucket is the engine's shared cross-engine hash
  * recipe (splitBucket), so the DuckDB oracle replays it bit-for-bit.
  *
  * Cross-engine determinism: per-bucket log-probs and the Gumbel draws
  * are fixed to integer MICRO-NATS before any per-doc aggregation (the
  * t18 recipe) — doc scores are exact integer sums, the selection key
  * is integer addition, and rank ties break on the id. */
object Dsir {

  /** Fixed hashed-vocabulary size. 4096 counters ≈ the paper's 10k-bucket
    * configuration scaled to the harness corpora; collisions blur both
    * LMs equally (the ratio is what matters), which is the documented
    * DSIR trade. */
  val Buckets = 4096

  /** Hashed-unigram bucket of a (lowercased) token — md5-derived like
    * every cross-engine hash in this engine (TextAnalysis.splitBucket),
    * NOT xxhash64, which the oracle engine lacks. */
  def tokenBucket(t: Column, buckets: Int = Buckets): Column =
    pmod(graft.plans.Md5Long60Expr.md5Long60(t),
      lit(buckets.toLong))

  /** Per-doc hashed-bucket term frequencies — (idCol, carry…, b, tf).
    * `carry` columns ride through tokenization and the groupBy (the
    * source column, for LM training) so no caller needs a corpus-sized
    * re-join to get them back. Empty tokens filtered (the
    * Bm25.buildIndex convention): an empty or whitespace-only doc would
    * otherwise carry one phantom "" token into the LMs and compete in
    * the selection on that mass. */
  private def bucketTf(docs: DataFrame, idCol: String, textCol: String,
                       buckets: Int, carry: Seq[String] = Nil): DataFrame = {
    val keys = col(idCol) +: carry.map(col)
    docs.select(keys :+
        explode(filter(TextAnalysis.tokens(lower(col(textCol))),
          t => t =!= "")).as("token"): _*)
      .select(keys :+ tokenBucket(col("token"), buckets).as("b"): _*)
      .groupBy(keys :+ col("b"): _*).agg(count(lit(1)).as("tf"))
  }

  /** The ONE scoring tail every DSIR form rides ([[importance]],
    * [[importanceStored]] — the decontaminateTail convention): per-doc
    * Σ tf·[lp_tgt − lp_raw] in integer micro-nats against the given LM
    * frames, add-one smoothed over the `buckets`-sized hashed
    * vocabulary. */
  private def scoreTail(tf: DataFrame, idCol: String, tgt: DataFrame,
                        raw: DataFrame, tots: DataFrame,
                        buckets: Int): DataFrame = {
    def lpMicro(cnt: Column, tot: Column): Column =
      round(log((coalesce(cnt, lit(0L)) + 1).cast("double") /
        (tot + buckets).cast("double")) * 1000000, 0).cast("long")
    tf.join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(raw), Seq("b"), "left")
      .crossJoin(broadcast(tots))
      .withColumn("d_micro",
        lpMicro(col("cnt_t"), col("tot_t")) - lpMicro(col("cnt_r"), col("tot_r")))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("d_micro") * col("tf")).as("lr_micro"))
  }

  /** Per-document importance log-weights over the RAW pool (docs whose
    * `sourceCol` ≠ `targetSource`): lr_micro = Σ_tokens
    * [log p_tgt(bucket) − log p_raw(bucket)] in integer micro-nats,
    * add-one smoothed over the fixed [[Buckets]] vocabulary. Target LM
    * trains on the target docs, raw LM on the raw pool itself (the
    * paper's raw featurization). Returns (idCol, n_tokens, lr_micro).
    *
    * This INLINE form trains and scores in one call; the shared tf frame
    * is persisted (the optimizer cannot share subtrees across join
    * branches, so a lazy tf would re-tokenize the corpus once per LM and
    * once for the scoring tail). Production still splits the phases:
    * [[writeModel]] trains once and persists the artifact,
    * [[importanceStored]] scores each batch with one pass against the
    * fixed artifact. */
  def importance(docs: DataFrame, idCol: String, textCol: String,
                 sourceCol: String, targetSource: String): DataFrame = {
    // the source rides THROUGH bucketTf (carry) — a corpus-sized
    // (tf ⋈ docs) re-join here would both shuffle twice per lineage and
    // double-count LM mass for any repeated doc id. NOT persisted
    // although tf fans into four lineages: all four live in one plan,
    // where AQE exchange reuse serves the tf shuffle to every branch —
    // the round-14 persist measured as a regression at sf0.1 (see the
    // unigramLogProbCore note; removing it also closed the ADVICE r14
    // unreleasable-cache finding for this path).
    val tf = bucketTf(docs, idCol, textCol, Buckets, Seq(sourceCol))
    val isTarget = col(sourceCol) === targetSource
    // both LMs are Buckets-row count frames — broadcast at any scale
    val tgt = tf.filter(isTarget).groupBy(col("b")).agg(sum(col("tf")).as("cnt_t"))
    val raw = tf.filter(!isTarget).groupBy(col("b")).agg(sum(col("tf")).as("cnt_r"))
    val tots = tgt.agg(coalesce(sum(col("cnt_t")), lit(0L)).as("tot_t"))
      .crossJoin(raw.agg(coalesce(sum(col("cnt_r")), lit(0L)).as("tot_r")))
    scoreTail(tf.filter(!isTarget).select(col(idCol), col("b"), col("tf")),
      idCol, tgt, raw, tots, Buckets)
  }

  private val Config = Artifact.Sidecar("dsir_config", 4 to 4, checksAt = 1,
    what = "stored DSIR model", remedy = "torn model: re-run writeModel")

  /** Content fingerprints of the three model stores, read from DISK so
    * they pin exactly what a later open reads. */
  private def modelChecks(dir: String): Seq[Artifact.Check] = Seq(
    Artifact.fingerprinted("tgt fp", s"$dir/tgt", col("b"), col("cnt_t")),
    Artifact.fingerprinted("raw fp", s"$dir/raw", col("b"), col("cnt_r")),
    Artifact.fingerprinted("tots fp", s"$dir/tots", col("tot_t"), col("tot_r")))

  /** Persist the trained DSIR model: the two bucket-count LM frames, the
    * 1-row totals, and a config sidecar written LAST (atomic rename)
    * pinning the bucket modulus PLUS a content fingerprint of each
    * store, all re-derived from disk at open — a crash mid-re-train
    * leaves the previous sidecar disagreeing with whichever store
    * changed, so [[importanceStored]] fails LOUDLY instead of scoring
    * against a mixture of two model releases (the ivf_commit recipe;
    * the modulus pin alone cannot catch a same-modulus torn model).
    * This is what makes DSIR servable: the model trains once per
    * (target, pool) release and arriving raw batches score against the
    * FIXED artifact. */
  def writeModel(docs: DataFrame, idCol: String, textCol: String,
                 sourceCol: String, targetSource: String,
                 dir: String): Unit = {
    // persisted around the write-time actions (tgt, raw, tots lineages)
    // so the corpus tokenize pass runs once; the source rides through
    // bucketTf (carry), no re-join
    Using.resource(bucketTf(docs, idCol, textCol, Buckets, Seq(sourceCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) { tf =>
      val isTarget = col(sourceCol) === targetSource
      val tgt = tf.filter(isTarget).groupBy(col("b")).agg(sum(col("tf")).as("cnt_t"))
      val raw = tf.filter(!isTarget).groupBy(col("b")).agg(sum(col("tf")).as("cnt_r"))
      tgt.write.mode("overwrite").parquet(s"$dir/tgt")
      raw.write.mode("overwrite").parquet(s"$dir/raw")
      tgt.agg(coalesce(sum(col("cnt_t")), lit(0L)).as("tot_t"))
        .crossJoin(raw.agg(coalesce(sum(col("cnt_r")), lit(0L)).as("tot_r")))
        .write.mode("overwrite").parquet(s"$dir/tots")
    }
    Artifact.commit(docs.sparkSession, dir, Config, Seq(Buckets), modelChecks(dir))
  }

  /** Score a document batch against the STORED model — the serving form
    * of [[importance]] (shared [[scoreTail]], so the forms cannot
    * drift): the batch buckets under the modulus the ARTIFACT pins,
    * never the compile-time constant, and the three stores must match
    * the sidecar's content fingerprints (torn-model guard, once per
    * (dir, sidecar)). Per-doc scores are pure functions of (doc, fixed
    * model), so scoring any partition of a corpus equals scoring the
    * union. */
  def importanceStored(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, idCol: String, textCol: String,
                       dir: String): DataFrame = {
    val buckets = Artifact.open(spark, dir, Config, _ => modelChecks(dir)).head
    scoreTail(bucketTf(batch, idCol, textCol, buckets), idCol,
      ParquetOpen(spark, s"$dir/tgt"), ParquetOpen(spark, s"$dir/raw"),
      ParquetOpen(spark, s"$dir/tots"), buckets)
  }

  /** Deterministic Gumbel draw in integer micro units: u is a salted
    * md5 uniform on {0.5/1e6, 1.5/1e6, …} (never 0 or 1 — both ln
    * arguments stay strictly inside their domains), g = −ln(−ln u).
    * Every step is one correctly-rounded IEEE op on identical inputs,
    * so the oracle engine reproduces it exactly (the mixtureWeights
    * draw recipe, pushed through the Gumbel CDF inverse). */
  def gumbelMicro(id: Column, salt: String = ":graft-dsir-v1"): Column = {
    val h = pmod(graft.plans.Md5Long60Expr.md5Long60(concat(id.cast("string"), lit(salt))), lit(1000000L))
    val u = (h.cast("double") + 0.5d) / 1000000.0d
    round(-log(-log(u)) * 1000000, 0).cast("long")
  }

  /** The ONE Gumbel-top-k selection tail every DSIR form rides
    * ([[select]] and the stored-model gate — the scoreTail convention,
    * so the inline and served forms cannot drift): key = lr_micro +
    * g_micro (temperature 1 on the log-weights — the paper's sampled
    * variant; integer addition, engine-exact), top `n` by (key desc,
    * id asc).
    *
    * DISTRIBUTED selection (the o3 global-top-k shape): `orderBy(key
    * desc, id).limit(n)` compiles to TakeOrderedAndProject — every task
    * keeps an n-row heap and the driver merges the heaps — so the full
    * scored pool NEVER funnels through one partition; an un-partitioned
    * row_number window here would shuffle every scored row into a
    * single task at corpus scale. The rank window then only ever sees
    * the n survivors; its non-foldable constant partition key
    * (xxhash64(id) % 1 — type-generic, never simplified by Catalyst
    * 4.1) states that n-boundedness explicitly, exactly like o3.
    * Results are identical to the single-window form: same key, same
    * deterministic (key desc, id asc) tiebreak. */
  def selectScored(scored: DataFrame, idCol: String, n: Int): DataFrame = {
    val keyed = scored
      .withColumn("g_micro", gumbelMicro(col(idCol)))
      .withColumn("key_micro", col("lr_micro") + col("g_micro"))
    val top = keyed
      .orderBy(col("key_micro").desc, col(idCol).asc)
      .limit(n)
    val w = Window.partitionBy(xxhash64(col(idCol)) % lit(1))
      .orderBy(col("key_micro").desc, col(idCol).asc)
    top.withColumn("rank", row_number().over(w))
      .select(col(idCol), col("rank"), col("n_tokens"), col("lr_micro"),
        col("g_micro"), col("key_micro"))
  }

  /** Gumbel-top-k selection over [[importance]] — [[selectScored]] over
    * the inline scores. */
  def select(docs: DataFrame, idCol: String, textCol: String,
             sourceCol: String, targetSource: String, n: Int): DataFrame =
    selectScored(
      importance(docs, idCol, textCol, sourceCol, targetSource), idCol, n)
}
