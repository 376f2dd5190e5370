package graft.queries

import graft.Tables
import graft.dedup.{Clusters, MinHash, SimHash}
import graft.ops.ParquetOpen
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Training-data text operators over `documents`: token stats, language ID,
  * quality scoring, fingerprinting, and the dedup family (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash) — each with a DuckDB oracle that
  * reproduces the integer/md5-based hashing bit-for-bit. */
object TextQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // ---- token counting (whitespace + BPE-ish regex)
    "t1_token_stats" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          length(col("text")).as("len_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- language ID: stopword-marker argmax heuristic
    "t2_langid" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.languageId(col("text")).as("lang_pred"), col("lang"))
        .withColumn("matches_label", col("lang_pred") === col("lang"))
        .orderBy(col("doc_id"))
    }),

    // ---- quality scoring: length/punct/stopword bands
    "t3_quality" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }),

    // ---- T11: repetition fraction — share of word 2-grams that are
    //      repeats of an earlier 2-gram in the same doc (the Gopher-style
    //      repetitiousness quality rule); map-side from token counts and
    //      the distinct-shingle array
    "t11_repetition" -> ((s, dir) => {
      val total = greatest(TextAnalysis.tokenCount(col("text")) - 1, lit(1))
      Tables.documents(s, dir).select(col("doc_id"),
          round(lit(1.0) -
            size(TextAnalysis.shingles(col("text"), 2)).cast("double") / total, 6)
            .as("dup_2gram_fraction"))
        .orderBy(col("doc_id"))
    }),

    // ---- T10: pattern hygiene scan — per-doc counts of email/URL-shaped
    //      spans and the digit ratio (the structured-noise signals a
    //      training-data cleaning pass filters on); pure map-side regexes
    "t10_pattern_counts" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysis.emailPattern), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("text"),
            lit(TextAnalysis.urlPattern), lit(0))).as("n_urls"),
          round((length(col("text")) -
            length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
            greatest(length(col("text")), lit(1)), 6).as("digit_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ---- T9: deterministic stratified sample — 10 docs per language by
    //      smallest salted hash (reproducible "random", no RNG state; the
    //      per-stratum top-k is one window over the stratum key)
    "t9_stratified_sample" -> ((s, dir) => {
      val h = graft.plans.Md5Long60Expr.md5Long60(concat(col("doc_id").cast("string"),
        lit(":graft-sample-v1")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), h.as("h"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .select(col("lang"), col("rank").cast("long").as("rank"), col("doc_id"))
        .orderBy(col("lang"), col("rank"))
    }),

    // ---- T8: TF-IDF — top-5 terms per document (two combine-enabled
    //      aggregations + a vocabulary-sized join)
    "t8_tfidf" -> ((s, dir) => {
      val scored = TextAnalysis.tfIdf(Tables.documents(s, dir), "doc_id", "text")
        // rank on the ROUNDED score: mathematically-tied values computed
        // via different routes (2·ln(10) vs ln(100)) can differ by an ulp,
        // differently per engine — rounding first makes the token
        // tie-break deterministic on both sides
        .withColumn("tf_idf", round(col("tf_idf"), 6))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("tf_idf").desc, col("token").asc)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("doc_id"), col("rank"), col("token"),
          col("tf"), col("df"), col("tf_idf"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- T7: deterministic hash-based dataset split — salted md5 bucket
    //      per doc (80/10/10), reproducible across runs/engines, no RNG
    //      state; the standard leakage-free train/val/test assignment
    "t7_hash_split" -> ((s, dir) => {
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "validation").otherwise("test"))
        .orderBy(col("doc_id"))
    }),

    // ---- T4: rolling-hash document fingerprints — order-sensitive
    //      polynomial hash plus the winnowed (min-over-windows) variant
    "t4_rolling_fingerprint" -> ((s, dir) => {
      // native one-pass kernel for BOTH fingerprints (the HOF forms are
      // the documented reference semantics, spec-pinned equal): the
      // windowed variant was O(n·w) interpreted with a slice per window
      val fp = graft.plans.PolyFingerprintExpr.polyFingerprints(
        TextAnalysis.tokenHashes(col("text"), 1000000007L), w = 4)
      Tables.documents(s, dir)
        .select(col("doc_id"), fp.as("fp"))
        .select(col("doc_id"),
          col("fp").getField("poly_fp").as("poly_fp"),
          col("fp").getField("winnowed_fp").as("winnowed_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- corpus statistics: one-pass exact data-card numbers
    "t5_corpus_stats" -> ((s, dir) => {
      graft.text.CorpusStats.summary(Tables.documents(s, dir))
    }),

    // ---- token-length histogram (50-token buckets)
    "t6_length_histogram" -> ((s, dir) => {
      graft.text.CorpusStats.lengthHistogram(Tables.documents(s, dir), 50)
        .orderBy(col("bucket_start"))
    }),

    // ---- C1: the full corpus-curation pipeline COMPOSED — quality gate
    //      (token floor + digit-ratio cap) → exact dedup (min doc_id per
    //      normalized fingerprint) → near-dup CLUSTER removal (Jaccard
    //      pairs → connected components → representative only) →
    //      deterministic train-split selection. What a training-data prep
    //      job actually runs; every stage is an operator gated elsewhere,
    //      here their composition is gated end-to-end.
    "c1_corpus_curation" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val nTokens = TextAnalysis.tokenCount(col("text"))
      val digitRatio = (length(col("text")) -
        length(regexp_replace(col("text"), "[0-9]", ""))).cast("double") /
        greatest(length(col("text")), lit(1))
      val quality = docs.filter(nTokens >= 5 && digitRatio <= 0.3)
      val fp = quality.withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      // `exact` fans out three ways (pair detection, the decision frame,
      // and the join-back); without materialization the quality filter +
      // fingerprint groupBy would run once per consumer. persist (not
      // localCheckpoint) keeps the plan's statistics visible so the
      // downstream joins stay broadcastable.
      val exact = graft.ops.Dedup.keepFirst(fp, Seq("__fp"), Seq(col("doc_id")))
        .drop("__fp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = MinHash.exactJaccardPairs(exact, "doc_id", "text",
        n = 2, threshold = 0.8)
      val kept = exact.join(
        Clusters.dedupPlan(exact, "doc_id", pairs)
          .filter(col("keep")).select("doc_id"), "doc_id")
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      kept.select(col("doc_id"), nTokens.as("n_tokens"), bucket.as("bucket"))
        .filter(col("bucket") < 80)
        .orderBy(col("doc_id"))
    }),

    // ---- T12: deterministic WEIGHTED sample — Efraimidis-Spirakis A-Res
    //      with the uniform drawn from a salted hash instead of an RNG:
    //      key = u^(1/w), take the top-k keys per stratum. Sampling
    //      probability scales with the weight (token count here: long docs
    //      are likelier), yet the draw is reproducible across runs,
    //      engines, and partitionings — no RNG state anywhere. One window
    //      per stratum, map-side before it.
    "t12_weighted_sample" -> ((s, dir) => {
      val k = 5
      // u ∈ (0,1]: (h+1)/2^60 over the 60-bit md5-derived hash
      val h = graft.plans.Md5Long60Expr.md5Long60(concat(col("doc_id").cast("string"),
        lit(":graft-wsample-v1")))
      val u = (h.cast("double") + 1.0) / lit(1152921504606846976.0) // 2^60
      val wgt = TextAnalysis.tokenCount(col("text")).cast("double")
      val key = pow(u, lit(1.0) / greatest(wgt, lit(1.0)))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(col("key").desc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), wgt.cast("long").as("n_tokens"),
          round(key, 9).as("key"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("lang"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("n_tokens"))
        .orderBy(col("lang"), col("rank"))
    }),

    // ---- T13: vocabulary-size sketch — KMV k-minimum-values distinct
    //      count as a native TypedImperativeAggregate: ≤ k longs of state
    //      per group, map-side combined, mergeable across partitions/
    //      datasets. Deterministic given the md5-derived hash input, so
    //      the ESTIMATE itself is oracle-gated exactly (DuckDB recomputes
    //      the k-th minimum with a window); n_exact shows the error.
    "t13_vocab_sketch" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("lang"),
          explode(TextAnalysis.shingles(col("text"), 2)).as("shingle"))
      val h = graft.plans.Md5Long60Expr.md5Long60(col("shingle"))
      sh.select(col("lang"), h.as("h"))
        .groupBy(col("lang"))
        .agg(round(graft.plans.KmvSketchAgg.kmvDistinct(col("h"), 256), 6)
            .as("est_distinct"),
          countDistinct(col("h")).as("n_exact"))
        .orderBy(col("lang"))
    }),

    // ---- T15: PII redaction — emails/URLs replaced with typed
    //      placeholder tokens (map-only regexp pass; same patterns t10
    //      counts). The redaction that actually ships in a curation run.
    "t15_redact" -> ((s, dir) => {
      Tables.documents(s, dir).select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), TextAnalysis.urlPattern, "<URL>"),
            TextAnalysis.emailPattern, "<EMAIL>").as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---- C3: benchmark decontamination — train docs sharing any word
    //      8-gram with the held-out split (the t7 hash buckets) are
    //      flagged with overlap counts. Inverted-index join on shingle
    //      hashes with df-pruning at the 99.9th percentile (the d2
    //      stop-shingle defense): work scales with matches, never
    //      train×test, even under license-header duplication.
    "c3_contamination" -> ((s, dir) => {
      val bucket = graft.text.TextAnalysis.splitBucket(col("doc_id"))
      graft.text.Decontaminate.overlaps(
          Tables.documents(s, dir), "doc_id", "text", 8,
          trainPred = bucket < 80, testPred = bucket >= 90)
        .orderBy(col("doc_id"))
    }),

    // ---- T29: PER-GROUP quantile cards via the native bottom-k
    //      aggregate — the grouped form of t27 without its declarative
    //      failure modes (a per-group window sorts the whole corpus;
    //      collect_list holds unbounded state): ≤ k (hash, value) pairs
    //      of mergeable state per language, map-side combined.
    "t29_grouped_quantiles" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("lang"),
        graft.plans.Md5Long60Expr.md5Long60(concat(col("doc_id").cast("string"),
          lit(graft.ops.BottomK.Salt))).as("bk"),
        size(filter(graft.text.TextAnalysis.tokens(col("text")),
          t => t =!= "")).cast("long").as("n_toks"))
      docs.groupBy(col("lang"))
        .agg(graft.plans.BottomKAgg.bottomKValues(col("bk"), col("n_toks"), 256)
          .as("vs"))
        .select(col("lang"), explode(col("vs")).as("v"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sample"),
          round(expr("percentile(v, 0.5)"), 4).as("p50"),
          round(expr("percentile(v, 0.9)"), 4).as("p90"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax"))
        .orderBy(col("lang"))
    }),

    // ---- T30: incremental quantile cards — per-(lang, source) sample
    //      STATES merged per lang (the t16 shape for quantiles): min-k
    //      union is exact, so the merged card equals t29's direct one
    //      bit-for-bit and gates against the SAME oracle — stored
    //      per-shard states union without re-reading old data.
    "t30_sample_union" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("lang"), col("source"),
        graft.plans.Md5Long60Expr.md5Long60(concat(col("doc_id").cast("string"),
          lit(graft.ops.BottomK.Salt))).as("bk"),
        size(filter(graft.text.TextAnalysis.tokens(col("text")),
          t => t =!= "")).cast("long").as("n_toks"))
      docs.groupBy(col("lang"), col("source"))
        .agg(graft.plans.BottomKAgg.bottomKState(col("bk"), col("n_toks"), 256)
          .as("st"))
        .groupBy(col("lang"))
        .agg(graft.plans.BottomKAgg.bottomKMerge(col("st"), 256).as("vs"))
        .select(col("lang"), explode(col("vs")).as("v"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sample"),
          round(expr("percentile(v, 0.5)"), 4).as("p50"),
          round(expr("percentile(v, 0.9)"), 4).as("p90"),
          min(col("v")).as("vmin"), max(col("v")).as("vmax"))
        .orderBy(col("lang"))
    }),

    // ---- T28: the composite one-row CORPUS REPORT CARD — what a
    //      pipeline prints per snapshot before training: counts, token
    //      totals, KMV vocabulary estimate, bottom-k length quantiles,
    //      dominant source share, and exact-dup rate. Every piece is a
    //      bounded-state aggregate (sketches, min-k, count-distinct of
    //      60-bit fingerprints); the 1-row sides compose via scalar
    //      broadcasts, never a corpus join.
    "t28_corpus_card" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // one tokenize pass shared by the counts, the sample, and the
      // source rollup (three consumers)
      val toks = docs.select(col("doc_id"), col("source"), col("text"),
        size(filter(graft.text.TextAnalysis.tokens(col("text")),
          t => t =!= "")).cast("long").as("n_toks"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val base = toks.agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(graft.plans.Md5Long60Expr.md5Long60(col("text"))).as("n_distinct"))
      val vocab = docs
        .select(explode(graft.text.TextAnalysis.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .select(graft.plans.Md5Long60Expr.md5Long60(col("w")).as("h"))
        .agg(round(graft.plans.KmvSketchAgg.kmvDistinct(col("h"), 256), 6)
          .as("vocab_est"))
      val quant = graft.ops.BottomK.sample(toks, "doc_id", 1024).agg(
        round(expr("percentile(n_toks, 0.5)"), 4).as("p50_tok"),
        round(expr("percentile(n_toks, 0.9)"), 4).as("p90_tok"))
      val top = toks.groupBy(col("source")).agg(count(lit(1)).as("top_n"))
        .orderBy(col("top_n").desc, col("source").asc).limit(1)
        .select(col("source").as("top_source"), col("top_n"))
      base.crossJoin(vocab).crossJoin(quant).crossJoin(top)
        .select(col("n_docs"), col("n_tokens"), col("vocab_est"),
          col("p50_tok"), col("p90_tok"), col("top_source"),
          expr("top_n * 1000000 div n_docs").as("top_source_ppm"),
          expr("(n_docs - n_distinct) * 1000000 div n_docs").as("dup_ppm"))
    }),

    // ---- T27: quantile data card from a bottom-k hash sample — the
    //      sketch that completes the mergeable family (KMV=cardinality,
    //      Bloom=membership, MG=frequency): min-k of salted id hashes is
    //      a function of the SET, so the sample — and hence every
    //      estimate — is deterministic and merge-order independent at
    //      64 KB of state for any corpus size. Executed as
    //      TakeOrderedAndProject (per-partition k-heaps), no shuffle.
    "t27_quantile_sketch" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(filter(graft.text.TextAnalysis.tokens(col("text")),
          t => t =!= "")).cast("long").as("n_toks"))
      graft.ops.BottomK.quantileEstimates(docs, "doc_id", "n_toks", k = 1024)
    }),

    // ---- T26: source-pair overlap matrix — one minhash signature per
    //      SOURCE (128 B of state regardless of corpus size), pairwise
    //      estimated Jaccard from component agreement in integer ppm:
    //      the data card a mixture designer (c6) reads to see which
    //      corpora largely restate each other.
    "t26_source_overlap" -> ((s, dir) => {
      graft.dedup.MinHash.groupOverlapMatrix(Tables.documents(s, dir),
          "source", "text", n = 2)
        .orderBy(col("source_a"), col("source_b"))
    }),

    // ---- T25: per-doc novelty / memorization-risk score — for every
    //      train doc, the fraction of its distinct 8-gram shingles that
    //      already occur in the held-out reference split, as exact
    //      integer ppm. Unlike c3 there is no pair explosion (the
    //      reference side is DISTINCT keys, fan-out ≤ 1:1), so no df
    //      pruning is needed and every train doc gets a row.
    "t25_novelty" -> ((s, dir) => {
      val bucket = graft.text.TextAnalysis.splitBucket(col("doc_id"))
      graft.text.Decontaminate.noveltyScores(
          Tables.documents(s, dir), "doc_id", "text", 8,
          trainPred = bucket < 80, testPred = bucket >= 90)
        .orderBy(col("doc_id"))
    }),

    // ---- C5: bloom-prefiltered decontamination — the held-out split's
    //      shingles become ONE broadcast Bloom state and the train side
    //      is pre-filtered map-side before its shuffle; the exact join
    //      kills false positives, so the result (and the oracle) is the
    //      EXACT unpruned contamination answer. This is the 100 TB
    //      membership shape: shuffle volume scales with matches + fp
    //      rate, never with the corpus.
    "c5_bloom_decontaminate" -> ((s, dir) => {
      val bucket = graft.text.TextAnalysis.splitBucket(col("doc_id"))
      graft.text.Decontaminate.overlapsBloom(
          Tables.documents(s, dir), "doc_id", "text", 8,
          trainPred = bucket < 80, testPred = bucket >= 90)
        .orderBy(col("doc_id"))
    }),

    // ---- T17: heavy hitters via Misra-Gries candidates + exact confirm.
    //      The k=256 summary is ONE map-combined pass with bounded state
    //      and is a PROVEN superset of every token above n/257; the corpus
    //      then semi-joins the broadcast candidates and exact-counts only
    //      those, so the 1%-threshold answer is exact (oracle below is
    //      plain SQL) while the full-vocabulary groupBy shuffle never
    //      happens — the same exact-over-approximate composition as c5.
    "t17_heavy_hitters" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(filter(TextAnalysis.tokens(col("text")),
          t => t =!= "")).as("token"))
        .withColumn("h",
          graft.plans.Md5Long60Expr.md5Long60(col("token")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = tok
        .agg(graft.plans.MisraGriesAgg.mgSummary(col("h"), 256).as("mg"))
        .select(explode(col("mg")).as("e")).select(col("e").getField("h").as("h"))
      val totalRow = tok.agg(count(lit(1)).as("n"))
      tok.join(broadcast(cand), Seq("h"), "left_semi")
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(totalRow))
        // integer-exact 1% threshold: cnt >= n/100 ⟺ 100·cnt >= n, and
        // 1% > 1/257 so the candidate superset guarantee covers it
        .filter(col("cnt") * 100 >= col("n"))
        .select(col("token"), col("cnt"))
        .orderBy(col("cnt").desc, col("token"))
    }),

    // ---- T16: sketch-union cardinality — one stored sketch per
    //      (lang, source) shard, merged per lang. k-minimum union is
    //      EXACT, so the merged estimate equals t13's direct estimator
    //      bit-for-bit and the same DuckDB oracle gates the merge path.
    //      This is the incremental shape: shard sketches persist, old
    //      data is never re-read.
    "t16_sketch_union" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("lang"), col("source"),
          explode(TextAnalysis.shingles(col("text"), 2)).as("shingle"))
      val h = graft.plans.Md5Long60Expr.md5Long60(col("shingle"))
      sh.select(col("lang"), col("source"), h.as("h"))
        .groupBy(col("lang"), col("source"))
        .agg(graft.plans.KmvSketchAgg.kmvState(col("h"), 256).as("sketch"))
        .groupBy(col("lang"))
        .agg(round(graft.plans.KmvSketchAgg.kmvMerge(col("sketch"), 256), 6)
          .as("est_distinct"))
        .orderBy(col("lang"))
    }),

    // ---- T14: sequence packing — concatenate documents (in a fixed
    //      deterministic order) into pretraining sequences of ~2048
    //      tokens: pack_id = floor(tokens-before-this-doc / 2048) per
    //      language. One partitioned running sum — at scale the window is
    //      per (source, shard) so no single-task window exists; the
    //      pack boundaries are reproducible across any partitioning.
    "t14_sequence_pack" -> ((s, dir) => {
      val ctx = 2048L
      val nTokens = TextAnalysis.tokenCount(col("text")).cast("long")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), nTokens.as("n_tokens"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          floor(col("cum_before") / ctx).as("pack_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),

    // ---- T14b: the SHARDED sequence-pack form t14's comment promises at
    //      scale, now hash-verified instead of comment-ware (r8 #7): pack
    //      boundaries per (lang, shard) composing t23's salted-md5 shard
    //      hash — the widest window partition is one shard of one
    //      language, so no single-task window exists at any corpus size
    //      and boundaries stay reproducible across any partitioning.
    "t14b_sharded_pack" -> ((s, dir) => {
      val ctx = 2048L
      val nTokens = TextAnalysis.tokenCount(col("text")).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("lang"), graft.ops.Sharding.shardCol(col("doc_id"), 8).as("shard"),
          col("doc_id"), nTokens.as("n_tokens"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
        .select(col("lang"), col("shard"), col("doc_id"), col("n_tokens"),
          floor(col("cum_before") / ctx).as("pack_id"))
        .orderBy(col("lang"), col("shard"), col("doc_id"))
    }),

    // ---- C2: token-budget selection — rank documents by quality (then
    //      id for determinism) and keep the prefix whose cumulative token
    //      count fits a budget: the data-mix step that fills a pretraining
    //      quota with the best available text. One global ranked running
    //      sum; at scale the same shape runs per-stratum (partitionBy
    //      source/language) so no single-task window exists — exercised
    //      here per language.
    "c2_token_budget" -> ((s, dir) => {
      val budget = 20000L
      val nTokens = TextAnalysis.tokenCount(col("text"))
      val ranked = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        nTokens.cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      ranked
        .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= budget)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("quality"),
          col("cum_tokens"))
        .orderBy(col("lang"), col("cum_tokens"))
    }),

    // ---- D1: exact dedup by normalized-content fingerprint
    "d1_exact_dedup" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .groupBy(col("fingerprint"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
        .orderBy(col("fingerprint"))
    }),

    // ---- D2: exact word-2gram Jaccard near-dups (inverted-index join,
    //      document-frequency-pruned so stop-shingles can't go quadratic)
    "d2_ngram_jaccard" -> ((s, dir) => {
      pairs08(s, dir).orderBy(col("id_a"), col("id_b"))
    }),

    // ---- D14: quality-aware dedup decisions — d6's clusters with the
    //      keep rule a production pipeline wants: the member with the
    //      highest t3 quality score survives (ties → smallest id), not
    //      the smallest id. Representative choice is ONE max(struct)
    //      aggregate per cluster, no corpus window.
    "d14_quality_keep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.dedup.Clusters.dedupPlanByQuality(scored, "doc_id", "quality",
          pairs08(s, dir))
        .orderBy(col("doc_id"))
    }),

    // ---- D13: CONTAINMENT pairs — |A∩B| / min(|A|,|B|), the subset
    //      detector Jaccard structurally misses (a short doc embedded in
    //      a long one: containment 1, Jaccard ≈ |short|/|long|) — quote
    //      farms, truncated mirrors (Broder 1997 defines both scores).
    //      Same inverted-index shape and df guard as d2.
    "d13_containment_pairs" -> ((s, dir) => {
      MinHash.exactContainmentPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 2, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- D9: duplicate-SPAN detection (exact substring dedup, Lee et al.
    //      2021): 5-token windows occurring >1× anywhere in the corpus
    //      mark spans, overlapping/adjacent spans merge per doc — finds
    //      which PARTS of kept docs are boilerplate, complementing the
    //      whole-document dedup family
    //      The gate runs the string-key form (the oracle's own key);
    //      the library default is the xxhash64 fingerprint key —
    //      SpansSpec pins the two row-identical.
    "d9_dup_spans" -> ((s, dir) => {
      graft.dedup.Spans.duplicateSpans(Tables.documents(s, dir),
          "doc_id", "text", k = 5, hashedKeys = false)
        .orderBy(col("doc_id"))
    }),

    // ---- C4: the CUT step of ExactSubstr dedup — d9's merged spans
    //      removed from the text, docs re-assembled from surviving
    //      tokens. Every doc comes back (clean docs pass through), so
    //      this composes directly under c1-style curation.
    "c4_span_clean" -> ((s, dir) => {
      graft.dedup.Spans.cleanText(Tables.documents(s, dir),
          "doc_id", "text", k = 5, hashedKeys = false)
        .orderBy(col("doc_id"))
    }),

    // ---- D5: near-dup CLUSTER dedup — connected components over the
    //      Jaccard pair graph, one representative kept per component
    "d5_dedup_clusters" -> ((s, dir) => {
      Clusters.connectedComponentsAdaptive(pairs08(s, dir), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- D6: the dedup DECISION — every document with its cluster id and
    //      a keep flag for the representative (what a pipeline actually
    //      filters on; singletons keep themselves)
    "d6_dedup_decisions" -> ((s, dir) => {
      Clusters.dedupPlan(Tables.documents(s, dir), "doc_id", pairs08(s, dir))
        .orderBy(col("doc_id"))
    }),

    // ---- D3: MinHash signatures → LSH banding → verified Jaccard
    "d3_minhash_lsh" -> ((s, dir) => {
      MinHash.nearDuplicates(Tables.documents(s, dir), "doc_id", "text",
          n = 2, threshold = 0.7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- D12: LSH recall evaluation — x12's acceptance check for the
    //      TEXT dedup family: d3's banded pipeline measured against the
    //      unpruned exact Jaccard pair set at the same threshold. LSH
    //      verification is exact, so precision is 1 by construction and
    //      the metric is pure banding recall; integer ppm keeps the
    //      division engine-exact.
    "d12_lsh_recall" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // ground truth on a FIXED 500-doc PROBE PANEL (x12's estimator
      // shape; first 500 ids — deterministic, oracle-replayable): exact
      // (probe, neighbor) pairs from the unpruned inverted index. A fixed
      // panel (not a fixed rate) is the scale knob: truth cost grows with
      // DUPLICATION DENSITY only, never corpus × density — the 10×-dup
      // stress measured a rate-based panel at 100× intermediate fan-out
      // (SCALE.md round 8).
      // INVARIANT: the exact-truth side deliberately has NO df guard (dup
      // groups share exactly the hot shingles — pruning them would
      // falsify truth), so this fixed panel is the ONLY thing standing
      // between this query and the d2 quadratic hazard. Do not widen the
      // panel proportionally to the corpus.
      val probeIds = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(500)
      val sharr = MinHash.hashedShingleArray(docs, "doc_id", "text", n = 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // one md5 pass: truth explodes the same arrays the LSH side signs
      val sh = sharr.select(col("doc_id"), explode(col("sharr")).as("shash"))
      val sizes = sharr.select(col("doc_id"), size(col("sharr")).as("n"))
      val exact = sh.join(broadcast(probeIds), Seq("doc_id"), "left_semi")
        .select(col("doc_id").as("q"), col("shash"))
        .join(sh.select(col("doc_id").as("nbr"), col("shash")), "shash")
        .filter(col("q") =!= col("nbr"))
        .groupBy(col("q"), col("nbr")).agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("q"), col("n").as("nq")), "q")
        .join(sizes.select(col("doc_id").as("nbr"), col("n").as("nn")), "nbr")
        .filter(col("inter").cast("double")
          / (col("nq") + col("nn") - col("inter")) >= 0.7)
        .select(col("q"), col("nbr"))
      val lshPairs = MinHash.nearDuplicatesFromArray(sharr, "doc_id",
        threshold = 0.7)
      val lsh = lshPairs.select(col("id_a").as("q"), col("id_b").as("nbr"))
        .unionAll(lshPairs.select(col("id_b").as("q"), col("id_a").as("nbr")))
        .join(broadcast(probeIds.withColumnRenamed("doc_id", "q")), Seq("q"),
          "left_semi")
      val ne = exact.agg(count(lit(1)).as("n_exact"))
      val nl = lsh.agg(count(lit(1)).as("n_lsh"))
      val nh = exact.join(lsh, Seq("q", "nbr"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
      ne.crossJoin(broadcast(nl)).crossJoin(broadcast(nh))
        .select(col("n_exact"), col("n_lsh"), col("n_hit"),
          expr("CAST(CASE WHEN n_exact = 0 THEN 1000000 " +
            "ELSE (n_hit * 1000000) DIV n_exact END AS BIGINT)").as("recall_ppm"))
    }),

    // ---- D4: SimHash 32-bit fingerprints
    "d4_simhash" -> ((s, dir) => {
      SimHash.fingerprints(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- D7: SimHash near-dup PAIRS — pigeonhole 8-bit block join, then
    //      exact Hamming verify (blocking is lossless for dist ≤ 3: three
    //      differing bits touch at most 3 of the 4 blocks); the oracle is
    //      the brute-force quadratic scan the blocking avoids
    "d7_simhash_pairs" -> ((s, dir) => {
      SimHash.nearPairs(Tables.documents(s, dir), "doc_id", "text", maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- D11: winnowing-collision near-dup candidates (Schleimer et
    //      al. 2003, the MOSS fingerprinting scheme): docs whose
    //      winnowed min-window hash (t4) COINCIDES are candidate pairs —
    //      an O(n) equality join on one long per doc, the cheapest
    //      member of the dedup family (vs LSH's banding) with the
    //      winnowing guarantee that long shared runs always collide.
    //      Candidates are verified by exact 4-gram intersection, so a
    //      hash collision can never produce a false pair. Hot-fingerprint
    //      groups (boilerplate shared by more docs than the adaptive
    //      cutoff) are star-paired instead of all-paired, so the pair
    //      stage stays linear under skew — see winnowCollisionPairs.
    "d11_winnow_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // both frames feed TWO joins each — persist so the md5-heavy
      // interpreted projections run once (same device as d3's sharr)
      val f = TextAnalysis.winnowedFingerprints(docs, "doc_id", "text", w = 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = TextAnalysis.winnowCollisionPairs(f, "doc_id")
      val sh = MinHash.hashedShingleArray(docs, "doc_id", "text", 4)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs
        .join(sh.select(col("doc_id").as("id_a"), col("sharr").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sharr").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_shared"))
        .filter(col("n_shared") >= 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- D10: cross-snapshot dedup — each doc of the incoming batch
    //      (t7 buckets ≥ 80) LSH-checked against the prior snapshot
    //      (buckets < 80); per new doc: its best old match and how many
    //      old near-dups it has. The asymmetric twin of d3: old↔old
    //      pairs are never generated, so a daily batch costs batch-size
    //      work against a persisted band index, not a corpus re-pair.
    "d10_cross_snapshot_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      val pairs = MinHash.nearDuplicatesAgainst(
        docs.filter(bucket >= 80), docs.filter(bucket < 80),
        "doc_id", "text", n = 2, threshold = 0.7)
      crossSnapshotBest(pairs)
    }),

    // ---- D15: INCREMENTAL snapshot-index maintenance — the LSH member
    //      of the append trio (r4 = BM25, x18 = IVF): the stored index
    //      covers buckets <60, the 60-79 slice is a finalized batch
    //      folded in via `appendToSnapshotIndex` (per-doc rows, disjoint
    //      ids ⟹ append ≡ rebuild row-for-row), and today's ≥80 batch
    //      then dedups against the APPENDED index. The oracle is d10's
    //      fresh-full-index replay VERBATIM — a green row proves the
    //      append introduced and lost nothing. Non-vacuous at sf0.01:
    //      one of the seven matches (374 → 295) lives in the appended
    //      60-79 wave, so a broken append loses a row.
    "d15_index_append" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      def sharrOf(pred: org.apache.spark.sql.Column) =
        MinHash.hashedShingleArray(docs.filter(pred), "doc_id", "text", 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val appended = MinHash.appendToSnapshotIndex(
        sharrOf(bucket >= 60 && bucket < 80),
        MinHash.snapshotIndex(sharrOf(bucket < 60), "doc_id"), "doc_id")
      crossSnapshotBest(MinHash.nearDuplicatesAgainstIndex(
        docs.filter(bucket >= 80), appended, "doc_id", "text",
        n = 2, threshold = 0.7))
    }),

    // ---- D16: INCREMENTAL cluster-label maintenance — the connected-
    //      components member of the append family (r4 = BM25, x18 = IVF,
    //      d15 = LSH band index): labels stored from the old snapshot's
    //      pair graph (t7 buckets < 80) are folded together with the new
    //      wave's pairs (any pair touching a ≥80 doc) via
    //      `Clusters.appendLabels` — stored rows act as star edges, so
    //      append ≡ full rebuild EXACTLY, and the oracle is d5's
    //      full-rebuild SQL verbatim. Non-vacuous at sf0.01: 33 of the 85
    //      pairs cross the snapshot boundary, so a broken append mislabels
    //      (or loses) real clusters.
    "d16_cluster_append" -> ((s, dir) => {
      // the shingle-join lineage is the expensive part and feeds two
      // filters — the memoized persisted pair set serves both
      val pairs = pairs08(s, dir)
      val oldSide = (c: org.apache.spark.sql.Column) =>
        TextAnalysis.splitBucket(c) < 80
      val stored = Clusters.connectedComponentsAdaptive(
        pairs.filter(oldSide(col("id_a")) && oldSide(col("id_b"))), "id_a", "id_b")
      Clusters.appendLabels(stored,
          pairs.filter(!(oldSide(col("id_a")) && oldSide(col("id_b")))))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- D17: REPRESENTATIVE-ONLY serving index — the composition the
    //      append family builds toward (SCALE.md's prescription for
    //      d15's duplication-density blowup): the stored LSH index holds
    //      one band-row set per CLUSTER (its min-label rep), so both
    //      index size and per-doc verification fan-out track the cluster
    //      count, which duplication density does not inflate. Three-phase
    //      like d15: state built over buckets <60, the 60-79 wave folded
    //      INCREMENTALLY (rep-mediated pair discovery → appendLabels →
    //      rep retirement/promotion in the index), today's ≥80 batch
    //      searched against the maintained index. The oracle rebuilds the
    //      same rep-mediated semantics from scratch in SQL (two recursive
    //      CCs) — a green row proves the incremental fold introduced and
    //      lost nothing vs the full replay.
    "d17_rep_index_serving" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      // build + append come from the memoized lifecycle d19 shares
      val st1 = repLifecycle(s, dir)
      val querySharr = MinHash.hashedShingleArray(
          docs.filter(bucket >= 80), "doc_id", "text", 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      crossSnapshotBest(graft.dedup.RepIndex.search(querySharr, st1, "doc_id"))
        .withColumnRenamed("best_old_id", "best_rep_id")
        .withColumnRenamed("n_dups", "n_dup_clusters")
    }),

    // ---- D19: rep-index TOMBSTONE deletes — the delete member of the
    //      serving lifecycle (r7 = BM25, ivfDeleteCells = IVF,
    //      deleteFromSnapshotIndex = LSH; this is the hard one: deleting
    //      a cluster REPRESENTATIVE promotes the next-min survivor, whose
    //      array lives in the state's cold member store, never the
    //      corpus). d17's first two phases plus a delete wave: tombstone
    //      the REPRESENTATIVE of every multi-member cluster, so every
    //      such cluster must re-root at its next-min survivor and promote
    //      it into the index from the cold store — 2-member clusters
    //      collapse to fresh singleton reps, ≥3-member clusters keep a
    //      NON-rep survivor too (both in_index outcomes populated). The
    //      gated output is the POST-DELETE STATE — every surviving doc's
    //      re-rooted cluster_id plus whether its rows are REALLY in the
    //      serving index (computed from st2's stored rows, not from the
    //      labels, so a promotion that forgot the index rows goes red
    //      while the oracle derives membership independently from its
    //      from-scratch replay). Search-after-delete is pinned by
    //      RepIndexSpec / the Pipeline rehearsal (at sf0.01 every
    //      query-matched cluster is a singleton, so a search-shaped gate
    //      would be vacuous for promotion — measured, not assumed).
    "d19_rep_index_delete" -> ((s, dir) => {
      // the post-append state is the expensive frame (two CC fixpoints
      // over the pair graph) and EVERY delete output reads it — via
      // tomb, via surv, via the index semi-joins. The memoized lifecycle
      // (shared with d17) persists all four frames once
      val st1 = repLifecycle(s, dir)
      val tomb = st1.labels.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select(col("cluster_id").as("doc_id"))
      val st2 = graft.dedup.RepIndex.delete(tomb, st1, "doc_id")
      st2.labels
        .join(st2.sharr.select(col("doc_id").as("id"), lit(true).as("in_index")),
          Seq("id"), "left")
        .select(col("id").as("doc_id"), col("cluster_id"),
          coalesce(col("in_index"), lit(false)).as("in_index"))
        .orderBy(col("doc_id"))
    }),

    // ---- D18: INCREMENTAL quality-keep — d14's production keep rule
    //      (highest quality survives, ties → smallest id) maintained
    //      across an append: per-cluster bests are associative
    //      max(struct(quality, −id)) state stored alongside d16's labels,
    //      re-keyed to merged clusters and max-merged with the batch.
    //      The oracle is d14's full-rebuild SQL verbatim — the composed
    //      (labels ⋈ bests) frame must equal recomputing clusters and
    //      representatives from every pair and every score.
    "d18_quality_keep_append" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = pairs08(s, dir)
      val oldDoc = (c: org.apache.spark.sql.Column) =>
        TextAnalysis.splitBucket(c) < 80
      // stored state over the old snapshot: every old doc labeled
      // (singletons label themselves) + per-cluster bests
      val storedLabels = scored.filter(oldDoc(col("doc_id")))
        .select(col("doc_id").as("id"))
        .join(Clusters.connectedComponentsAdaptive(
          pairs.filter(oldDoc(col("id_a")) && oldDoc(col("id_b"))),
          "id_a", "id_b"), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      val storedBests = Clusters.qualityBests(storedLabels,
        scored.filter(oldDoc(col("doc_id"))), "doc_id", "quality")
      val (labels, bests) = Clusters.appendQualityKeep(
        storedLabels, storedBests, scored.filter(!oldDoc(col("doc_id"))),
        pairs.filter(!(oldDoc(col("id_a")) && oldDoc(col("id_b")))),
        "doc_id", "quality")
      labels.join(bests, "cluster_id")
        .select(col("id").as("doc_id"), col("cluster_id"), col("rep_id"),
          (col("id") === col("rep_id")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- T19: overlapping token-window chunking — the RAG/embedding
    //      pipeline primitive (64-token windows every 48 tokens, overlap
    //      16); map-side array fan-out, no shuffle, no UDF
    "t19_chunk_windows" -> ((s, dir) => {
      TextAnalysis.chunkWindows(Tables.documents(s, dir), "doc_id", "text",
          size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- T22: Zipf rank-frequency data card — least-squares slope of
    //      log count over log rank (natural language sits near −1; far
    //      from it flags template/machine text), with vocab size, token
    //      total, and top-token share. Milli-fixed logs → exact integer
    //      regression sums → engine-exact slope.
    "t22_zipf_card" -> ((s, dir) => {
      TextAnalysis.zipfCard(Tables.documents(s, dir), "doc_id", "text")
    }),

    // ---- T21: interpolated BIGRAM cross-entropy — t18 upgraded one
    //      order toward the KenLM model CCNet uses: per-transition
    //      p(w2|w1) = λ·p_bi + (1−λ)·p_uni, both add-one-smoothed on the
    //      train split; single-token docs fall back to the unigram score
    "t21_bigram_logprob" -> ((s, dir) => {
      TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- T20: REAL BPE tokenization — merges learned from the corpus's
    //      own word histogram (one vocabulary-sized aggregation, then
    //      driver-side pair merging, the shape production BPE trainers
    //      use), encoding map-side under broadcast ranks. The iterative
    //      TRAINING loop is not SQL-expressible (BpeSpec carries it:
    //      hand-derived merge sequence, round-trip, unseen-word
    //      segmentation, distributed≡local training), but the map-side
    //      ENCODE — the part that runs at corpus scale — is a pure
    //      function of the learned merge table, which the oracle replays
    //      in DuckDB: the merges are emitted as SQL literals and a
    //      recursive CTE applies the same leftmost-lowest-rank greedy
    //      merge loop per distinct word (see bpeOracleSql).
    "t20_bpe_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.text.Bpe.train(docs, "text", numMerges = 64)
      // stash for the oracle: `oracle` is a def the Verify harness reads
      // AFTER running the queries, so the learned merge table can be
      // emitted as SQL literals for the DuckDB recursive-CTE encoder
      lastBpeMerges = merges
      graft.text.Bpe.encode(s, docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }),

    // ---- C6: corpus mixing — mT5/XLM-R alpha-sampling (temperature)
    //      reweighting: per-source factors flattening the natural token
    //      distribution toward p^0.5, realized as a deterministic
    //      per-document multiplicity (floor + salted-hash Bernoulli on
    //      the fractional part). Source-sized aggregation + broadcast
    //      stamp — nothing corpus-sized shuffles.
    "c6_mixture_weights" -> ((s, dir) => {
      TextAnalysis.mixtureWeights(Tables.documents(s, dir), "doc_id", "text",
          "source")
        .orderBy(col("doc_id"))
    }),

    // ---- C7: curation v2 — the round-7 operators composed into one
    //      manifest: perplexity gate (t18 xent at or below the corpus's
    //      own 90th percentile — self-calibrating, a FIXED cutoff is
    //      corpus-specific and goes vacuous when the corpus shifts, the
    //      same failure mode SCALE.md documents for fixed maxDf) ∧ not a
    //      near-dup of the prior snapshot (d10 anti-join) ∧ α-sampling
    //      multiplicity ≥ 1 (c6). What a pipeline materializes before
    //      tokenization: kept docs with their sampling weights.
    "c7_curation_v2" -> ((s, dir) => {
      val g = curationGates(Tables.documents(s, dir))
      g.scored
        .join(g.dupOfOld, Seq("doc_id"), "left_anti")
        .crossJoin(broadcast(g.thr))
        .filter(col("xent") <= col("thr") && col("multiplicity") >= 1)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("xent"),
          col("multiplicity"))
        .orderBy(col("doc_id"))
    }),

    // ---- C11: curation PROVENANCE — c7's decision per doc with the
    //      REASON bits instead of a filtered keep set, plus the t25
    //      novelty gate: the audit trail a pipeline stores so "why was
    //      doc X dropped" is a lookup, not a re-run. Same gates, same
    //      thresholds — kept == c7 membership ∧ novelty (spec-free by
    //      construction: both derive from the shared CTE chain).
    "c11_curation_provenance" -> ((s, dir) => {
      // the token frame feeds the 8-gram novelty gate too: the corpus is
      // scanned and split once for all four gates (the t28 lesson)
      val g = curationGates(Tables.documents(s, dir))
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      val novelty = graft.text.Decontaminate.noveltyScoresFromTokens(g.toksed,
          "doc_id", "toks", 8, trainPred = bucket < 80, testPred = bucket >= 90)
        .select(col("doc_id"), col("overlap_ppm"))
      g.scored
        .join(g.dupOfOld.withColumn("__dup", lit(1)), Seq("doc_id"), "left")
        .join(novelty, Seq("doc_id"), "left")
        .crossJoin(broadcast(g.thr))
        .select(col("doc_id"),
          col("__dup").isNotNull.as("is_dup"),
          (col("xent") > col("thr")).as("hi_xent"),
          (col("multiplicity") < 1).as("zero_mult"),
          (coalesce(col("overlap_ppm"), lit(0L)) >= 500000L).as("high_overlap"))
        .withColumn("kept", !col("is_dup") && !col("hi_xent") &&
          !col("zero_mult") && !col("high_overlap"))
        .orderBy(col("doc_id"))
    }),

    // ---- C8: paragraph-level exact dedup (CCNet/Dolma's step between
    //      whole-doc dedup and span cutting): non-overlapping 20-token
    //      blocks stand in for paragraphs (this corpus has no newline
    //      structure); any block repeating an earlier one — (doc_id,
    //      block_idx) order — is cut, docs reassembled from survivors.
    //      String block keys here for the oracle; the xxhash64-keyed
    //      default is spec-pinned row-identical (the d9 pattern).
    "c8_paragraph_dedup" -> ((s, dir) => {
      TextAnalysis.blockDedup(Tables.documents(s, dir), "doc_id", "text",
          blockSize = 20, hashKeys = false)
        .orderBy(col("doc_id"))
    }),

    // ---- C9: INCREMENTAL paragraph dedup — the daily-batch workflow
    //      (d10's shape at paragraph granularity): the t7-bucket ≥80 slice
    //      plays the incoming batch, its blocks dedup against the <80
    //      snapshot's persisted block index AND within the batch itself.
    "c9_paragraph_increment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      val old = docs.filter(bucket < 80)
      val batch = docs.filter(bucket >= 80)
      TextAnalysis.blockDedupAgainst(batch,
          TextAnalysis.blockIndex(old, "doc_id", "text", 20, hashKeys = false),
          "doc_id", "text", 20, hashKeys = false)
        .orderBy(col("doc_id"))
    }),

    // ---- C10: c9 through the Dolma-style bloom path — index keys folded
    //      into one mergeable bloom aggregate (broadcast scalar), exact
    //      confirm join only for bloom-positive keys. Same oracle as c9:
    //      bloom fp handling and the xxhash64 keying are both on trial.
    "c10_paragraph_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      val old = docs.filter(bucket < 80)
      val batch = docs.filter(bucket >= 80)
      TextAnalysis.blockDedupAgainstBloom(batch,
          TextAnalysis.blockIndex(old, "doc_id", "text", 20),
          "doc_id", "text", 20)
        .orderBy(col("doc_id"))
    }),

    // ---- T23: shard manifest — the materialization tail: deterministic
    //      salted-md5 sharding with per-shard doc/token counts, an
    //      order-independent bit_xor content checksum (overflow-free at
    //      any scale, partition-merge invariant), and id bounds.
    "t23_shard_manifest" -> ((s, dir) => {
      graft.ops.Sharding.manifest(Tables.documents(s, dir), "doc_id", "text",
        nShards = 8)
    }),

    // ---- R1: BM25 lexical top-k — the SPARSE retrieval counterpart of
    //      the dense ANN family (x1/x4/x15): inverted-index join of the
    //      probe docs' terms against corpus postings, per-term
    //      contributions fixed to integer micro units before the pair sum
    //      (the t18 recipe), so scores and ranks are engine-exact.
    //      The index comes from the shared stored artifact (bm25IndexDir
    //      — spec-pinned score-identical through the round trip), so the
    //      bench suite tokenizes the corpus once for r1/r7/r8 instead of
    //      once per gate; the search itself is the same unpruned scoring.
    "r1_bm25_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.Bm25.searchIndex(docs.filter(col("doc_id") < 10),
          graft.text.Bm25.readIndex(s, GateArtifacts.bm25IndexDir(s, dir)),
          "doc_id", "text", k = 5, minIdfMicro = 0L)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- R1b: BM25 under the PRODUCTION pruning config — the same
    //      search as r1 with the `DefaultMinIdfMicro` cutoff active
    //      (terms in ≳82% of docs dropped from both join sides). This is
    //      the configuration whose postings fan-out stays bounded as
    //      stopword/duplication density grows (SCALE.md round 9: −36.4%
    //      scored join rows on the stopword-planted stress corpus,
    //      top-1 stable). The integer cutoff is emitted into the oracle,
    //      which prunes identically — note the sf testdata vocabulary
    //      tops out at df 80.4%, so at sf0.01 this gate pins the
    //      production CONFIG (value-identical to r1 there); the pruning
    //      MECHANISM is gated by Bm25PruneSpec's planted stopword.
    "r1b_bm25_pruned" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // rides the SAME shared stored artifact as r1/r7/r8 (the index is
      // identical — the cutoff is applied at SEARCH time), so the suite
      // no longer pays a second full-corpus tokenize+build per run; the
      // gate's point is the production `DefaultMinIdfMicro` search
      // config, which searchIndex applies by default (round-14
      // optimization; value-identical, oracle unchanged — the inline
      // build path stays exercised by r4's increment gate and
      // Bm25IndexSpec).
      graft.text.Bm25.searchIndex(docs.filter(col("doc_id") < 10),
          graft.text.Bm25.readIndex(s, GateArtifacts.bm25IndexDir(s, dir)),
          "doc_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- R4: INCREMENTAL index maintenance — the t7 <80 bucket plays
    //      the indexed snapshot, ≥80 the daily batch folded in via
    //      `appendToIndex` (associative merges: postings/doclen union,
    //      per-term df sum, stats sum). The oracle is the FULL-REBUILD
    //      scoring over the whole corpus, so the gate is the exact
    //      identity append(batch, index(old)) ≡ index(old ∪ batch) —
    //      score_micro included, under the production pruning config.
    "r4_bm25_increment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      // the indexed snapshot comes from a STORED artifact (bm25OldIndexDir
      // — the production cadence: the prior snapshot's index persists,
      // the daily batch folds in; round-14 optimization, same shape as
      // r1/r7/r8's shared artifact; parquet round trip score-identical
      // per Bm25IndexSpec, oracle unchanged = the full-rebuild scoring)
      val idx = graft.text.Bm25.appendToIndex(docs.filter(bucket >= 80),
        graft.text.Bm25.readIndex(s, GateArtifacts.bm25OldIndexDir(s, dir)),
        "doc_id", "text")
      graft.text.Bm25.searchIndex(docs.filter(col("doc_id") < 10), idx,
          "doc_id", "text", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- R7: TOMBSTONE deletes — the reference's soft-delete algebra
    //      (status flip, never remove) applied to the stored BM25 index:
    //      the t7 40-59 bucket is tombstoned out of a full-corpus index
    //      via `deleteFromIndex`, which recovers every deleted doc's
    //      contribution FROM THE INDEX ITSELF (postings/doclen anti-join,
    //      per-term df and the global stats subtract — all integer sums).
    //      The oracle REBUILDS scoring over the corpus minus the bucket,
    //      so the gate is the exact identity delete(t, index(all)) ≡
    //      index(all ∖ t), scores included — deleted docs don't just
    //      vanish from top-k, the survivors' idf/avgdl shift as if the
    //      deleted docs never existed.
    //      The delete recovers everything FROM THE STORED INDEX (the
    //      shared bm25IndexDir artifact — exactly the serving shape:
    //      tombstone a persisted index, never re-read the corpus).
    "r7_bm25_delete" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bucket = TextAnalysis.splitBucket(col("doc_id"))
      val idx = graft.text.Bm25.deleteFromIndex(
        docs.filter(bucket >= 40 && bucket < 60).select(col("doc_id")),
        graft.text.Bm25.readIndex(s, GateArtifacts.bm25IndexDir(s, dir)), "doc_id")
      graft.text.Bm25.searchIndex(docs.filter(col("doc_id") < 10), idx,
          "doc_id", "text", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- C13: DSIR — importance-resampled data selection (Xie et al.
    //      2023): the domain-TARGETED curation member (c6/c7 reweight by
    //      source size, t18/t21 filter on in-domain perplexity alone;
    //      DSIR scores log p_target − log p_raw, so a doc must look more
    //      like the target than like its own pool). Hashed-unigram LMs
    //      over a FIXED 4096-bucket vocabulary (the paper's hashed
    //      n-gram trick — both LMs constant-size at any corpus scale,
    //      broadcast into the scoring join), integer micro-nat
    //      arithmetic end-to-end (the t18 recipe), Gumbel-top-k on the
    //      log-weights with a deterministic salted-md5 Gumbel draw
    //      (Gumbel-top-k ≡ sampling without replacement ∝ the softmax —
    //      engine-exact because the key is integer addition). Target =
    //      src0's token distribution; raw pool = every other source.
    "c13_dsir_select" -> ((s, dir) => {
      graft.text.Dsir.select(Tables.documents(s, dir), "doc_id", "text",
          "source", targetSource = "src0", n = 100)
        .orderBy(col("rank"))
    }),

    // ---- C13b: the PRODUCTION split of c13 — the model trains ONCE and
    //      persists (writeModel: LM counters + totals + content-
    //      fingerprint commit sidecar), the raw pool scores against the
    //      FIXED artifact (importanceStored, torn-model-guarded), and
    //      the Gumbel-top-k selection runs over the served scores via
    //      the SAME Dsir.selectScored tail the inline form rides (one
    //      body, the forms cannot drift; distributed
    //      TakeOrderedAndProject, never a corpus-wide single-partition
    //      window). Oracle = c13's replay verbatim: a green row proves
    //      the train/serve split computes exactly what the inline form
    //      does.
    "c13b_dsir_stored" -> ((s, dir) => {
      val raw = Tables.documents(s, dir).filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text"))
      val scored = graft.text.Dsir.importanceStored(s, raw, "doc_id", "text",
          GateArtifacts.dsirModelDir(s, dir))
      graft.text.Dsir.selectScored(scored, "doc_id", n = 100)
        .orderBy(col("rank"))
    }),

    // ---- R8: the PERSISTED BM25 serving path — r1b's exact semantics
    //      (production idf cutoff, k=5) probed through the stored
    //      partitioned layout: `writeIndex` lays postings out
    //      partitioned by tbucket = pmod(xxhash64(term), TermBuckets)
    //      and `searchStored` turns the probe docs' terms into LITERAL
    //      filters — the buckets prune the directory listing, the terms
    //      prune parquet row groups (Bm25StoredSpec pins the runtime
    //      partition metrics). Oracle = r1b's replay verbatim: a green
    //      row proves the pruned serving path scores identically to the
    //      full-index scan.
    "r8_bm25_stored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.text.Bm25.searchStored(s, docs.filter(col("doc_id") < 10),
          GateArtifacts.bm25IndexDir(s, dir), "doc_id", "text", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- T31: DOMAIN-level quality gate — the Gopher/RefinedWeb stage
    //      the per-doc filters (t3/t11/t18) don't cover: aggregate doc
    //      quality per SOURCE and drop whole sources whose average falls
    //      below the corpus mean (spam/SEO domains poison at the domain
    //      granularity; per-doc filters leak their tail). Integer micro
    //      quality per doc → per-source (count, sum) → floor-div average
    //      vs the corpus-mean threshold: every comparison is integer, so
    //      the gate is engine-exact. One corpus scan feeds both the
    //      per-source and the global aggregate (persisted projection).
    "t31_domain_quality_gate" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"),
          round(TextAnalysis.qualityScore(col("text")) * 1000000, 0)
            .cast("long").as("qm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val thr = per.agg(expr("sum(qm) div count(1)").as("thr"))
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("qm")).as("sum_q_micro"))
        .crossJoin(broadcast(thr))
        .select(col("source"), col("n_docs"), col("sum_q_micro"),
          expr("sum_q_micro div n_docs").as("avg_q_micro"),
          (expr("sum_q_micro div n_docs") >= col("thr")).as("kept"))
        .orderBy(col("source"))
    }),

    // ---- T18: unigram cross-entropy quality score — the CCNet-style
    //      perplexity filter (Wenzek et al. 2019) with the LM trained on
    //      the corpus's own t7 train split; high xent = out-of-domain /
    //      noisy text. Per-token log-probs are fixed to DECIMAL(18,6)
    //      before the per-doc sum, so the score is exact and
    //      topology-independent.
    "t18_unigram_logprob" -> ((s, dir) => {
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))
    }))

  // ------------------------------------------------------------------ oracle

  /** c9/c10 shared oracle: c8's block construction split by the md5
    * bucket; batch blocks keep only first-in-batch occurrences whose
    * text is absent from the snapshot side. c10's bloom prefilter is
    * transparent to the answer (fp removed by the exact confirm join,
    * no fn exist), so both queries gate against this one statement. */
  private val incrementalParagraphSql =
    """WITH t AS (SELECT doc_id,
      |    regexp_split_to_array(trim(text), '\s+') AS l,
      |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
      |      ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
      |  FROM documents),
      |c AS (SELECT doc_id, bucket, l, unnest(range(0,
      |    CAST(greatest(ceil(CAST(len(l) - 20 AS DOUBLE) / 20), 0) AS BIGINT) + 1))
      |    AS block_idx
      |  FROM t),
      |b AS (SELECT doc_id, bucket, block_idx,
      |    array_to_string(l[(block_idx * 20 + 1):(block_idx * 20 + 20)], ' ') AS btxt
      |  FROM c),
      |oldb AS (SELECT DISTINCT btxt FROM b WHERE bucket < 80),
      |nb AS (SELECT doc_id, block_idx, btxt FROM b WHERE bucket >= 80),
      |k AS (SELECT nb.doc_id, nb.block_idx, nb.btxt,
      |    row_number() OVER (PARTITION BY nb.btxt ORDER BY nb.doc_id, nb.block_idx)
      |      AS rn,
      |    (o.btxt IS NOT NULL) AS seen
      |  FROM nb LEFT JOIN oldb o ON nb.btxt = o.btxt)
      |SELECT doc_id, count(*) AS n_blocks,
      |  count(*) FILTER (WHERE rn = 1 AND NOT seen) AS n_kept,
      |  coalesce(string_agg(btxt, ' ' ORDER BY block_idx)
      |    FILTER (WHERE rn = 1 AND NOT seen), '') AS text_clean
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** BM25 oracle CTE chain ending in `lexr` (qid, did, score_micro,
    * rank) — the full ranked list for probe docs `doc_id < maxQid`.
    * Shared by r1's oracle and r2's hybrid fusion (SimilarityQueries),
    * so the two replays cannot drift: same postings/df/idf/saturation
    * arithmetic, parenthesized IDENTICALLY to [[graft.text.Bm25.topK]]'s
    * Column tree so every per-term double op is the same IEEE operation;
    * the per-pair sum is over integer micro units. `minIdfMicro` is the
    * engine's pruning knob replayed verbatim (idf_micro is an integer,
    * so the cutoff comparison is engine-exact): 0 = the unpruned
    * reference scoring (r1); [[graft.text.Bm25.DefaultMinIdfMicro]] =
    * the production configuration (r1b/r2/r3/r4). */
  private[queries] def bm25Ctes(maxQid: Int, minIdfMicro: Long = 0L,
                                corpusWhere: String = ""): String =
    s"""p AS (SELECT doc_id AS did,
       |    unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> x <> '')) AS term
       |  FROM documents $corpusWhere),
       |post AS (SELECT did, term, count(*) AS tf FROM p GROUP BY did, term),
       |dl AS (SELECT did, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY did),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len
       |  FROM dl),
       |dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
       |t AS (SELECT term,
       |    CAST(round(ln(1.0 + (CAST(st.n_docs AS DOUBLE) - df + 0.5)
       |      / (df + 0.5)) * 1000000, 0) AS BIGINT) AS idf_micro
       |  FROM dfq, st),
       |qt AS (SELECT doc_id AS qid,
       |    unnest(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'),
       |      x -> x <> ''))) AS term
       |  FROM documents WHERE doc_id < $maxQid),
       |sc AS (SELECT qt.qid, post.did,
       |    CAST(round((t.idf_micro / 1000000.0) *
       |      ((CAST(post.tf AS DOUBLE) * (1.2 + 1.0)) /
       |       (post.tf + (1.2 * ((1 - 0.75) + ((0.75 * dl.dl) /
       |         (CAST(st.total_len AS DOUBLE) / st.n_docs))))))
       |      * 1000000, 0) AS BIGINT) AS c
       |  FROM qt JOIN t USING (term) JOIN post USING (term)
       |  JOIN dl ON dl.did = post.did, st
       |  WHERE qt.qid <> post.did AND t.idf_micro > $minIdfMicro),
       |agg AS (SELECT qid, did, CAST(sum(c) AS BIGINT) AS score_micro
       |  FROM sc GROUP BY qid, did),
       |lexr AS (SELECT qid, did, score_micro,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY score_micro DESC, did ASC) AS rank
       |  FROM agg)""".stripMargin

  /** t29/t30 shared oracle: per-group sample via ranked hashes —
    * the merge path is answer-transparent (min-k union is exact). */
  private val groupedQuantileSql =
    """WITH h AS (SELECT lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_toks,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |      ':graft-bottomk-v1')), 1, 15)) AS BIGINT) AS bk
        |  FROM documents),
        |r AS (SELECT lang, n_toks,
        |    row_number() OVER (PARTITION BY lang ORDER BY bk) AS rn
        |  FROM h)
        |SELECT lang, count(*) AS n_sample,
        |  ROUND(quantile_cont(n_toks, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(n_toks, 0.9), 4) AS p90,
        |  min(n_toks) AS vmin, max(n_toks) AS vmax
        |FROM r WHERE rn <= 256 GROUP BY lang ORDER BY lang""".stripMargin

  /** The curation-gate CTE chain shared VERBATIM by c7 (filtered keep
    * set) and c11 (per-doc provenance): minhash cross-snapshot dup flag
    * (`flagged`), unigram cross-entropy + 90th-percentile threshold
    * (`xe`, `thr`), and mixture multiplicity (`mult`). One source of
    * truth, so the two replays cannot drift. */
  private def curationCtes: String =
    s"""$shinglesCte,
         |bk AS (SELECT doc_id,
         |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
         |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM documents),
         |consts(i, a, b) AS (VALUES $constsValues),
         |xi AS (SELECT doc_id, shash % ${MinHash.ShingleMod} AS x FROM shh),
         |hs AS (SELECT doc_id, c.i, MIN((c.a * x + c.b) % ${MinHash.P}) AS h
         |  FROM xi CROSS JOIN consts c GROUP BY doc_id, c.i),
         |bands AS (SELECT doc_id, i // ${MinHash.RowsPerBand} AS band,
         |  (((((((MAX(CASE WHEN i % 4 = 0 THEN h END) * ${MinHash.MixMul}
         |    + MAX(CASE WHEN i % 4 = 1 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul}) + MAX(CASE WHEN i % 4 = 2 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul} + MAX(CASE WHEN i % 4 = 3 THEN h END)) % ${MinHash.MixMod})
         |    AS band_hash
         |  FROM hs GROUP BY doc_id, i // ${MinHash.RowsPerBand}),
         |cand AS (SELECT DISTINCT l.doc_id AS id_new, r.doc_id AS id_old
         |  FROM bands l JOIN bk bl ON bl.doc_id = l.doc_id
         |  JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
         |  JOIN bk br ON br.doc_id = r.doc_id
         |  WHERE bl.bucket >= 80 AND br.bucket < 80),
         |inter AS (
         |  SELECT c.id_new, c.id_old, count(*) AS inter
         |  FROM cand c JOIN shh a ON a.doc_id = c.id_new
         |  JOIN shh b ON b.doc_id = c.id_old AND b.shash = a.shash
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
         |flagged AS (SELECT DISTINCT id_new AS doc_id
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_new
         |  JOIN sizes sb ON sb.doc_id = id_old
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.7),
         |toks AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
         |vocab AS (SELECT token, sum(tf) AS cnt FROM tf
         |  WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
         |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 < 80
         |  GROUP BY token),
         |vtot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
         |  CAST(count(*) AS BIGINT) AS v FROM vocab),
         |scored AS (SELECT tf.doc_id, tf.tf, vocab.cnt,
         |    CAST(ROUND(ln(CAST(coalesce(vocab.cnt, 0) + 1 AS DOUBLE)
         |      / (vtot.tot + vtot.v + 1)) * 1000000, 0) AS BIGINT) AS logp_micro
         |  FROM tf LEFT JOIN vocab USING (token) CROSS JOIN vtot),
         |xe AS (SELECT doc_id,
         |    CAST((2 * (-CAST(sum(logp_micro * tf) AS BIGINT))
         |        + CAST(sum(tf) AS BIGINT))
         |      // (2 * CAST(sum(tf) AS BIGINT)) AS DOUBLE) / 1000000 AS xent
         |  FROM scored GROUP BY doc_id),
         |thr AS (SELECT quantile_cont(xent, 0.9) AS thr FROM xe),
         |perdoc AS (SELECT doc_id, source,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
         |  FROM documents),
         |persrc AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
         |  FROM perdoc GROUP BY source),
         |mtot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_sort(list(sqrt(CAST(src_tokens AS DOUBLE))))),
         |      (a, b) -> a + b) AS wsum
         |  FROM persrc),
         |f AS (SELECT source,
         |    ROUND((sqrt(CAST(src_tokens AS DOUBLE)) / wsum) /
         |          (CAST(src_tokens AS DOUBLE) / total_tokens), 6) AS factor
         |  FROM persrc CROSS JOIN mtot),
         |mult AS (SELECT p.doc_id, p.source,
         |    CAST(p.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(CAST(floor(f.factor) AS BIGINT) +
         |    (CASE WHEN CAST(concat('0x', substr(md5(concat(
         |        CAST(p.doc_id AS VARCHAR), ':graft-mix-v1')), 1, 15)) AS BIGINT)
         |        % 1000000 < ROUND((f.factor - floor(f.factor)) * 1000000, 0)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS multiplicity
         |  FROM perdoc p JOIN f USING (source))""".stripMargin

  /** The gate frames c7 and c11 share, the Spark twin of
    * [[curationCtes]]. `toksed` is ONE persisted tokenize pass (id,
    * source, token array) that the LM, mixture and dup gates all read, so
    * the corpus is scanned and split once (the t28 lesson). `scored` is
    * (doc_id, source, n_tokens, multiplicity, xent); `thr` the one-row
    * 90th-percentile xent, exact in-plan over the rounded scores (both
    * engines interpolate between the same order statistics, and a keep
    * set {xent <= thr} cannot straddle consecutive order stats, so ulp
    * drift cannot flip a row); `dupOfOld` the distinct doc_ids of the
    * split-bucket ≥ 80 docs that near-duplicate a bucket < 80 doc. The
    * token frame and the persisted 2-gram arrays are the query's own. */
  private final case class CurationGates(toksed: org.apache.spark.sql.DataFrame,
                                         scored: org.apache.spark.sql.DataFrame,
                                         thr: org.apache.spark.sql.DataFrame,
                                         dupOfOld: org.apache.spark.sql.DataFrame)

  private def curationGates(docs: org.apache.spark.sql.DataFrame): CurationGates = {
    val toksed = docs.select(col("doc_id"), col("source"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lp = TextAnalysis.unigramLogProbFromTokens(toksed, "doc_id", "toks")
    val mix = TextAnalysis.mixtureWeightsFromCounts(
      toksed.select(col("doc_id"), col("source"),
        size(col("toks")).as("n_tokens")), "doc_id", "source")
    val bucket = TextAnalysis.splitBucket(col("doc_id"))
    val sh2 = MinHash.hashedShingleArrayFromTokens(toksed, "doc_id", "toks", 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shOld = sh2.filter(bucket < 80)
    val dupOfOld = MinHash.nearDuplicatesArraysAgainstBands(sh2.filter(bucket >= 80),
        MinHash.bandRows(MinHash.signaturesFromArray(shOld, "doc_id"), "doc_id"),
        shOld, "doc_id", threshold = 0.7)
      .select(col("id_new").as("doc_id")).distinct()
    CurationGates(toksed, mix.join(lp.select(col("doc_id"), col("xent")), "doc_id"),
      lp.agg(expr("percentile(xent, 0.9)").as("thr")), dupOfOld)
  }

  /** The corpus's exact Jaccard-0.8 pair graph, stored once per
    * (session, dir) by [[GateArtifacts.pairs08Dir]]. */
  private def pairs08(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame =
    ParquetOpen(s, GateArtifacts.pairs08Dir(s, dir))

  /** d17/d19's shared rep-index state, stored once per (session, dir) by
    * [[GateArtifacts.repLifecycleDir]]. */
  private def repLifecycle(s: org.apache.spark.sql.SparkSession,
                           dir: String): graft.dedup.RepIndex.State =
    graft.dedup.RepIndex.read(s, GateArtifacts.repLifecycleDir(s, dir))

  /** d10/d15 shared query tail: per new doc, its best snapshot match
    * and near-dup count (one window partitioned by the new doc id). */
  private def crossSnapshotBest(pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val part = org.apache.spark.sql.expressions.Window.partitionBy(col("id_new"))
    val w = part.orderBy(col("jaccard").desc, col("id_old").asc)
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(part))
      .filter(col("rn") === 1)
      .select(col("id_new").as("doc_id"), col("id_old").as("best_old_id"),
        col("jaccard").as("best_jaccard"), col("n_dups"))
      .orderBy(col("doc_id"))
  }

  /** d10/d15 shared oracle: fresh full-index cross-snapshot dedup —
    * d15's appended index must reproduce it row-for-row. */
  private def crossSnapshotSql: String =
    s"""WITH $shinglesCte,
         |bk AS (SELECT doc_id,
         |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
         |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM documents),
         |consts(i, a, b) AS (VALUES $constsValues),
         |xi AS (SELECT doc_id, shash % ${MinHash.ShingleMod} AS x FROM shh),
         |hs AS (SELECT doc_id, c.i, MIN((c.a * x + c.b) % ${MinHash.P}) AS h
         |  FROM xi CROSS JOIN consts c GROUP BY doc_id, c.i),
         |bands AS (SELECT doc_id, i // ${MinHash.RowsPerBand} AS band,
         |  (((((((MAX(CASE WHEN i % 4 = 0 THEN h END) * ${MinHash.MixMul}
         |    + MAX(CASE WHEN i % 4 = 1 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul}) + MAX(CASE WHEN i % 4 = 2 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul} + MAX(CASE WHEN i % 4 = 3 THEN h END)) % ${MinHash.MixMod})
         |    AS band_hash
         |  FROM hs GROUP BY doc_id, i // ${MinHash.RowsPerBand}),
         |cand AS (SELECT DISTINCT l.doc_id AS id_new, r.doc_id AS id_old
         |  FROM bands l JOIN bk bl ON bl.doc_id = l.doc_id
         |  JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
         |  JOIN bk br ON br.doc_id = r.doc_id
         |  WHERE bl.bucket >= 80 AND br.bucket < 80),
         |inter AS (
         |  SELECT c.id_new, c.id_old, count(*) AS inter
         |  FROM cand c JOIN shh a ON a.doc_id = c.id_new
         |  JOIN shh b ON b.doc_id = c.id_old AND b.shash = a.shash
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
         |pairs AS (SELECT id_new, id_old,
         |    ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_new
         |  JOIN sizes sb ON sb.doc_id = id_old
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.7),
         |rk AS (SELECT id_new, id_old, jaccard,
         |    row_number() OVER (PARTITION BY id_new
         |      ORDER BY jaccard DESC, id_old ASC) AS rn,
         |    count(*) OVER (PARTITION BY id_new) AS n_dups
         |  FROM pairs)
         |SELECT id_new AS doc_id, id_old AS best_old_id, jaccard AS best_jaccard,
         |  CAST(n_dups AS BIGINT) AS n_dups
         |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** d17 oracle: from-scratch replay of the REP-MEDIATED serving
    * semantics ([[graft.dedup.RepIndex]]). One global verified-pair
    * relation `vp` (every LSH band collision, exact-Jaccard ≥ 0.7 —
    * identical to what every Spark stage verifies), then the sequence:
    * CC over old-old pairs → old reps (component minima; pair-free docs
    * rep themselves) → the 60-79 wave's pairs restricted to rep-mediated
    * discovery (mid↔old-rep and mid↔mid only — a mid doc similar only to
    * a NON-rep old member is NOT linked, by design) → CC again (the
    * appendLabels star identity lets the oracle reuse the raw old pairs)
    * → new reps → today's ≥80 batch matched against new reps only. */
  private def repIndexServingSql: String =
    s"""$repIndexCommonCte,
       |reps2 AS (SELECT bk.doc_id AS rid FROM bk
       |  LEFT JOIN lab2 ON lab2.id = bk.doc_id
       |  WHERE bk.bucket < 80 AND COALESCE(lab2.cid, bk.doc_id) = bk.doc_id),
       |qm AS (
       |  SELECT vp.id_a AS id_new, vp.id_b AS id_old, ROUND(j, 6) AS jaccard
       |  FROM vp JOIN bk ba ON ba.doc_id = vp.id_a
       |  WHERE ba.bucket >= 80 AND vp.id_b IN (SELECT rid FROM reps2)
       |  UNION ALL
       |  SELECT vp.id_b, vp.id_a, ROUND(j, 6)
       |  FROM vp JOIN bk bb ON bb.doc_id = vp.id_b
       |  WHERE bb.bucket >= 80 AND vp.id_a IN (SELECT rid FROM reps2)),
       |rk AS (SELECT id_new, id_old, jaccard,
       |    row_number() OVER (PARTITION BY id_new
       |      ORDER BY jaccard DESC, id_old ASC) AS rn,
       |    count(*) OVER (PARTITION BY id_new) AS n_dups
       |  FROM qm)
       |SELECT id_new AS doc_id, id_old AS best_rep_id,
       |  jaccard AS best_jaccard, CAST(n_dups AS BIGINT) AS n_dup_clusters
       |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** d19 oracle: the d17 replay extended by the DELETE lifecycle — the
    * same post-append labels (lab2), then the tombstone rule the Spark
    * query states (the representative of every multi-member cluster),
    * survivor re-rooting at the new cluster minimum, and rep
    * promotion; the result is the post-delete state (doc, re-rooted
    * cluster, index membership). Clusters are equivalence classes
    * established at ingest: the delete removes members without
    * re-litigating connectivity — exactly
    * [[graft.dedup.RepIndex.delete]]'s contract. */
  private def repIndexDeleteSql: String =
    s"""$repIndexCommonCte,
       |labfull AS (SELECT bk.doc_id AS id, COALESCE(lab2.cid, bk.doc_id) AS cid
       |  FROM bk LEFT JOIN lab2 ON lab2.id = bk.doc_id
       |  WHERE bk.bucket < 80),
       |csz AS (SELECT cid, count(*) AS n FROM labfull GROUP BY cid),
       |tomb AS (SELECT cid AS id FROM csz WHERE n >= 2),
       |surv AS (SELECT id, cid FROM labfull
       |  WHERE id NOT IN (SELECT id FROM tomb)),
       |nroot AS (SELECT cid, MIN(id) AS nr FROM surv GROUP BY cid),
       |lab3 AS (SELECT surv.id, nroot.nr AS cid FROM surv
       |  JOIN nroot USING (cid)),
       |reps3 AS (SELECT id AS rid FROM lab3 WHERE id = cid)
       |SELECT id AS doc_id, cid AS cluster_id,
       |  id IN (SELECT rid FROM reps3) AS in_index
       |FROM lab3 ORDER BY doc_id""".stripMargin

  /** Shared CTE chain of the d17/d19 oracles: LSH band collisions →
    * verified pairs (exact Jaccard ≥ 0.7) → CC over the old snapshot →
    * old reps → rep-mediated wave pairs → CC again → post-append labels
    * (lab2). */
  private def repIndexCommonCte: String =
    s"""WITH RECURSIVE $shinglesCte,
       |bk AS (SELECT doc_id,
       |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
       |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
       |  FROM documents),
       |consts(i, a, b) AS (VALUES $constsValues),
       |xi AS (SELECT doc_id, shash % ${MinHash.ShingleMod} AS x FROM shh),
       |hs AS (SELECT doc_id, c.i, MIN((c.a * x + c.b) % ${MinHash.P}) AS h
       |  FROM xi CROSS JOIN consts c GROUP BY doc_id, c.i),
       |bands AS (SELECT doc_id, i // ${MinHash.RowsPerBand} AS band,
       |  (((((((MAX(CASE WHEN i % 4 = 0 THEN h END) * ${MinHash.MixMul}
       |    + MAX(CASE WHEN i % 4 = 1 THEN h END)) % ${MinHash.MixMod})
       |    * ${MinHash.MixMul}) + MAX(CASE WHEN i % 4 = 2 THEN h END)) % ${MinHash.MixMod})
       |    * ${MinHash.MixMul} + MAX(CASE WHEN i % 4 = 3 THEN h END)) % ${MinHash.MixMod})
       |    AS band_hash
       |  FROM hs GROUP BY doc_id, i // ${MinHash.RowsPerBand}),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.band_hash = r.band_hash
       |  WHERE l.doc_id < r.doc_id),
       |vint AS (SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM cand c JOIN shh a ON a.doc_id = c.id_a
       |  JOIN shh b ON b.doc_id = c.id_b AND b.shash = a.shash
       |  GROUP BY 1, 2),
       |vsz AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
       |vp AS (SELECT id_a, id_b,
       |    CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
       |  FROM vint JOIN vsz sa ON sa.doc_id = id_a
       |  JOIN vsz sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.7),
       |pairs_oo AS (SELECT vp.id_a, vp.id_b FROM vp
       |  JOIN bk ba ON ba.doc_id = vp.id_a JOIN bk bb ON bb.doc_id = vp.id_b
       |  WHERE ba.bucket < 60 AND bb.bucket < 60),
       |edges1 AS (SELECT id_a AS s, id_b AS d FROM pairs_oo
       |           UNION ALL SELECT id_b, id_a FROM pairs_oo),
       |nodes1 AS (SELECT DISTINCT s AS id FROM edges1),
       |reach1 AS (
       |  SELECT id, id AS r FROM nodes1
       |  UNION
       |  SELECT e.d AS id, reach1.r FROM reach1 JOIN edges1 e ON e.s = reach1.id),
       |lab1 AS (SELECT id, MIN(r) AS cid FROM reach1 GROUP BY id),
       |reps1 AS (SELECT bk.doc_id AS rid FROM bk
       |  LEFT JOIN lab1 ON lab1.id = bk.doc_id
       |  WHERE bk.bucket < 60 AND COALESCE(lab1.cid, bk.doc_id) = bk.doc_id),
       |pairs_new AS (SELECT vp.id_a, vp.id_b FROM vp
       |  JOIN bk ba ON ba.doc_id = vp.id_a JOIN bk bb ON bb.doc_id = vp.id_b
       |  WHERE (ba.bucket >= 60 AND ba.bucket < 80
       |         AND bb.bucket >= 60 AND bb.bucket < 80)
       |     OR (ba.bucket >= 60 AND ba.bucket < 80
       |         AND vp.id_b IN (SELECT rid FROM reps1))
       |     OR (bb.bucket >= 60 AND bb.bucket < 80
       |         AND vp.id_a IN (SELECT rid FROM reps1))),
       |g2 AS (SELECT id_a, id_b FROM pairs_oo
       |       UNION SELECT id_a, id_b FROM pairs_new),
       |edges2 AS (SELECT id_a AS s, id_b AS d FROM g2
       |           UNION ALL SELECT id_b, id_a FROM g2),
       |nodes2 AS (SELECT DISTINCT s AS id FROM edges2),
       |reach2 AS (
       |  SELECT id, id AS r FROM nodes2
       |  UNION
       |  SELECT e.d AS id, reach2.r FROM reach2 JOIN edges2 e ON e.s = reach2.id),
       |lab2 AS (SELECT id, MIN(r) AS cid FROM reach2 GROUP BY id)""".stripMargin

  /** Word-2gram distinct shingles per doc (count parity with
    * TextAnalysis.shingles incl. the <n-token edge case), plus the 60-bit
    * md5-derived hash rows the engine joins on. */
  private val shinglesCte =
    """w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |  [concat_ws(' ', l[i], l[i+1]) for i in range(1, greatest(len(l), 2))])) AS shingle
      |  FROM w),
      |shh AS (SELECT doc_id,
      |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shash FROM sh)""".stripMargin

  /** d14/d18 shared oracle: full-rebuild quality-keep — d5's recursive
    * CC + t3's quality arithmetic; the rep is the rank-1 row under
    * (quality DESC, doc_id ASC), the total order Spark's
    * max(struct(quality, -id)) aggregate encodes. d18's incremental
    * (labels + bests) fold must reproduce it row-for-row. */
  private lazy val qualityKeepSql: String =
    s"""WITH RECURSIVE $shinglesCte,
         |dfc AS (SELECT shash, count(*) AS df FROM shh GROUP BY shash),
         |shp AS (SELECT shh.doc_id, shh.shash FROM shh JOIN dfc USING (shash)
         |        WHERE df <= 20),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shp a JOIN shp b ON a.shash = b.shash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id),
         |comps AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id),
         |q AS (SELECT doc_id,
         |  ROUND(((CASE WHEN len(regexp_split_to_array(trim(text), '\\s+'))
         |      BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text,
         |        '[[:punct:]]', '', 'g')) AS DOUBLE)
         |        / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END)
         |    + (CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |        x -> list_contains(['the','a','of','and','is'], x))) AS DOUBLE)
         |        / greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1) > 0
         |      THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
         |  FROM documents),
         |cl AS (SELECT d.doc_id, COALESCE(comps.comp, d.doc_id) AS cluster_id,
         |    q.quality
         |  FROM documents d LEFT JOIN comps ON comps.doc_id = d.doc_id
         |  JOIN q ON q.doc_id = d.doc_id),
         |rep AS (SELECT cluster_id, doc_id AS rep_id FROM (
         |  SELECT cluster_id, doc_id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, doc_id ASC) AS rk
         |  FROM cl) WHERE rk = 1)
         |SELECT cl.doc_id, cl.cluster_id, rep.rep_id,
         |  cl.doc_id = rep.rep_id AS keep
         |FROM cl JOIN rep ON rep.cluster_id = cl.cluster_id
         |ORDER BY cl.doc_id""".stripMargin

  /** Full-rebuild connected-component labels over the 0.8-Jaccard pair
    * graph — the oracle for BOTH d5 (direct CC) and d16 (incremental
    * label append): the two queries must agree with this and therefore
    * with each other. */
  private lazy val clusterLabelsSql =
    s"""WITH RECURSIVE $shinglesCte,
       |dfc AS (SELECT shash, count(*) AS df FROM shh GROUP BY shash),
       |shp AS (SELECT shh.doc_id, shh.shash FROM shh JOIN dfc USING (shash)
       |        WHERE df <= 20),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM shp a JOIN shp b ON a.shash = b.shash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
       |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT s AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id)
       |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach
       |GROUP BY id ORDER BY doc_id""".stripMargin

  private def jaccardTail(shRel: String, thresh: String) =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM $shRel GROUP BY doc_id)
       |SELECT id_a, id_b,
       |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $thresh
       |ORDER BY id_a, id_b""".stripMargin

  /** MinHash hash-function constants as a VALUES list — generated from the
    * same Scala arrays the Spark pipeline uses, so they cannot drift. */
  private val constsValues = (0 until MinHash.NumHashes)
    .map(i => s"(${i}, ${MinHash.A(i)}, ${MinHash.B(i)})").mkString(", ")

  /** Merge table learned by the last t20 run, read by [[oracle]] (a def,
    * evaluated by Verify AFTER the queries run) to emit the DuckDB
    * encoder with the exact merges the engine used. */
  @volatile private var lastBpeMerges: Seq[(String, String)] = Nil

  /** DuckDB replay of [[graft.text.Bpe.encode]] under a literal merge
    * table: a recursive CTE applies, per distinct word, the identical
    * leftmost-lowest-rank single-pair merge loop until no learned pair
    * remains, then documents are re-assembled word-by-word in order.
    * `list_position` over the rank-ordered pair list IS the rank lookup
    * (first index = lowest rank), so tie-breaking cannot drift. */
  private def bpeOracleSql(merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val lst =
      if (merges.isEmpty) "CAST([] AS VARCHAR[])"
      else merges.map { case (a, b) => s"'${esc(a)} ${esc(b)}'" }
        .mkString("[", ", ", "]")
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
       |  FROM documents),
       |w AS (SELECT DISTINCT unnest(ws) AS w FROM d),
       |enc(w, syms, done) AS (
       |  SELECT w, [substr(w, i, 1) for i in range(1, length(w)+1)], false FROM w
       |  UNION ALL
       |  SELECT w,
       |    CASE WHEN best IS NULL THEN syms
       |         ELSE syms[1:best-1] || [syms[best] || syms[best+1]] || syms[best+2:] END,
       |    best IS NULL
       |  FROM (
       |    SELECT w, syms,
       |      [coalesce(nullif(list_position($lst, syms[i] || ' ' || syms[i+1]), 0), 999999)
       |       for i in range(1, len(syms))] AS rk
       |    FROM enc WHERE NOT done),
       |    LATERAL (SELECT CASE WHEN len(rk) = 0 OR list_min(rk) = 999999 THEN NULL
       |                         ELSE list_position(rk, list_min(rk)) END AS best)
       |),
       |fin AS (SELECT w, syms FROM enc WHERE done),
       |tok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws)+1)) AS pos FROM d),
       |docsyms AS (
       |  SELECT t.doc_id, flatten(list(f.syms ORDER BY t.pos)) AS toks
       |  FROM tok t JOIN fin f USING (w) GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(len(s.toks), 0) AS BIGINT) AS n_bpe_tokens,
       |  coalesce(array_to_string(s.toks[1:8], ' '), '') AS preview
       |FROM d LEFT JOIN docsyms s USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  def oracle: Map[String, String] =
    staticOracle + ("t20_bpe_tokens" -> bpeOracleSql(lastBpeMerges))

  private val staticOracle: Map[String, String] = Map(
    "t1_token_stats" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
        |  length(text) AS len_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t2_langid" ->
      """WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, lang,
        |  len(list_filter(toks, x -> list_contains(['the','a','of','and','is'], x))) AS s_en,
        |  len(list_filter(toks, x -> list_contains(['el','la','de','y','es'], x))) AS s_es,
        |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
        |  len(list_filter(toks, x -> list_contains(['le','les','du','et','est'], x))) AS s_fr,
        |  len(list_filter(toks, x -> list_contains(['的','是','了','在','我'], x))) AS s_zh
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN s_en = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_en > 0 THEN 'en'
        |       WHEN s_es = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_es > 0 THEN 'es'
        |       WHEN s_de = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_de > 0 THEN 'de'
        |       WHEN s_fr = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_fr > 0 THEN 'fr'
        |       WHEN s_zh = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_zh > 0 THEN 'zh'
        |       ELSE 'und' END AS lang_pred,
        |  lang, (CASE WHEN s_en = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_en > 0 THEN 'en'
        |       WHEN s_es = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_es > 0 THEN 'es'
        |       WHEN s_de = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_de > 0 THEN 'de'
        |       WHEN s_fr = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_fr > 0 THEN 'fr'
        |       WHEN s_zh = greatest(s_en,s_es,s_de,s_fr,s_zh) AND s_zh > 0 THEN 'zh'
        |       ELSE 'und' END) = lang AS matches_label
        |FROM s ORDER BY doc_id""".stripMargin,
    "t3_quality" ->
      """WITH b AS (SELECT doc_id, text,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS pr,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> list_contains(['the','a','of','and','is'], x))) AS DOUBLE)
        |    / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS sr
        |  FROM documents)
        |SELECT doc_id, n_tokens, ROUND(pr, 6) AS punct_ratio, ROUND(sr, 6) AS stopword_ratio,
        |  ROUND(((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN sr > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
        |FROM b ORDER BY doc_id""".stripMargin,
    "t11_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |           FROM documents),
        |d AS (SELECT doc_id,
        |  len(list_distinct(
        |    [concat_ws(' ', l[i], l[i+1]) for i in range(1, greatest(len(l), 2))]))
        |    AS n_distinct,
        |  greatest(len(l) - 1, 1) AS total FROM w)
        |SELECT doc_id,
        |  ROUND(1.0 - CAST(n_distinct AS DOUBLE) / total, 6) AS dup_2gram_fraction
        |FROM d ORDER BY doc_id""".stripMargin,
    "t10_pattern_counts" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
        |  ROUND(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |    AS DOUBLE) / greatest(length(text), 1), 6) AS digit_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t9_stratified_sample" ->
      """SELECT lang, rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |        ':graft-sample-v1')), 1, 15)) AS BIGINT) ASC, doc_id ASC) AS rank
        |  FROM documents)
        |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
    "t8_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfc.df,
        |    ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfc.df), 6) AS tf_idf
        |  FROM tf JOIN dfc USING (token) CROSS JOIN n)
        |SELECT doc_id, rank, token, tf, df, tf_idf FROM (
        |  SELECT doc_id, token, tf, df, tf_idf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf_idf DESC, token ASC) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "t7_hash_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t4_rolling_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 1000000007) AS th
        |  FROM documents)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), th),
        |    (acc, x) -> (acc * 1009 + x) % 1000000007) AS poly_fp,
        |  list_min(list_transform(range(1, greatest(len(th) - 4 + 1, 1) + 1),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + 3]),
        |      (acc, x) -> (acc * 1009 + x) % 1000000007))) AS winnowed_fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "t5_corpus_stats" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  COUNT(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |    '[[:punct:]]', ' ', 'g'), '\s+', ' ', 'g')))) AS n_unique_fingerprints,
        |  MIN(len(regexp_split_to_array(trim(text), '\s+'))) AS min_tokens,
        |  MAX(len(regexp_split_to_array(trim(text), '\s+'))) AS max_tokens,
        |  ROUND(MEDIAN(len(regexp_split_to_array(trim(text), '\s+'))), 4) AS median_tokens
        |FROM documents""".stripMargin,
    "t6_length_histogram" ->
      """SELECT CAST(floor(len(regexp_split_to_array(trim(text), '\s+')) / 50) * 50 AS BIGINT)
        |    AS bucket_start,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY bucket_start""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
        |    '\s+', ' ', 'g'))) AS fingerprint,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "t12_weighted_sample" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  (CAST(CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-wsample-v1')), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
        |    / 1152921504606846976.0 AS u
        |  FROM documents),
        |kq AS (SELECT doc_id, lang, n_tokens,
        |  ROUND(POWER(u, 1.0 / greatest(CAST(n_tokens AS DOUBLE), 1.0)), 9) AS key
        |  FROM t)
        |SELECT lang, rank, doc_id, n_tokens FROM (
        |  SELECT lang, doc_id, n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id ASC) AS rank
        |  FROM kq)
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "t15_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
        |    AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "c3_contamination" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |w AS (SELECT doc_id, bucket, regexp_split_to_array(trim(text), '\s+') AS l FROM b),
        |sh AS (SELECT doc_id, bucket, unnest(list_distinct(
        |  [concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3], l[i+4], l[i+5], l[i+6], l[i+7])
        |   for i in range(1, greatest(len(l) - 7, 1) + 1)])) AS shingle
        |  FROM w),
        |shh AS (SELECT doc_id, bucket,
        |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shash FROM sh
        |  WHERE bucket < 80 OR bucket >= 90),
        |dfs AS (SELECT shash, COUNT(*) AS df FROM shh GROUP BY shash),
        |cut AS (SELECT greatest(round(quantile_cont(df, 0.999), 4), 1.0) AS cut FROM dfs),
        |keep AS (SELECT shash FROM dfs, cut WHERE df <= cut)
        |SELECT tr.doc_id,
        |  COUNT(DISTINCT tr.shash) AS n_shared_shingles,
        |  COUNT(DISTINCT te.doc_id) AS n_test_docs
        |FROM shh tr JOIN shh te ON tr.shash = te.shash
        |JOIN keep k ON tr.shash = k.shash
        |WHERE tr.bucket < 80 AND te.bucket >= 90
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    // t29: the oracle replays the per-group sample via ranked hashes
    // (row_number <= k) — the declarative equivalent of the native agg.
    // t30 gates against the SAME statement: min-k union is exact, so the
    // merged-states path is answer-transparent (the c10/c9 pattern).
    "t29_grouped_quantiles" -> groupedQuantileSql,
    "t30_sample_union" -> groupedQuantileSql,

    // t28: each card column replays its gated sibling's arithmetic —
    // t13's KMV estimator (over words), t27's bottom-k order, t23's
    // fingerprint convention, exact integer ppm divisions
    "t28_corpus_card" ->
      """WITH t AS (SELECT doc_id, source, text,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_toks
        |  FROM documents),
        |base AS (SELECT count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |    count(DISTINCT CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT))
        |      AS n_distinct
        |  FROM t),
        |wh AS (SELECT DISTINCT CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> '')) AS w FROM documents)),
        |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS nd
        |  FROM wh),
        |vocab AS (SELECT ROUND(CASE WHEN MAX(nd) < 256 THEN CAST(MAX(nd) AS DOUBLE)
        |    ELSE 255.0 * 1152921504606846976.0 /
        |      CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE) END, 6) AS vocab_est
        |  FROM r),
        |bk AS (SELECT n_toks FROM (SELECT n_toks,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |      ':graft-bottomk-v1')), 1, 15)) AS BIGINT) AS bk
        |  FROM t) ORDER BY bk LIMIT 1024),
        |quant AS (SELECT ROUND(quantile_cont(n_toks, 0.5), 4) AS p50_tok,
        |    ROUND(quantile_cont(n_toks, 0.9), 4) AS p90_tok FROM bk),
        |top AS (SELECT source AS top_source, top_n FROM (
        |  SELECT source, count(*) AS top_n,
        |    row_number() OVER (ORDER BY count(*) DESC, source ASC) AS rk
        |  FROM t GROUP BY source) WHERE rk = 1)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs, n_tokens, vocab_est,
        |  p50_tok, p90_tok, top_source,
        |  CAST(top_n * 1000000 // n_docs AS BIGINT) AS top_source_ppm,
        |  CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT) AS dup_ppm
        |FROM base, vocab, quant, top""".stripMargin,
    // t27: same salted-md5 ordering, LIMIT k, quantile_cont (the a16
    // parity) over the sample
    "t27_quantile_sketch" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_toks,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |      ':graft-bottomk-v1')), 1, 15)) AS BIGINT) AS bk
        |  FROM documents),
        |s AS (SELECT n_toks FROM h ORDER BY bk LIMIT 1024)
        |SELECT count(*) AS n_sample,
        |  ROUND(quantile_cont(n_toks, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(n_toks, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(n_toks, 0.99), 4) AS p99,
        |  min(n_toks) AS vmin, max(n_toks) AS vmax
        |FROM s""".stripMargin,
    // t26: d3's minhash arithmetic grouped by source instead of doc;
    // agreement counted per component pair, ppm = n_agree * 62500 exact
    "t26_source_overlap" ->
      s"""WITH w AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS l
         |  FROM documents),
         |sh AS (SELECT source, unnest(list_distinct(
         |  [concat_ws(' ', l[i], l[i+1]) for i in range(1, greatest(len(l), 2))])) AS shingle
         |  FROM w),
         |shh AS (SELECT source,
         |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shash FROM sh),
         |consts(i, a, b) AS (VALUES $constsValues),
         |xi AS (SELECT source, shash % ${MinHash.ShingleMod} AS x FROM shh),
         |hs AS (SELECT source, c.i, MIN((c.a * x + c.b) % ${MinHash.P}) AS h
         |  FROM xi CROSS JOIN consts c GROUP BY source, c.i),
         |ag AS (SELECT s1.source AS source_a, s2.source AS source_b,
         |    count(*) FILTER (WHERE s1.h = s2.h) AS n_agree
         |  FROM hs s1 JOIN hs s2 ON s1.i = s2.i AND s1.source < s2.source
         |  GROUP BY s1.source, s2.source)
         |SELECT source_a, source_b, CAST(n_agree AS BIGINT) AS n_agree,
         |  CAST(n_agree * ${1000000L / MinHash.NumHashes} AS BIGINT) AS est_jaccard_ppm
         |FROM ag ORDER BY source_a, source_b""".stripMargin,
    // t25: c3's shingle construction, but the reference side is DISTINCT
    // keys and the join is LEFT — every train doc gets a row; ppm is
    // exact integer floor division
    "t25_novelty" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |w AS (SELECT doc_id, bucket, regexp_split_to_array(trim(text), '\s+') AS l FROM b),
        |sh AS (SELECT doc_id, bucket, unnest(list_distinct(
        |  [concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3], l[i+4], l[i+5], l[i+6], l[i+7])
        |   for i in range(1, greatest(len(l) - 7, 1) + 1)])) AS shingle
        |  FROM w),
        |shh AS (SELECT doc_id, bucket,
        |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shash FROM sh
        |  WHERE bucket < 80 OR bucket >= 90),
        |ref AS (SELECT DISTINCT shash FROM shh WHERE bucket >= 90),
        |tr AS (SELECT doc_id, shash FROM shh WHERE bucket < 80)
        |SELECT tr.doc_id, count(*) AS n_shingles,
        |  count(ref.shash) AS n_seen,
        |  CAST(count(ref.shash) * 1000000 // count(*) AS BIGINT) AS overlap_ppm
        |FROM tr LEFT JOIN ref ON tr.shash = ref.shash
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "t14_sequence_pack" ->
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT lang, doc_id, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
        |  FROM t)
        |SELECT lang, doc_id, n_tokens,
        |  CAST(FLOOR(cum_before / 2048.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY lang, doc_id""".stripMargin,
    // t14b: t14's running sum re-keyed on (lang, t23-shard)
    "t14b_sharded_pack" ->
      """WITH t AS (SELECT lang, doc_id,
        |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-shard-v1')), 1, 15)) AS BIGINT) % 8 AS shard,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT lang, shard, doc_id, n_tokens,
        |  SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
        |  FROM t)
        |SELECT lang, shard, doc_id, n_tokens,
        |  CAST(FLOOR(cum_before / 2048.0) AS BIGINT) AS pack_id
        |FROM c ORDER BY lang, shard, doc_id""".stripMargin,
    "t16_sketch_union" ->
      """WITH w AS (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents),
        |sh AS (SELECT lang, unnest(list_distinct(
        |  [concat_ws(' ', l[i], l[i+1]) for i in range(1, greatest(len(l), 2))]))
        |  AS shingle FROM w),
        |hh AS (SELECT DISTINCT lang,
        |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS nd FROM hh),
        |agg AS (SELECT lang, MAX(nd) AS nd,
        |  MAX(CASE WHEN rn = 256 THEN h END) AS h_k FROM r GROUP BY lang)
        |SELECT lang,
        |  ROUND(CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE)
        |    ELSE 255.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE) END, 6)
        |    AS est_distinct
        |FROM agg ORDER BY lang""".stripMargin,
    "t13_vocab_sketch" ->
      """WITH w AS (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents),
        |sh AS (SELECT lang, unnest(list_distinct(
        |  [concat_ws(' ', l[i], l[i+1]) for i in range(1, greatest(len(l), 2))]))
        |  AS shingle FROM w),
        |hh AS (SELECT DISTINCT lang,
        |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS h FROM sh),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS nd FROM hh),
        |agg AS (SELECT lang, MAX(nd) AS nd,
        |  MAX(CASE WHEN rn = 256 THEN h END) AS h_k FROM r GROUP BY lang)
        |SELECT lang,
        |  ROUND(CASE WHEN nd < 256 THEN CAST(nd AS DOUBLE)
        |    ELSE 255.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE) END, 6)
        |    AS est_distinct,
        |  CAST(nd AS BIGINT) AS n_exact
        |FROM agg ORDER BY lang""".stripMargin,
    "c2_token_budget" ->
      """WITH b AS (SELECT doc_id, lang,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS pr,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> list_contains(['the','a','of','and','is'], x))) AS DOUBLE)
        |    / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS sr
        |  FROM documents),
        |q AS (SELECT doc_id, lang, n_tokens,
        |  ROUND(((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN sr > 0 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
        |  FROM b),
        |r AS (SELECT lang, doc_id, n_tokens, quality,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT lang, doc_id, n_tokens, quality, cum_tokens FROM r
        |WHERE cum_tokens <= 20000 ORDER BY lang, cum_tokens""".stripMargin,
    "c1_corpus_curation" ->
      """WITH RECURSIVE
        |q AS (SELECT doc_id, text FROM documents
        |      WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 5
        |        AND CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |            AS DOUBLE) / greatest(length(text), 1) <= 0.3),
        |fp AS (SELECT doc_id, text,
        |       md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'),
        |         '\s+', ' ', 'g'))) AS f FROM q),
        |ex AS (SELECT fp.doc_id, fp.text FROM fp
        |       JOIN (SELECT f, MIN(doc_id) AS k FROM fp GROUP BY f) m
        |         ON fp.f = m.f AND fp.doc_id = m.k),
        |w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM ex),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |  [concat_ws(' ', l[i], l[i+1]) for i in range(1, greatest(len(l), 2))])) AS shingle
        |  FROM w),
        |shh AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shash FROM sh),
        |dfc AS (SELECT shash, count(*) AS df FROM shh GROUP BY shash),
        |shp AS (SELECT shh.doc_id, shh.shash FROM shh JOIN dfc USING (shash)
        |        WHERE df <= 20),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |          FROM shp a JOIN shp b ON a.shash = b.shash AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
        |pairs AS (SELECT id_a, id_b FROM inter
        |          JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        |          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
        |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT s AS id FROM edges),
        |reach AS (SELECT id, id AS r FROM nodes
        |          UNION
        |          SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id),
        |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        |kept AS (SELECT ex.doc_id, ex.text FROM ex LEFT JOIN comp USING (doc_id)
        |         WHERE comp.doc_id IS NULL OR comp.cluster_id = ex.doc_id)
        |SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
        |FROM kept
        |WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 < 80
        |ORDER BY doc_id""".stripMargin,
    // d9: token positions renumber AFTER empty-token drop so both engines
    // agree on the position space; spans all have length k, so sorted
    // starts merge while each is within k of its predecessor
    "d9_dup_spans" ->
      """WITH tok0 AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS token,
        |    generate_subscripts(string_split_regex(text, '\s+'), 1) AS ord
        |  FROM documents),
        |tok1 AS (SELECT doc_id, token, ord FROM tok0 WHERE token <> ''),
        |tok AS (SELECT doc_id, token,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
        |  FROM tok1),
        |sh0 AS (SELECT doc_id, pos,
        |    string_agg(token, ' ') OVER w AS shingle, count(*) OVER w AS cnt
        |  FROM tok
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)),
        |sh AS (SELECT doc_id, pos, shingle FROM sh0 WHERE cnt = 5),
        |dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1),
        |starts AS (SELECT doc_id, pos FROM sh JOIN dup USING (shingle)),
        |brk AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |         THEN 1
        |         WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 5
        |         THEN 1 ELSE 0 END AS b
        |  FROM starts),
        |isl AS (SELECT doc_id, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM brk),
        |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 5 AS e
        |  FROM isl GROUP BY doc_id, island),
        |tot AS (SELECT doc_id, count(*) AS total_tokens FROM tok GROUP BY doc_id)
        |SELECT sp.doc_id, count(*) AS n_dup_spans,
        |  CAST(sum(e - s) AS BIGINT) AS dup_tokens,
        |  any_value(total_tokens) AS total_tokens,
        |  round(sum(e - s) / CAST(any_value(total_tokens) AS DOUBLE), 4)
        |    AS dup_ratio
        |FROM spans sp JOIN tot USING (doc_id)
        |GROUP BY sp.doc_id ORDER BY sp.doc_id""".stripMargin,
    // t17: the MG candidate step is transparent to the answer (proven
    // superset + exact confirm), so the oracle is the plain exact query
    "t17_heavy_hitters" ->
      """WITH t0 AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |            FROM documents),
        |t1 AS (SELECT token FROM t0 WHERE token <> ''),
        |tot AS (SELECT count(*) AS n FROM t1)
        |SELECT token, count(*) AS cnt
        |FROM t1, tot GROUP BY token, n
        |HAVING count(*) * 100 >= n
        |ORDER BY cnt DESC, token""".stripMargin,
    // c5: the bloom prefilter is transparent to the answer (exact join
    // removes fp, no fn exist), so the oracle is plain exact
    // contamination — c3's SQL without the df-pruning CTEs
    "c5_bloom_decontaminate" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents),
        |w AS (SELECT doc_id, bucket, regexp_split_to_array(trim(text), '\s+') AS l FROM b),
        |sh AS (SELECT doc_id, bucket, unnest(list_distinct(
        |  [concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3], l[i+4], l[i+5], l[i+6], l[i+7])
        |   for i in range(1, greatest(len(l) - 7, 1) + 1)])) AS shingle
        |  FROM w),
        |shh AS (SELECT doc_id, bucket,
        |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shash FROM sh
        |  WHERE bucket < 80 OR bucket >= 90)
        |SELECT tr.doc_id,
        |  COUNT(DISTINCT tr.shash) AS n_shared_shingles,
        |  COUNT(DISTINCT te.doc_id) AS n_test_docs
        |FROM shh tr JOIN shh te ON tr.shash = te.shash
        |WHERE tr.bucket < 80 AND te.bucket >= 90
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    // c4: same span derivation as d9, then tokens anti-joined against the
    // merged spans and re-aggregated in position order; merged spans are
    // disjoint by construction so the removal join cannot duplicate rows
    "c4_span_clean" ->
      """WITH tok0 AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS token,
        |    generate_subscripts(string_split_regex(text, '\s+'), 1) AS ord
        |  FROM documents),
        |tok1 AS (SELECT doc_id, token, ord FROM tok0 WHERE token <> ''),
        |tok AS (SELECT doc_id, token,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
        |  FROM tok1),
        |sh0 AS (SELECT doc_id, pos,
        |    string_agg(token, ' ') OVER w AS shingle, count(*) OVER w AS cnt
        |  FROM tok
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)),
        |sh AS (SELECT doc_id, pos, shingle FROM sh0 WHERE cnt = 5),
        |dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 1),
        |starts AS (SELECT doc_id, pos FROM sh JOIN dup USING (shingle)),
        |brk AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |         THEN 1
        |         WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 5
        |         THEN 1 ELSE 0 END AS b
        |  FROM starts),
        |isl AS (SELECT doc_id, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM brk),
        |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 5 AS e
        |  FROM isl GROUP BY doc_id, island),
        |rm AS (SELECT t.doc_id, t.pos FROM tok t JOIN spans sp
        |    ON t.doc_id = sp.doc_id AND t.pos >= sp.s AND t.pos < sp.e),
        |kept AS (SELECT t.doc_id, t.token, t.pos FROM tok t
        |    LEFT JOIN rm r ON t.doc_id = r.doc_id AND t.pos = r.pos
        |    WHERE r.pos IS NULL),
        |tot AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(string_agg(k.token, ' ' ORDER BY k.pos), '') AS clean_text,
        |  count(k.pos) AS n_kept,
        |  coalesce(any_value(t.n), 0) - count(k.pos) AS n_removed
        |FROM documents d
        |LEFT JOIN tot t ON d.doc_id = t.doc_id
        |LEFT JOIN kept k ON d.doc_id = k.doc_id
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "d2_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |dfc AS (SELECT shash, count(*) AS df FROM shh GROUP BY shash),
         |shp AS (SELECT shh.doc_id, shh.shash FROM shh JOIN dfc USING (shash)
         |        WHERE df <= 20),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shp a JOIN shp b ON a.shash = b.shash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |${jaccardTail("shp", "0.8")}""".stripMargin,
    // d14: d5's recursive CC + t3's quality arithmetic; the rep is the
    // rank-1 row under (quality DESC, doc_id ASC) — the same total order
    // Spark's max(struct(quality, -id)) aggregate encodes
    "d14_quality_keep" -> qualityKeepSql,
    // t31: d14's per-doc quality arithmetic fixed to integer micro units,
    // then pure integer aggregation — `//` is DuckDB's floor division,
    // matching Spark's `div` on the non-negative sums
    "t31_domain_quality_gate" ->
      """WITH q AS (SELECT doc_id, source,
        |  CAST(ROUND(ROUND(((CASE WHEN len(regexp_split_to_array(trim(text), '\s+'))
        |      BETWEEN 10 AND 5000 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN CAST(length(text) - length(regexp_replace(text,
        |        '[[:punct:]]', '', 'g')) AS DOUBLE)
        |        / greatest(length(text), 1) <= 0.2 THEN 1.0 ELSE 0.0 END)
        |    + (CASE WHEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['the','a','of','and','is'], x))) AS DOUBLE)
        |        / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) > 0
        |      THEN 1.0 ELSE 0.0 END)) / 3.0, 6) * 1000000, 0) AS BIGINT) AS qm
        |  FROM documents),
        |s AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(qm) AS BIGINT) AS sum_q_micro
        |  FROM q GROUP BY source),
        |g AS (SELECT CAST(sum(qm) AS BIGINT) // count(*) AS thr FROM q)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, sum_q_micro,
        |  sum_q_micro // n_docs AS avg_q_micro,
        |  (sum_q_micro // n_docs) >= g.thr AS kept
        |FROM s, g ORDER BY source""".stripMargin,
    // d18 shares d14's full-rebuild oracle VERBATIM (the d16/d15 pattern):
    // a green row proves the incremental (labels ⋈ bests) fold equals
    // recomputing clusters and quality representatives from scratch
    "d18_quality_keep_append" -> qualityKeepSql,
    "d17_rep_index_serving" -> repIndexServingSql,
    "d19_rep_index_delete" -> repIndexDeleteSql,
    // d13: d2's CTEs with the containment tail (inter / least size)
    "d13_containment_pairs" ->
      s"""WITH $shinglesCte,
         |dfc AS (SELECT shash, count(*) AS df FROM shh GROUP BY shash),
         |shp AS (SELECT shh.doc_id, shh.shash FROM shh JOIN dfc USING (shash)
         |        WHERE df <= 20),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shp a JOIN shp b ON a.shash = b.shash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id)
         |SELECT id_a, id_b,
         |  ROUND(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    // d16 shares d5's full-rebuild oracle VERBATIM (the d15/d10 pattern):
    // a green row proves the incremental label fold introduced and lost
    // nothing vs recomputing components from every pair
    "d16_cluster_append" -> clusterLabelsSql,
    "d5_dedup_clusters" -> clusterLabelsSql,
    "d6_dedup_decisions" ->
      s"""WITH RECURSIVE $shinglesCte,
         |dfc AS (SELECT shash, count(*) AS df FROM shh GROUP BY shash),
         |shp AS (SELECT shh.doc_id, shh.shash FROM shh JOIN dfc USING (shash)
         |        WHERE df <= 20),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shp a JOIN shp b ON a.shash = b.shash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
         |edges AS (SELECT id_a AS s, id_b AS d FROM pairs
         |          UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id),
         |comps AS (SELECT id AS doc_id, MIN(r) AS comp FROM reach GROUP BY id)
         |SELECT d.doc_id, COALESCE(comps.comp, d.doc_id) AS cluster_id,
         |  d.doc_id = COALESCE(comps.comp, d.doc_id) AS keep
         |FROM documents d LEFT JOIN comps ON comps.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH $shinglesCte,
         |consts(i, a, b) AS (VALUES $constsValues),
         |xi AS (SELECT doc_id, shash % ${MinHash.ShingleMod} AS x FROM shh),
         |hs AS (SELECT doc_id, c.i, MIN((c.a * x + c.b) % ${MinHash.P}) AS h
         |  FROM xi CROSS JOIN consts c GROUP BY doc_id, c.i),
         |bands AS (SELECT doc_id, i // ${MinHash.RowsPerBand} AS band,
         |  (((((((MAX(CASE WHEN i % 4 = 0 THEN h END) * ${MinHash.MixMul}
         |    + MAX(CASE WHEN i % 4 = 1 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul}) + MAX(CASE WHEN i % 4 = 2 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul} + MAX(CASE WHEN i % 4 = 3 THEN h END)) % ${MinHash.MixMod})
         |    AS band_hash
         |  FROM hs GROUP BY doc_id, i // ${MinHash.RowsPerBand}),
         |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shh a JOIN shh b ON a.shash = b.shash AND a.doc_id < b.doc_id
         |  JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
         |  GROUP BY 1, 2),
         |${jaccardTail("shh", "0.7")}""".stripMargin,
    // d12: d3's banded pipeline (cand -> verified pairs) vs the unpruned
    // exact pair set; one metric row
    "d12_lsh_recall" ->
      s"""WITH $shinglesCte,
         |consts(i, a, b) AS (VALUES $constsValues),
         |xi AS (SELECT doc_id, shash % ${MinHash.ShingleMod} AS x FROM shh),
         |hs AS (SELECT doc_id, c.i, MIN((c.a * x + c.b) % ${MinHash.P}) AS h
         |  FROM xi CROSS JOIN consts c GROUP BY doc_id, c.i),
         |bands AS (SELECT doc_id, i // ${MinHash.RowsPerBand} AS band,
         |  (((((((MAX(CASE WHEN i % 4 = 0 THEN h END) * ${MinHash.MixMul}
         |    + MAX(CASE WHEN i % 4 = 1 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul}) + MAX(CASE WHEN i % 4 = 2 THEN h END)) % ${MinHash.MixMod})
         |    * ${MinHash.MixMul} + MAX(CASE WHEN i % 4 = 3 THEN h END)) % ${MinHash.MixMod})
         |    AS band_hash
         |  FROM hs GROUP BY doc_id, i // ${MinHash.RowsPerBand}),
         |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
         |interL AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shh a JOIN shh b ON a.shash = b.shash AND a.doc_id < b.doc_id
         |  JOIN cand c ON c.id_a = a.doc_id AND c.id_b = b.doc_id
         |  GROUP BY 1, 2),
         |lshp AS (SELECT id_a, id_b FROM interL
         |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.7),
         |panel AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 500),
         |lsh AS (SELECT q, nbr FROM (
         |    SELECT id_a AS q, id_b AS nbr FROM lshp
         |    UNION ALL SELECT id_b, id_a FROM lshp)
         |  WHERE q IN (SELECT doc_id FROM panel)),
         |interE AS (
         |  SELECT a.doc_id AS q, b.doc_id AS nbr, count(*) AS inter
         |  FROM shh a JOIN shh b ON a.shash = b.shash AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id IN (SELECT doc_id FROM panel)
         |  GROUP BY 1, 2),
         |exact AS (SELECT q, nbr FROM interE
         |  JOIN sizes sa ON sa.doc_id = q JOIN sizes sb ON sb.doc_id = nbr
         |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.7),
         |m AS (SELECT (SELECT count(*) FROM exact) AS n_exact,
         |             (SELECT count(*) FROM lsh) AS n_lsh,
         |             (SELECT count(*) FROM exact e JOIN lsh l
         |                ON e.q = l.q AND e.nbr = l.nbr) AS n_hit)
         |SELECT n_exact, n_lsh, n_hit,
         |  CAST(CASE WHEN n_exact = 0 THEN 1000000
         |    ELSE (n_hit * 1000000) // n_exact END AS BIGINT) AS recall_ppm
         |FROM m""".stripMargin,
    "d4_simhash" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |           FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS x FROM t),
        |bits AS (SELECT doc_id, j,
        |  SUM(CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(32)) AS j) GROUP BY doc_id, j)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d7_simhash_pairs" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |           FROM documents),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS x FROM t),
        |bits AS (SELECT doc_id, j,
        |  SUM(CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(32)) AS j) GROUP BY doc_id, j),
        |fp AS (SELECT doc_id,
        |  SUM(CASE WHEN s > 0 THEN CAST(POWER(2, j) AS BIGINT) ELSE 0 END) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "d10_cross_snapshot_dedup" -> crossSnapshotSql,
    // d15: the APPENDED index must behave exactly like a fresh full
    // index, so the oracle is d10's fresh-index replay verbatim (the
    // c9/c10 sharing pattern)
    "d15_index_append" -> crossSnapshotSql,
    "t19_chunk_windows" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents),
        |c AS (SELECT doc_id, l, unnest(range(0,
        |    CAST(greatest(ceil(CAST(len(l) - 64 AS DOUBLE) / 48), 0) AS BIGINT) + 1))
        |    AS chunk_idx
        |  FROM t)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(l[(chunk_idx * 48 + 1):(chunk_idx * 48 + 64)], ' ') AS chunk,
        |  least(CAST(64 AS BIGINT), len(l) - chunk_idx * 48) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // c8: same chunk construction as t19 with stride = size = 20; first
    // occurrence via a window rank (the engine's min-struct agg is
    // decision-identical), docs reassembled from rn=1 blocks
    "c8_paragraph_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents),
        |c AS (SELECT doc_id, l, unnest(range(0,
        |    CAST(greatest(ceil(CAST(len(l) - 20 AS DOUBLE) / 20), 0) AS BIGINT) + 1))
        |    AS block_idx
        |  FROM t),
        |b AS (SELECT doc_id, block_idx,
        |    array_to_string(l[(block_idx * 20 + 1):(block_idx * 20 + 20)], ' ') AS btxt
        |  FROM c),
        |k AS (SELECT doc_id, block_idx, btxt,
        |    row_number() OVER (PARTITION BY btxt ORDER BY doc_id, block_idx) AS rn
        |  FROM b)
        |SELECT doc_id, count(*) AS n_blocks,
        |  count(*) FILTER (WHERE rn = 1) AS n_kept,
        |  coalesce(string_agg(btxt, ' ' ORDER BY block_idx) FILTER (WHERE rn = 1),
        |    '') AS text_clean
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // c9: c8's block construction split by the md5 bucket; batch blocks
    // keep only first-in-batch occurrences whose text is absent from the
    // snapshot side
    // r1: same postings/df/idf/saturation arithmetic, parenthesized
    // IDENTICALLY to the Column tree so every per-term double op is the
    // same IEEE operation; the per-pair sum is over integer micro units
    "r1_bm25_topk" ->
      s"""WITH ${bm25Ctes(maxQid = 10)}
        |SELECT qid AS query_id, rank, did AS doc_id, score_micro FROM lexr
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // r1b: identical chain with the production integer idf cutoff active
    "r1b_bm25_pruned" ->
      s"""WITH ${bm25Ctes(maxQid = 10,
             minIdfMicro = graft.text.Bm25.DefaultMinIdfMicro)}
        |SELECT qid AS query_id, rank, did AS doc_id, score_micro FROM lexr
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // c13: the same hashed-bucket LMs, integer micro-nat log-probs, and
    // salted Gumbel draw replayed in SQL — every per-doc aggregate is an
    // integer sum and the selection key is integer addition, so the
    // top-100 and its order are engine-exact
    "c13_dsir_select" -> dsirSelectSql,
    // c13b: the production train/serve split computes the identical
    // frame, so it shares c13's replay verbatim (the r8/x22 pattern)
    "c13b_dsir_stored" -> dsirSelectSql,
    // r8: r1b's replay verbatim — the gate differs only in WHICH serving
    // path computes it (the stored partition-pruned layout vs the
    // in-plan index); identical SQL pins stored ≡ inline through DuckDB
    "r8_bm25_stored" ->
      s"""WITH ${bm25Ctes(maxQid = 10,
             minIdfMicro = graft.text.Bm25.DefaultMinIdfMicro)}
        |SELECT qid AS query_id, rank, did AS doc_id, score_micro FROM lexr
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // r4: the oracle REBUILDS from the full corpus — gating the append
    // path against the exact full-rebuild identity (c9-vs-c8 pattern)
    "r4_bm25_increment" ->
      s"""WITH ${bm25Ctes(maxQid = 10,
             minIdfMicro = graft.text.Bm25.DefaultMinIdfMicro)}
        |SELECT qid AS query_id, rank, did AS doc_id, score_micro FROM lexr
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // r7: the oracle rebuilds scoring over the corpus MINUS the
    // tombstoned bucket — gating the delete path against the exact
    // rebuild-without-deleted identity (the r4 pattern, subtractive)
    "r7_bm25_delete" ->
      s"""WITH ${bm25Ctes(maxQid = 10,
             minIdfMicro = graft.text.Bm25.DefaultMinIdfMicro,
             corpusWhere = """WHERE CAST(concat('0x', substr(md5(concat(
               |      CAST(doc_id AS VARCHAR), ':graft-split-v1')), 1, 15))
               |      AS BIGINT) % 100 NOT BETWEEN 40 AND 59""".stripMargin)}
        |SELECT qid AS query_id, rank, did AS doc_id, score_micro FROM lexr
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "t23_shard_manifest" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |      ':graft-shard-v1')), 1, 15)) AS BIGINT) % 8 AS shard,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_toks,
        |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS fp
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  bit_xor(fp) AS checksum,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "c9_paragraph_increment" -> incrementalParagraphSql,
    // c10: the bloom-prefiltered path is exactly c9 (fp removed by the
    // confirm join, no fn exist), so it shares c9's oracle verbatim
    "c10_paragraph_bloom" -> incrementalParagraphSql,
    "c7_curation_v2" ->
      s"""WITH $curationCtes
         |SELECT m.doc_id, m.source, m.n_tokens, x.xent, m.multiplicity
         |FROM mult m JOIN xe x USING (doc_id)
         |CROSS JOIN thr
         |LEFT JOIN flagged fl ON fl.doc_id = m.doc_id
         |WHERE fl.doc_id IS NULL AND x.xent <= thr.thr AND m.multiplicity >= 1
         |ORDER BY m.doc_id""".stripMargin,
    // c11: the SAME curationCtes, un-filtered, joined with t25's novelty
    // construction — reason booleans instead of a keep set
    "c11_curation_provenance" ->
      s"""WITH $curationCtes,
         |w8 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS l
         |  FROM documents),
         |sh8 AS (SELECT doc_id, unnest(list_distinct(
         |  [concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3], l[i+4], l[i+5], l[i+6], l[i+7])
         |   for i in range(1, greatest(len(l) - 7, 1) + 1)])) AS shingle
         |  FROM w8),
         |shh8 AS (SELECT s.doc_id, b.bucket,
         |  CAST(concat('0x', substr(md5(s.shingle), 1, 15)) AS BIGINT) AS shash
         |  FROM sh8 s JOIN bk b ON b.doc_id = s.doc_id
         |  WHERE b.bucket < 80 OR b.bucket >= 90),
         |ref8 AS (SELECT DISTINCT shash FROM shh8 WHERE bucket >= 90),
         |nov AS (SELECT tr.doc_id,
         |    CAST(count(ref8.shash) * 1000000 // count(*) AS BIGINT) AS overlap_ppm
         |  FROM (SELECT doc_id, shash FROM shh8 WHERE bucket < 80) tr
         |  LEFT JOIN ref8 ON tr.shash = ref8.shash
         |  GROUP BY tr.doc_id)
         |SELECT m.doc_id,
         |  fl.doc_id IS NOT NULL AS is_dup,
         |  x.xent > thr.thr AS hi_xent,
         |  m.multiplicity < 1 AS zero_mult,
         |  coalesce(nov.overlap_ppm, 0) >= 500000 AS high_overlap,
         |  (fl.doc_id IS NULL AND x.xent <= thr.thr AND m.multiplicity >= 1
         |   AND coalesce(nov.overlap_ppm, 0) < 500000) AS kept
         |FROM mult m JOIN xe x USING (doc_id)
         |CROSS JOIN thr
         |LEFT JOIN flagged fl ON fl.doc_id = m.doc_id
         |LEFT JOIN nov ON nov.doc_id = m.doc_id
         |ORDER BY m.doc_id""".stripMargin,
    "c6_mixture_weights" ->
      """WITH perdoc AS (SELECT doc_id, source,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |persrc AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
        |  FROM perdoc GROUP BY source),
        |tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_sort(list(sqrt(CAST(src_tokens AS DOUBLE))))),
        |      (a, b) -> a + b) AS wsum
        |  FROM persrc),
        |f AS (SELECT source,
        |    ROUND((sqrt(CAST(src_tokens AS DOUBLE)) / wsum) /
        |          (CAST(src_tokens AS DOUBLE) / total_tokens), 6) AS factor
        |  FROM persrc CROSS JOIN tot)
        |SELECT p.doc_id, p.source, CAST(p.n_tokens AS BIGINT) AS n_tokens,
        |  f.factor,
        |  CAST(CAST(floor(f.factor) AS BIGINT) +
        |    (CASE WHEN CAST(concat('0x', substr(md5(concat(
        |        CAST(p.doc_id AS VARCHAR), ':graft-mix-v1')), 1, 15)) AS BIGINT)
        |        % 1000000 < ROUND((f.factor - floor(f.factor)) * 1000000, 0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS multiplicity
        |FROM perdoc p JOIN f USING (source) ORDER BY p.doc_id""".stripMargin,
    "d11_winnow_pairs" ->
      """WITH t AS (SELECT doc_id,
        |  list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 1000000007) AS th
        |  FROM documents),
        |wf AS (SELECT doc_id,
        |  list_min(list_transform(range(1, greatest(len(th) - 4 + 1, 1) + 1),
        |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i : i + 3]),
        |      (acc, x) -> (acc * 1009 + x) % 1000000007))) AS wfp
        |  FROM t),
        |fr AS (SELECT wfp, count(*) AS gf, min(doc_id) AS gmin
        |  FROM wf GROUP BY wfp),
        |cut AS (SELECT greatest(round(quantile_cont(gf, 0.999), 4), 32.0) AS gcut
        |  FROM fr),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM wf a JOIN wf b ON a.wfp = b.wfp AND a.doc_id < b.doc_id
        |  JOIN fr ON fr.wfp = a.wfp, cut WHERE fr.gf <= cut.gcut
        |  UNION ALL
        |  SELECT fr.gmin AS id_a, w.doc_id AS id_b
        |  FROM wf w JOIN fr ON fr.wfp = w.wfp, cut
        |  WHERE fr.gf > cut.gcut AND w.doc_id <> fr.gmin),
        |tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |  [concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3])
        |   for i in range(1, greatest(len(l) - 3, 1) + 1)])) AS shingle
        |  FROM tk),
        |shh AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shash
        |  FROM sh),
        |inter AS (SELECT p.id_a, p.id_b, count(*) AS n_shared
        |  FROM p JOIN shh a ON a.doc_id = p.id_a
        |  JOIN shh b ON b.doc_id = p.id_b AND b.shash = a.shash
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared
        |FROM inter WHERE n_shared >= 1 ORDER BY id_a, id_b""".stripMargin,
    "t22_zipf_card" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
        |rk AS (SELECT c, token,
        |    row_number() OVER (ORDER BY c DESC, token ASC) AS r FROM cnt),
        |m AS (SELECT c,
        |    CAST(ROUND(ln(CAST(r AS DOUBLE)) * 1000, 0) AS BIGINT) AS x,
        |    CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000, 0) AS BIGINT) AS y
        |  FROM rk),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(c) AS BIGINT) AS total_tokens,
        |    CAST(max(c) AS BIGINT) AS top_count,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM m)
        |SELECT vocab, total_tokens,
        |  ROUND(CAST(top_count AS DOUBLE) / total_tokens, 6) AS top_share,
        |  ROUND((CAST(vocab AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |      / (CAST(vocab AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
        |    AS zipf_slope
        |FROM s""".stripMargin,
    "t21_bigram_logprob" -> {
      val lamM = math.round(0.7 * 1000) // λ in thousandths — exact integers
      val lamC = 1000L - lamM
      s"""WITH bt AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS l
         |  FROM documents),
         |pr0 AS (SELECT doc_id,
         |    unnest([{'w1': l[i], 'w2': l[i+1]} for i in range(1, len(l))]) AS p
         |  FROM bt),
         |pr AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM pr0),
         |tf2 AS (SELECT doc_id, w1, w2, count(*) AS tf FROM pr GROUP BY 1, 2, 3),
         |lm2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2 FROM tf2
         |  WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
         |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 < 80
         |  GROUP BY w1, w2),
         |lm1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM lm2 GROUP BY w1),
         |uni AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS cu FROM lm2 GROUP BY w2),
         |btot AS (SELECT CAST(sum(cu) AS BIGINT) AS tot,
         |  CAST(count(*) AS BIGINT) AS v FROM uni),
         |sc AS (SELECT tf2.doc_id, tf2.tf,
         |    CAST(ROUND(ln(
         |      CAST($lamM * (coalesce(lm2.c2, 0) + 1) * (btot.tot + btot.v + 1)
         |         + $lamC * (coalesce(uni.cu, 0) + 1)
         |           * (coalesce(lm1.c1, 0) + btot.v + 1) AS DOUBLE)
         |      / CAST(1000 * (coalesce(lm1.c1, 0) + btot.v + 1)
         |             * (btot.tot + btot.v + 1) AS DOUBLE)) * 1000000, 0)
         |      AS BIGINT) AS lm
         |  FROM tf2 LEFT JOIN lm2 USING (w1, w2) LEFT JOIN lm1 USING (w1)
         |  LEFT JOIN uni ON uni.w2 = tf2.w2 CROSS JOIN btot),
         |bg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_transitions,
         |    CAST((2 * (-CAST(sum(lm * tf) AS BIGINT)) + CAST(sum(tf) AS BIGINT))
         |      // (2 * CAST(sum(tf) AS BIGINT)) AS DOUBLE) / 1000000 AS xent2
         |  FROM sc GROUP BY doc_id),
         |ut AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
         |  FROM documents),
         |utf AS (SELECT doc_id, token, count(*) AS tf FROM ut GROUP BY doc_id, token),
         |uvocab AS (SELECT token, sum(tf) AS cnt FROM utf
         |  WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
         |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 < 80
         |  GROUP BY token),
         |utot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
         |  CAST(count(*) AS BIGINT) AS v FROM uvocab),
         |usc AS (SELECT utf.doc_id, utf.tf,
         |    CAST(ROUND(ln(CAST(coalesce(uvocab.cnt, 0) + 1 AS DOUBLE)
         |      / (utot.tot + utot.v + 1)) * 1000000, 0) AS BIGINT) AS lm
         |  FROM utf LEFT JOIN uvocab USING (token) CROSS JOIN utot),
         |uxe AS (SELECT doc_id,
         |    CAST((2 * (-CAST(sum(lm * tf) AS BIGINT)) + CAST(sum(tf) AS BIGINT))
         |      // (2 * CAST(sum(tf) AS BIGINT)) AS DOUBLE) / 1000000 AS xent
         |  FROM usc GROUP BY doc_id)
         |SELECT u.doc_id, coalesce(bg.n_transitions, 0) AS n_transitions,
         |  coalesce(bg.xent2, u.xent) AS xent2
         |FROM uxe u LEFT JOIN bg ON bg.doc_id = u.doc_id
         |ORDER BY u.doc_id""".stripMargin
    },
    "t18_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
        |vocab AS (SELECT token, sum(tf) AS cnt FROM tf
        |  WHERE CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
        |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 < 80
        |  GROUP BY token),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
        |  CAST(count(*) AS BIGINT) AS v FROM vocab),
        |scored AS (SELECT tf.doc_id, tf.tf, vocab.cnt,
        |    CAST(ROUND(ln(CAST(coalesce(vocab.cnt, 0) + 1 AS DOUBLE)
        |      / (tot.tot + tot.v + 1)) * 1000000, 0) AS BIGINT) AS logp_micro
        |  FROM tf LEFT JOIN vocab USING (token) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN cnt IS NULL THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST((2 * (-CAST(sum(logp_micro * tf) AS BIGINT))
        |      + CAST(sum(tf) AS BIGINT))
        |    // (2 * CAST(sum(tf) AS BIGINT)) AS DOUBLE) / 1000000 AS xent
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** c13's hashed-bucket LMs, integer micro-nat log-probs, and salted
    * Gumbel draw replayed in SQL — shared verbatim by c13 (inline) and
    * c13b (stored train/serve split): the gates differ only in WHICH
    * path computes the identical result. */
  private def dsirSelectSql: String =
    """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |bk AS (SELECT doc_id, source,
        |    CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) % 4096 AS b
        |  FROM toks WHERE token <> ''),
        |tf AS (SELECT doc_id, source, b, count(*) AS tf
        |  FROM bk GROUP BY doc_id, source, b),
        |tl AS (SELECT b, CAST(sum(tf) AS BIGINT) AS cnt_t FROM tf
        |  WHERE source = 'src0' GROUP BY b),
        |rl AS (SELECT b, CAST(sum(tf) AS BIGINT) AS cnt_r FROM tf
        |  WHERE source <> 'src0' GROUP BY b),
        |tots AS (SELECT
        |    (SELECT CAST(coalesce(sum(cnt_t), 0) AS BIGINT) FROM tl) AS tot_t,
        |    (SELECT CAST(coalesce(sum(cnt_r), 0) AS BIGINT) FROM rl) AS tot_r),
        |sc AS (SELECT tf.doc_id,
        |    CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    CAST(sum(tf.tf * (
        |      CAST(ROUND(ln(CAST(coalesce(tl.cnt_t, 0) + 1 AS DOUBLE)
        |        / CAST(tots.tot_t + 4096 AS DOUBLE)) * 1000000, 0) AS BIGINT)
        |      - CAST(ROUND(ln(CAST(coalesce(rl.cnt_r, 0) + 1 AS DOUBLE)
        |        / CAST(tots.tot_r + 4096 AS DOUBLE)) * 1000000, 0) AS BIGINT)
        |    )) AS BIGINT) AS lr_micro
        |  FROM tf LEFT JOIN tl USING (b) LEFT JOIN rl USING (b) CROSS JOIN tots
        |  WHERE tf.source <> 'src0'
        |  GROUP BY tf.doc_id),
        |g AS (SELECT doc_id, n_tokens, lr_micro,
        |    CAST(ROUND(-ln(-ln((CAST(concat('0x', substr(md5(concat(
        |      CAST(doc_id AS VARCHAR), ':graft-dsir-v1')), 1, 15)) AS BIGINT)
        |      % 1000000 + 0.5) / 1000000.0)) * 1000000, 0) AS BIGINT) AS g_micro
        |  FROM sc)
        |SELECT doc_id, rank, n_tokens, lr_micro, g_micro, key_micro FROM (
        |  SELECT doc_id, n_tokens, lr_micro, g_micro,
        |    lr_micro + g_micro AS key_micro,
        |    row_number() OVER (ORDER BY lr_micro + g_micro DESC, doc_id ASC)
        |      AS rank
        |  FROM g)
        |WHERE rank <= 100 ORDER BY rank""".stripMargin
}
