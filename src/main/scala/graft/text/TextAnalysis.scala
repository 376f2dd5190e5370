package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, language ID, quality scoring, fingerprinting.
  *
  * Everything here is built from codegen'd Catalyst expressions (no UDFs),
  * so the operators inline into whole-stage codegen and run as a map-only
  * stage over the corpus — the shape you want when the corpus is 100 TB:
  * no shuffle, no driver involvement, trivially partition-parallel.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token estimate: word pieces plus standalone punctuation
    * (`\w+|[^\w\s]` — a rough stand-in for a real tokenizer's segment
    * count). */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** Occurrences (with multiplicity) of any of `words` as whole tokens. */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(tokens(text), w => array_contains(set, w)))
  }

  /** Per-language stopword marker lists for the n-gram/stopword language-ID
    * heuristic. Tiny and disjoint by construction. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "du", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Language-ID: argmax of per-language stopword hit counts, ties broken by
    * the fixed order of `langMarkers` (a deterministic heuristic — a real
    * pipeline would plug a model here; the operator shape is the point). */
  def languageId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, words) => lang -> stopwordHits(text, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Stopword ratio against the English marker list (a cheap fluency
    * signal). */
  def stopwordRatio(text: Column): Column =
    stopwordHits(text, langMarkers.head._2).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")

  /** Composite quality score in [0,1]: length band + punctuation band +
    * stopword presence, equally weighted. Mirrors the reference's
    * rule-based validation checks (P10, `table_bases.py:1171-1230`) recast
    * as a soft score. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val lenOk = when(nTok.between(10, 5000), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatio(text) > 0, 1.0).otherwise(0.0)
    round((lenOk + punctOk + stopOk) / 3.0, 6)
  }

  /** Normalization for fingerprinting: lowercase, strip punctuation,
    * collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[\\p{Punct}]", " "), "\\s+", " "))

  /** Content fingerprint: md5 of the normalized text (document-level exact
    * dedup key; the rolling-hash variant is in [[graft.dedup]]). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Per-token 60-bit md5-derived hashes reduced mod `p` — the alphabet
    * for the polynomial fingerprints below. */
  def tokenHashes(text: Column, p: Long): Column =
    transform(tokens(text),
      t => graft.plans.Md5Long60Expr.md5Long60(t) % p)

  /** Document fingerprint as a Rabin-Karp-style polynomial rolling hash
    * over token hashes: h = fold(0, (acc, x) => (acc·b + x) mod p). All
    * integer arithmetic: acc < p ≈ 1e9, so each step peaks ≈ 1e12 —
    * overflow-free under ANSI on both engines, and order-sensitive (unlike
    * the md5-of-normalized-text form, which is permutation-blind only to
    * whitespace). */
  def rollingFingerprint(text: Column, b: Long = 1009L,
                         p: Long = 1000000007L): Column =
    aggregate(tokenHashes(text, p), lit(0L), (acc, x) => (acc * b + x) % p)

  /** Winnowing-style fingerprint: the MIN of the polynomial hashes of all
    * `w`-token windows — robust to local edits outside the minimizing
    * window (the standard document-fingerprinting trick for near-dup
    * candidate keys). Documents shorter than `w` fall back to one
    * truncated window. Entirely map-side array expressions. */
  def winnowedFingerprint(text: Column, w: Int, b: Long = 1009L,
                          p: Long = 1000000007L): Column =
    winnowedFromHashes(tokenHashes(text, p), w, b, p)

  /** The window fold over an ALREADY-COMPUTED hash array column. The hash
    * array is let-bound ([[letBind]]) so the per-window `slice` reads a
    * bound variable instead of re-evaluating `th` — with an expensive
    * `th` tree (the [[winnowedFingerprint]] composition) that was
    * O(tokens × windows) md5 calls per document. */
  def winnowedFromHashes(th: Column, w: Int, b: Long = 1009L,
                         p: Long = 1000000007L): Column =
    letBind(th, t =>
      array_min(transform(sequence(lit(1), greatest(size(t) - w + 1, lit(1))),
        i => aggregate(slice(t, i, lit(w)), lit(0L), (acc, x) => (acc * b + x) % p))))

  /** Frame-level winnowed fingerprints with the token-hash array
    * MATERIALIZED once per row before the per-window folds. The pure
    * Column composition ([[winnowedFingerprint]]) inlines the whole
    * token-hashing tree into the window lambda, and lambda bodies are
    * re-evaluated per element with no cross-window subexpression
    * elimination — O(tokens × windows) md5 calls per document, measured
    * ~50× slower at sf0.1 when the fingerprint feeds a join. Values are
    * identical (same fold over the same hashes); only the evaluation
    * count changes. */
  def winnowedFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String,
                           textCol: String, w: Int, b: Long = 1009L,
                           p: Long = 1000000007L): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), tokenHashes(col(textCol), p).as("__th"))
      .select(col(idCol), winnowedFromHashes(col("__th"), w, b, p).as("wfp"))

  /** Candidate pairs from fingerprint COLLISIONS, with the hot-group
    * fan-out capped: a fingerprint shared by f documents yields f²/2
    * pairs under a plain self-join — one boilerplate fingerprint
    * (license header, templated page) in 1% of a 100 TB corpus is a
    * quadratic blowup on a single skewed key. Groups whose frequency
    * exceeds the cutoff are STAR-paired instead (every member against
    * the group's min id): linear in the group size, and the cluster
    * stays connected for downstream transitive grouping — the member↔
    * member edges a star drops are exactly the ones connected-components
    * recovers through the hub.
    *
    * The cutoff is `max(capFloor, q-quantile of group frequency)` — the
    * same df-distribution-derived form as
    * [[graft.dedup.MinHash.exactJaccardPairsAdaptive]] (a fixed cutoff
    * is corpus-dependent; see SCALE.md round-3), computed in-plan as a
    * mergeable sketch and broadcast as one row. `f` must have columns
    * (idCol, wfp). */
  def winnowCollisionPairs(f: org.apache.spark.sql.DataFrame, idCol: String,
                           capFloor: Int = 32,
                           q: Double = 0.999): org.apache.spark.sql.DataFrame = {
    val fr = f.groupBy(col("wfp"))
      .agg(count(lit(1)).as("gf"), min(col(idCol)).as("gmin"))
    val cut = fr.agg(greatest(
      coalesce(expr(s"approx_percentile(gf, $q)"), lit(1L)),
      lit(capFloor.toLong)).as("gcut"))
    val fg = f.join(fr, "wfp")
      .crossJoin(org.apache.spark.sql.functions.broadcast(cut))
    val normal = fg.filter(col("gf") <= col("gcut"))
    val pairsN = normal.select(col(idCol).as("id_a"), col("wfp"))
      .join(normal.select(col(idCol).as("id_b"), col("wfp")), "wfp")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val pairsH = fg.filter(col("gf") > col("gcut") && col(idCol) =!= col("gmin"))
      .select(col("gmin").as("id_a"), col(idCol).as("id_b"))
    pairsN.union(pairsH)
  }

  /** TF-IDF scores per (doc, token): tf = in-doc count, idf = ln(N/df)
    * with df = docs containing the token. Two aggregations (both with
    * map-side combine) and one join on the token — the token-frequency
    * frame is df-bounded (vocabulary-sized), so AQE broadcasts it against
    * any corpus size. Caller supplies idCol; token normalization is plain
    * lowercase (analysis-friendly, oracle-reproducible). */
  def tfIdf(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(lower(col(textCol)))).as("token"))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // corpus size stays IN the plan (1-row broadcast) — no eager job
    val nDf = docs.agg(count_distinct(col(idCol)).as("n"))
    tf.join(dfc, "token")
      .crossJoin(org.apache.spark.sql.functions.broadcast(nDf))
      .withColumn("tf_idf", col("tf") * log(col("n").cast("double") / col("df")))
      .drop("n")
  }

  /** Distinct word n-gram shingles. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** Let-binding for Column expressions: evaluates `v` ONCE per row and
    * hands the body a bound lambda variable. Higher-order functions run
    * interpreted with no subexpression elimination, so an expensive tree
    * CAPTURED inside a lambda re-evaluates on every element access —
    * measured on the sf0.1 corpus: the 8-gram shingle pass fell 1.9 s →
    * 0.1 s (19×) when the token split stopped re-running n× per window
    * (optimization guide §1.2 per-task work; the winnowedFingerprints
    * scaladoc documents the same hazard it used to work around
    * frame-side). Values are untouched — the body is the same expression
    * over the same value, bound instead of inlined. */
  def letBind(v: Column, body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** [[shingles]] over an ALREADY-TOKENIZED array — the entry point for
    * callers sharing one tokenize pass across several shingle consumers
    * (the c7/c11 curation chains persist one token frame feeding the
    * 2-gram dup gate and the 8-gram novelty gate). The token array is
    * let-bound so per-window accesses are O(1) even when `toks` is an
    * expensive expression (see [[letBind]]). */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    // try_element_at: ANSI mode (Spark 4 default) makes element_at throw
    // past the end; short docs (< n tokens) yield one partial shingle
    letBind(toks, tk =>
      array_distinct(
        transform(sequence(lit(0), greatest(size(tk) - n, lit(0))),
          i => concat_ws(" ", (0 until n).map(k => try_element_at(tk, i + k + 1)): _*))))

  /** The dataset-split bucket in [0, 100): salted md5 of the id,
    * RNG-free. ONE definition shared by the split query (t7), curation
    * (c1), and decontamination (c3) — the decontamination guarantee is
    * "flags overlap against the split t7 reports", which only holds if
    * they compute the same bucket. */
  def splitBucket(id: Column, salt: String = ":graft-split-v1"): Column =
    pmod(graft.plans.Md5Long60Expr.md5Long60(concat(id.cast("string"), lit(salt))), lit(100))

  /** Email/URL patterns shared by pattern counting (t10) and redaction
    * (t15) — and mirrored verbatim in their oracle SQL. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^\\s]+"

  /** Zipf rank-frequency data card: the least-squares slope of
    * log(count) over log(rank) across the vocabulary — natural-language
    * corpora sit near −1 (Zipf's law); a slope far from it flags
    * template/machine-generated or truncated text — plus the vocabulary
    * size, token total, and top-token share.
    *
    * Scale shape: one token-count aggregation (vocabulary-sized), one
    * window for ranks (partitioned arbitrarily? no — a single global
    * order over the VOCABULARY frame, which is Zipf-bounded, not
    * corpus-bounded), and one scalar aggregation for the regression
    * sums.
    *
    * Determinism: log(rank) and log(count) are fixed to MILLI-nat longs;
    * the regression sums are then exact integers, and the closed-form
    * slope is evaluated with the same operand order on both engines
    * (products of identical exact integers in double — identical
    * doubles), so the one rounded output is engine-exact. */
  def zipfCard(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    // single-value non-foldable partition key: silences the
    // "No Partition Defined" warning without changing ranks (all rows
    // share key 0) — same device as o3, see MiscQueries.o3_global_topk
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c") % lit(1))
      .orderBy(col("c").desc, col("token").asc)
    val ranked = counts.withColumn("r", row_number().over(w))
      .select(col("c"),
        round(log(col("r").cast("double")) * 1000, 0).cast("long").as("x"),
        round(log(col("c").cast("double")) * 1000, 0).cast("long").as("y"))
    ranked.agg(count(lit(1)).as("vocab"), sum(col("c")).as("total_tokens"),
        max(col("c")).as("top_count"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("vocab"), col("total_tokens"),
        round(col("top_count").cast("double") / col("total_tokens"), 6)
          .as("top_share"),
        round((col("vocab").cast("double") * col("sxy") -
            col("sx").cast("double") * col("sy")) /
          (col("vocab").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx")), 6).as("zipf_slope"))
  }

  /** Interpolated bigram cross-entropy — [[unigramLogProb]] upgraded one
    * order toward the KenLM model CCNet actually uses: each transition
    * scores p(w_i | w_{i-1}) = λ·p_bigram + (1−λ)·p_unigram (Jelinek-
    * Mercer interpolation), with both LMs trained on the t7 train split
    * and add-one-smoothed; the unigram term keeps unseen transitions
    * finite. Scored over a doc's n−1 transitions (single-token docs fall
    * back to the unigram score of their one token).
    *
    * Scale shape: bigrams are built MAP-SIDE from the token array (no
    * self-join), then one (doc, w1, w2) combine-enabled aggregation; the
    * bigram LM is a Zipf-bounded count frame joined on (w1, w2) and the
    * unigram LM on w1/w2 — all vocabulary-shaped, AQE-broadcast at
    * harness scale, ordinary shuffle joins at corpus scale. Per-
    * transition log-probs are integer micro-nats (see [[unigramLogProb]]
    * for why), so per-doc sums are exact and engine-independent. */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, lambda: Double = 0.7,
                    trainBucketBelow: Int = 80): org.apache.spark.sql.DataFrame = {
    // Tokenized ONCE per lineage, map-side (not shared via a cached
    // token-array frame: round 15 measured that persisting the arrays to
    // share one split between the pairs fan-out and the unigram fallback
    // cost MORE than the second regex split — wall 2.6 → 3.7 s at sf0.1;
    // wide deserialized array rows are expensive to cache and re-scan).
    val toks = tokens(lower(col(textCol)))
    // map-side adjacent pairs: (w1, w2) per position; docs with < 2
    // tokens contribute zero transitions here
    val nm1 = greatest(size(toks) - 1, lit(0))
    val pairs = docs.select(col(idCol),
        explode(zip_with(slice(toks, lit(1), nm1), slice(toks, lit(2), nm1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col(idCol), col("p.w1"), col("p.w2"))
    // NOT dictionary-encoded (round 15): encoding (w1, w2) as dense int
    // ids from an in-plan broadcast vocab WAS implemented and measured —
    // shuffle read dropped 12.0 → 8.8 MB at sf0.1, but the vocab
    // distinct + two broadcast joins cost more than the narrower shuffle
    // saved (wall 2.6 → 3.9 s, task time 24 → 32 s, +6 jobs). The string
    // keys stay; at a scale where the transition shuffle dominates the
    // vocab pass, revisit (the encode is value-identical by bijection).
    // NOT persisted: the five tf2 consumers share one plan, where AQE
    // exchange reuse serves the aggregation's shuffle output to every
    // branch — the round-14 persist measured as a regression (see the
    // unigramLogProbCore note; t21 2.33 s unpersisted vs ~3.4 s persisted
    // at matched calibration, round 15)
    val tf2 = pairs.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
    val isTrain = splitBucket(col(idCol)) < trainBucketBelow
    // bigram LM: train-split transition counts
    val lm2 = tf2.filter(isTrain).groupBy(col("w1"), col("w2"))
      .agg(sum(col("tf")).as("c2"))
    // context totals c1(w1) = Σ_w c2(w1, w), and the target-word unigram
    // for the interpolation fallback
    val lm1 = lm2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val uni = lm2.groupBy(col("w2")).agg(sum(col("c2")).as("cu"))
    val totals = uni.agg(sum(col("cu")).as("tot"), count(lit(1)).as("v"))
    // add-one over the TARGET vocabulary in both denominators: an unseen
    // context scores 1/(v+1) — small — instead of the degenerate 1 a
    // fanout-based Laplace would give it.
    // The interpolation λ·n1/d1 + (1−λ)·n2/d2 is computed as ONE exact
    // integer rational (λ in thousandths): a float multiply-add here
    // differs by an ulp between engines (FMA contraction) and flipped the
    // 6th decimal on ~1e-4 of sf1 docs; with the blend exact, the only
    // cross-engine float op left is a single ln of identical doubles.
    // (BIGINT bounds: den = 1000·d1·d2 — fine through ~10^7-token-count
    // LMs; a 100 TB LM lifts these four products to DECIMAL(38,0).)
    val lamM = math.round(lambda * 1000)
    val n1 = coalesce(col("c2"), lit(0L)) + 1
    val d1 = coalesce(col("c1"), lit(0L)) + col("v") + 1
    val n2 = coalesce(col("cu"), lit(0L)) + 1
    val d2 = col("tot") + col("v") + 1
    val num = lit(lamM) * n1 * d2 + lit(1000L - lamM) * n2 * d1
    val den = lit(1000L) * d1 * d2
    val logp = round(log(num.cast("double") / den.cast("double")) * 1000000, 0)
      .cast("long")
    val scoredPairs = tf2
      .join(lm2, Seq("w1", "w2"), "left")
      .join(lm1, Seq("w1"), "left")
      .join(uni.withColumnRenamed("w2", "w2u"), col("w2") === col("w2u"), "left")
      .crossJoin(org.apache.spark.sql.functions.broadcast(totals))
      .withColumn("logp_micro", logp)
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_transitions"),
        (-sum(col("logp_micro") * col("tf"))).as("s_micro"))
      // integer half-up rounding — see unigramLogProb for why
      .withColumn("xent2",
        expr("CAST((2 * s_micro + n_transitions) DIV (2 * n_transitions) AS DOUBLE) / 1000000"))
      .drop("s_micro")
    // every doc comes back: single-token docs carry NULL transitions and
    // fall back to the unigram score
    val uniDoc = unigramLogProb(docs, idCol, textCol, trainBucketBelow)
      .select(col(idCol), col("xent"))
    uniDoc.join(scoredPairs, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_transitions"), lit(0L)).as("n_transitions"),
        coalesce(col("xent2"), col("xent")).as("xent2"))
  }

  /** Overlapping token-window chunking — the RAG / embedding-pipeline
    * primitive: each document becomes ⌈n/stride⌉ windows of up to `size`
    * tokens, starting every `stride` tokens (overlap = size − stride).
    * Output one row per (doc, chunk): chunk_idx, chunk text, token count.
    * Entirely map-side (array expressions + one explode): no shuffle, no
    * UDF — the corpus-sized fan-out happens inside the scan stage, and
    * the output is `size/stride`× the input rows at any scale. */
  def chunkWindows(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, size: Int,
                   stride: Int): org.apache.spark.sql.DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    // token array let-bound: the per-chunk slice/size read a bound
    // variable instead of re-running the split per chunk (see letBind)
    val chunks = letBind(tokens(col(textCol)), toks => {
      val nChunks = greatest(ceil((org.apache.spark.sql.functions.size(toks) - size)
        .cast("double") / stride).cast("long"), lit(0L)) + 1
      transform(sequence(lit(0L), nChunks - 1), i =>
        struct(i.as("chunk_idx"),
          concat_ws(" ", slice(toks, (i * stride + 1).cast("int"), lit(size))).as("chunk"),
          least(lit(size.toLong),
            org.apache.spark.sql.functions.size(toks).cast("long") - i * stride)
            .as("n_tokens")))
    })
    docs.select(col(idCol), explode(chunks).as("c"))
      .select(col(idCol), col("c.chunk_idx"), col("c.chunk"), col("c.n_tokens"))
  }

  /** Paragraph-level exact dedup (the CCNet / Dolma step between whole-doc
    * dedup and span cutting): the corpus is cut into NON-overlapping token
    * blocks (the word-stream analogue of paragraphs — this corpus has no
    * newline structure), every block that exactly repeats an EARLIER block
    * anywhere in the corpus (order: doc id, then block index) is removed,
    * and documents are reassembled from their surviving blocks.
    *
    * Output: (id, n_blocks, n_kept, text_clean), one row per document —
    * docs whose every block was seen before come out with n_kept=0 and
    * empty text, ready for a downstream length filter.
    *
    * Scale shape: block fan-out is map-side ([[chunkWindows]] with stride =
    * size); the global "first occurrence" is ONE combine-enabled
    * `min(struct(id, idx))` aggregation on the block key — never a window
    * sort over the corpus — followed by a key-partitioned join and the
    * doc-keyed reassembly agg. With `hashKeys` (default) the shuffle key
    * is an 8-byte xxhash64 instead of the block string (~10× narrower,
    * same trade [[graft.dedup.Spans]] documents); string keys are for the
    * oracle gate, spec-pinned row-identical. */
  def blockDedup(docs: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, blockSize: Int,
                 hashKeys: Boolean = true): org.apache.spark.sql.DataFrame = {
    val key = if (hashKeys) xxhash64(col("chunk")) else col("chunk")
    val b = chunkWindows(docs, idCol, textCol, blockSize, blockSize)
      .select(col(idCol), col("chunk_idx"), col("chunk"), key.as("bkey"))
    val winners = b.groupBy(col("bkey"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("w"))
    b.join(winners, "bkey")
      .withColumn("kept",
        col(idCol) === col(s"w.$idCol") && col("chunk_idx") === col("w.chunk_idx"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk"))).as("text_clean"))
  }

  /** The persisted form of a finalized snapshot's paragraph-dedup state:
    * the DISTINCT block keys the snapshot contains — one narrow column,
    * written as parquet (partitioned by key range at scale) when the
    * snapshot closes. The [[blockDedup]] analogue of
    * [[graft.dedup.MinHash.snapshotIndex]]: later batches dedup against
    * the stored keys without re-reading the snapshot's text. */
  def blockIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, blockSize: Int,
                 hashKeys: Boolean = true): org.apache.spark.sql.DataFrame = {
    val key = if (hashKeys) xxhash64(col("chunk")) else col("chunk")
    chunkWindows(docs, idCol, textCol, blockSize, blockSize)
      .select(key.as("bkey")).distinct()
  }

  /** Incremental [[blockDedup]]: dedup an incoming batch against a prior
    * snapshot's [[blockIndex]] AND within itself — the daily-batch corpus
    * workflow (the d10 shape at paragraph granularity). A block is kept
    * iff it is the batch's own first occurrence and its key is absent
    * from the stored index; output shape matches [[blockDedup]], and
    * equals running it over (snapshot ∪ batch) restricted to the batch
    * when batch ids sort after snapshot ids (`BlockDedupSpec` pins the
    * equivalence and the parquet index round trip). */
  def blockDedupAgainst(newDocs: org.apache.spark.sql.DataFrame,
                        oldIndex: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String, blockSize: Int,
                        hashKeys: Boolean = true): org.apache.spark.sql.DataFrame = {
    val key = if (hashKeys) xxhash64(col("chunk")) else col("chunk")
    val b = chunkWindows(newDocs, idCol, textCol, blockSize, blockSize)
      .select(col(idCol), col("chunk_idx"), col("chunk"), key.as("bkey"))
    val winners = b.groupBy(col("bkey"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("w"))
    val seenOld = oldIndex.select(col("bkey")).distinct()
      .withColumn("seen_old", lit(true))
    b.join(winners, "bkey")
      .join(seenOld, Seq("bkey"), "left")
      .withColumn("kept",
        col(idCol) === col(s"w.$idCol") && col("chunk_idx") === col("w.chunk_idx")
          && col("seen_old").isNull)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk"))).as("text_clean"))
  }

  /** [[blockDedupAgainst]] with a BLOOM-prefiltered index probe — the
    * 100 TB configuration (Dolma runs its paragraph dedup exactly this
    * way, a bloom filter over seen-paragraph hashes): the stored index's
    * keys are folded into one mergeable bloom aggregate, delivered to the
    * probe as a broadcast SCALAR (evaluated once — the c5 lesson: sketch
    * state must never flow through per-row rows), and only
    * bloom-POSITIVE batch keys reach the exact confirm join against the
    * stored index. False positives are removed by the confirm, false
    * negatives don't exist, so the result is EXACTLY
    * [[blockDedupAgainst]] (hash keys) — c10 gates it against c9's own
    * oracle. At a realistic dup rate the confirm join's probe side is a
    * small fraction of the batch, so the index shuffle all but
    * disappears; the bloom itself is `numBits/8` bytes at any index
    * size. */
  def blockDedupAgainstBloom(newDocs: org.apache.spark.sql.DataFrame,
                             oldIndex: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String, blockSize: Int,
                             numBits: Int = 1 << 22,
                             numHashes: Int = 7): org.apache.spark.sql.DataFrame = {
    import graft.plans.BloomSketchAgg.{bloomContains, bloomState}
    val b = chunkWindows(newDocs, idCol, textCol, blockSize, blockSize)
      .select(col(idCol), col("chunk_idx"), col("chunk"),
        xxhash64(col("chunk")).as("bkey"))
    val winners = b.groupBy(col("bkey"))
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("w"))
    val oldKeys = oldIndex.select(col("bkey")).distinct()
    val filterRow = oldKeys.agg(bloomState(col("bkey"), numBits, numHashes).as("__bloom"))
    val stateScalar = graft.plans.Exprs.toColumn(
      org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
        filterRow.queryExecution.analyzed))
    val confirmed = b.select(col("bkey")).distinct()
      .filter(bloomContains(stateScalar, col("bkey")))
      .join(oldKeys, Seq("bkey"), "left_semi")
      .withColumn("seen_old", lit(true))
    b.join(winners, "bkey")
      .join(confirmed, Seq("bkey"), "left")
      .withColumn("kept",
        col(idCol) === col(s"w.$idCol") && col("chunk_idx") === col("w.chunk_idx")
          && col("seen_old").isNull)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("chunk_idx"), col("chunk"))))),
          s => s.getField("chunk"))).as("text_clean"))
  }

  /** Temperature-based corpus mixing (the mT5 / XLM-R "alpha sampling"
    * reweighting, Xue et al. 2021 §3.1): per-source sampling factors that
    * move the natural token distribution p_s toward the flattened target
    * q_s ∝ p_s^alpha, plus a deterministic per-document multiplicity
    * realizing the factor (floor + salted-hash Bernoulli on the fractional
    * part — no RNG state, reproducible across runs and engines).
    *
    * Scale shape: one map-side token count + a source-sized aggregation
    * (dozens of rows at any corpus size), factors broadcast back onto the
    * corpus for a map-side multiplicity stamp. The only double summation
    * crossing rows (Σ p^alpha over sources) folds over the SORTED source
    * weights, so the factor — and therefore every multiplicity — is
    * bit-reproducible on any topology or engine. */
  def mixtureWeights(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, sourceCol: String,
                     alpha: Double = 0.5): org.apache.spark.sql.DataFrame =
    mixtureWeightsFromCounts(docs.select(col(idCol), col(sourceCol),
      tokenCount(col(textCol)).as("n_tokens")), idCol, sourceCol, alpha)

  /** [[mixtureWeights]] from a precomputed per-doc frame
    * `(idCol, sourceCol, n_tokens)` — the shared-tokenize-pass entry
    * point (c7/c11 derive n_tokens as `size(toks)` from their one
    * persisted token frame; identical to `tokenCount(text)`). */
  def mixtureWeightsFromCounts(perDoc: org.apache.spark.sql.DataFrame,
                               idCol: String, sourceCol: String,
                               alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val perSrc = perDoc.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
    // sqrt for the default alpha: IEEE-exact on every engine, unlike pow
    def weight(x: org.apache.spark.sql.Column) =
      if (alpha == 0.5) sqrt(x) else pow(x, alpha)
    val totals = perSrc.agg(sum(col("src_tokens")).as("total_tokens"),
      // sorted fold => sum independent of partition merge order
      aggregate(sort_array(collect_list(
        weight(col("src_tokens").cast("double")))), lit(0.0), _ + _).as("wsum"))
    val p = col("src_tokens").cast("double") / col("total_tokens")
    val q = weight(col("src_tokens").cast("double")) / col("wsum")
    val factors = perSrc
      .crossJoin(org.apache.spark.sql.functions.broadcast(totals))
      .select(col(sourceCol), col("n_docs"), col("src_tokens"),
        round(p, 6).as("p_natural"), round(q, 6).as("q_target"),
        round(q / p, 6).as("factor"))
    // multiplicity: floor(factor) + 1 with probability frac(factor),
    // decided by a salted hash of the doc id in [0, 1e6)
    val frac = round((col("factor") - floor(col("factor"))) * 1000000, 0)
    val draw = pmod(graft.plans.Md5Long60Expr.md5Long60(concat(col(idCol).cast("string"),
      lit(":graft-mix-v1"))), lit(1000000))
    perDoc.join(org.apache.spark.sql.functions.broadcast(factors), sourceCol)
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("factor"),
        (floor(col("factor")).cast("long") +
          when(draw < frac, 1L).otherwise(0L)).as("multiplicity"))
  }

  /** Per-document unigram cross-entropy against a language model trained on
    * the corpus's own train split — the CCNet-style perplexity filter
    * (Wenzek et al. 2019) at unigram order: documents whose tokens are
    * improbable under the in-domain LM score high and get filtered or
    * down-sampled. Add-one smoothing over the train vocabulary; tokens
    * unseen in train share one OOV probability mass 1/(tot+V+1).
    *
    * Output per doc: n_tokens, n_oov (token OCCURRENCES unseen in train),
    * xent = -mean token log-probability (ppl = e^xent).
    *
    * Scale shape: one token explode feeding a (doc, token) combine-enabled
    * aggregation; the LM itself is the vocabulary-sized count frame — at
    * harness scale AQE broadcasts it into the scoring join, at corpus scale
    * it becomes an ordinary shuffle join on the token; the (tot, V) scalars
    * stay IN the plan as a 1-row broadcast. Nothing driver-side, nothing
    * quadratic, shuffles carry (doc, token, tf) — never text.
    *
    * Cross-engine determinism: the per-token log-prob is fixed as an
    * integer count of MICRO-NATS (round(ln·1e6) as BIGINT) BEFORE the
    * per-doc sum, so the aggregation is exact integer arithmetic —
    * independent of partial-agg order (topology) — and the final
    * integer→double division is bit-identical across engines (BIGINT→
    * DOUBLE is exact below 2^53 everywhere, unlike DECIMAL→DOUBLE, whose
    * two-step int128/10^scale conversion rounds differently in DuckDB
    * than BigDecimal.doubleValue does in Spark — observed as 6th-decimal
    * flips at sf1). */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     trainBucketBelow: Int = 80): org.apache.spark.sql.DataFrame =
    unigramLogProbCore(docs.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("token")),
      idCol, trainBucketBelow)

  /** [[unigramLogProb]] from an already-tokenized array column — the
    * shared-tokenize-pass entry point. Lowercasing per token here equals
    * `tokens(lower(text))`: no uppercase character lowercases to (or
    * consumes) whitespace, so the split is unaffected by case order. */
  def unigramLogProbFromTokens(toksDf: org.apache.spark.sql.DataFrame,
                               idCol: String, toksCol: String,
                               trainBucketBelow: Int = 80): org.apache.spark.sql.DataFrame =
    unigramLogProbCore(toksDf.select(col(idCol),
        explode(transform(col(toksCol), t => lower(t))).as("token")),
      idCol, trainBucketBelow)

  private def unigramLogProbCore(tokRows: org.apache.spark.sql.DataFrame,
                                 idCol: String,
                                 trainBucketBelow: Int): org.apache.spark.sql.DataFrame = {
    // NOT persisted although tf fans into three lineages (LM, totals,
    // scoring join): all three consumers live in ONE plan, where AQE's
    // runtime exchange reuse already serves the tf aggregation's shuffle
    // output to every branch — the round-14 persist paid the cache
    // write/read on top of that and measured as a REAL regression
    // (matched-calibration A/B, round 15: t18 1.06 s unpersisted vs
    // 1.37 s persisted at sf0.1; the r14 driver bench saw the same
    // 1.02 → 1.35). Cross-ACTION sharing is a different story — callers
    // that materialize twice should persist at their own level.
    val tf = tokRows
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    // the LM: token counts over the train split of the SAME t7 hash split
    // the rest of the pipeline uses (splitBucket is the shared definition)
    val vocab = tf.filter(splitBucket(col(idCol)) < trainBucketBelow)
      .groupBy(col("token")).agg(sum(col("tf")).as("cnt"))
    val totals = vocab.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("v"))
    val logp = round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
      (col("tot") + col("v") + 1).cast("double")) * 1000000, 0).cast("long")
    // the 6-dp rounding happens in INTEGER micro-nats — q = ⌈S/N⌋ via
    // (2S+N) div (2N) — because a float ROUND of S/(N·10^6) hits exact
    // decimal midpoints whenever N divides a power of 10: Spark rounds
    // the shortest decimal repr (half-up) while DuckDB rounds the binary
    // double (just below the midpoint), flipping the 6th decimal. The
    // final q/10^6 division of identical integers is engine-exact.
    tf.join(vocab, Seq("token"), "left")
      .crossJoin(org.apache.spark.sql.functions.broadcast(totals))
      .withColumn("logp_micro", logp)
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("cnt").isNull, col("tf")).otherwise(lit(0L))).as("n_oov"),
        (-sum(col("logp_micro") * col("tf"))).as("s_micro"))
      .withColumn("xent",
        expr("CAST((2 * s_micro + n_tokens) DIV (2 * n_tokens) AS DOUBLE) / 1000000"))
      .drop("s_micro")
  }
}
