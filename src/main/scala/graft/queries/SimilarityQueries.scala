package graft.queries

import graft.Tables
import graft.ops.ParquetOpen
import graft.similarity.Cosine
import org.apache.spark.sql.functions._

/** Embedding similarity search over `embeddings` (64-dim float vectors):
  * brute-force cosine top-k baseline and the IVF-style cell-pruned
  * near-dup pair scan. Dot products fold left-to-right in double on both
  * engines; displayed sims rounded to 6 decimals. */
object SimilarityQueries extends QueryPack {

  val queries: Map[String, Q] = Map(
    // ---- X1: brute-force cosine top-k (query side broadcast)
    "x1_cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.topK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X2: IVF-style near-dup pairs within coarse cells (label = cell id)
    "x2_cosine_cell_pairs" -> ((s, dir) => {
      Cosine.cellPairs(Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          threshold = 0.4)
        .orderBy(col("label"), col("id_a"), col("id_b"))
    }),

    // ---- X3: SRP-LSH near-dup pairs (general scale path, no cell column)
    "x3_cosine_srp_pairs" -> ((s, dir) => {
      Cosine.srpPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.3, nPlanes = 4, dim = 64)
        .orderBy(col("bucket"), col("id_a"), col("id_b"))
    }),

    // ---- X5: IVF training — per-cell elementwise centroids. The gate
    //      runs the sorted-fold variant (bit-reproducible by the oracle);
    //      the library default is plain avg (bounded state — see
    //      Cosine.cellCentroids; plan shape pinned in PlanShapeSpec).
    "x5_cell_centroids" -> ((s, dir) => {
      Cosine.cellCentroidsSorted(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy(col("label"), col("dim"))
    }),

    // ---- X6: IVF assignment — nearest centroid per vector (map-side
    //      over a broadcast k×dim centroid table; k-means iteration shape)
    "x6_centroid_assign" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
      Cosine.assignToCentroids(emb, "vec_id", "embedding", cents, "label")
        .orderBy(col("vec_id"))
    }),

    // ---- X4: IVF-style ANN top-k search — queries probe only their own
    //      coarse cell; candidate work scales with cell size, not corpus
    "x4_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.ivfTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
          "label", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- D8: embedding-cosine near-dup DEDUP decision — the semantic
    //      twin of d6 with cosine-over-embeddings as the pair detector:
    //      cell-bucketed candidate pairs (never all-pairs) → connected
    //      components → one representative kept per cluster. At 100 TB
    //      the pair stage swaps cells for SRP buckets (x3) with identical
    //      downstream shape.
    "d8_embedding_dups" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Cosine.cellPairs(emb, "vec_id", "embedding", "label",
        threshold = 0.4)
      graft.dedup.Clusters.dedupPlan(emb.select(col("vec_id")), "vec_id", pairs)
        .orderBy(col("vec_id"))
    }),

    // ---- X7: SemDeDup — d8's clustering with the paper's keep rule
    //      (member LEAST similar to its cell centroid survives). The gate
    //      runs the sorted-fold centroid path for bit-reproducibility;
    //      the library default is the bounded-state plain avg.
    "x7_semdedup" -> ((s, dir) => {
      Cosine.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding", "label",
          threshold = 0.4, centroidFn = Cosine.cellCentroidsSorted)
        .orderBy(col("vec_id"))
    }),

    // ---- X8: SemDeDup over SRP buckets — the 100 TB pair-stage swap
    //      (x3's bucketing feeding x7's CC + keep rule) as a gated
    //      configuration. Centroid similarity still scores against the
    //      label-cell centroid; only candidate generation changes. The
    //      plane count is DERIVED from the corpus size (a fixed count is
    //      the occupancy blowup SCALE.md measured: within-bucket pairs
    //      grow quadratically with occupancy) with multi-table
    //      OR-amplification holding recall; the derived config is stashed
    //      so the oracle replays the exact same tables. The sizing count
    //      runs on the PERSISTED projection, so config derivation shares
    //      the single corpus scan with the pair/centroid stages instead
    //      of paying a second 100 TB pass for one scalar (r8 wrong #2;
    //      PlanShapeSpec pins the cached-scan shape).
    "x8_semdedup_srp" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nPlanes = Cosine.autoPlanes(emb.count())
      val nTables = Cosine.autoTables(nPlanes)
      lastX8Config = (nPlanes, nTables)
      Cosine.semDedupFromPairs(emb, "vec_id", "embedding", "label",
          Cosine.srpPairsMulti(emb, "vec_id", "embedding", threshold = 0.4,
            nPlanes = nPlanes, dim = 64, nTables = nTables),
          centroidFn = Cosine.cellCentroidsSorted)
        .orderBy(col("vec_id"))
    }),

    // ---- X11: per-dimension embedding data card (drift check before
    //      indexing). The gate runs the sorted-fold path; plain
    //      avg/stddev_pop is the bounded-state library default.
    "x11_embedding_stats" -> ((s, dir) => {
      Cosine.dimStats(Tables.embeddings(s, dir), "embedding", sorted = true)
        .orderBy(col("dim"))
    }),

    // ---- X14: IVFADC — the composed production ANN shape: IVF cell
    //      pruning bounds WHICH vectors are scored, PQ reconstruction
    //      bounds WHAT is read per candidate. Gate runs the sorted-fold
    //      codebook, as with x10.
    "x14_ivfadc_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.ivfAdcTopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", "label", k = 5, centroidFn = Cosine.cellCentroidsSorted)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X15: multiprobe IVF — the standard IVF recall knob: each query
    //      probes its 3 nearest cells by centroid distance instead of only
    //      its own. Gate runs the sorted-fold centroid path (as x5/x6) so
    //      the probe ranking is bit-reproducible by the oracle.
    "x15_ivf_multiprobe" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.ivfTopKMultiprobe(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", "label", k = 5, nProbe = 3,
          centroidFn = Cosine.cellCentroidsSorted)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X18: INCREMENTAL IVF maintenance — the daily-batch serving
    //      workflow for the dense index (r4's lexical twin): centroids
    //      train on the t7 <80 snapshot ONLY, the ≥80 batch is appended
    //      by a map-side assignment against those STORED centroids
    //      (`ivfAppendCells` — no retraining, no old-corpus re-read),
    //      and queries search the explicit appended index
    //      (`ivfSearchIndex`, nProbe=2). Assignment is per-row, so
    //      assign(old) ∪ assign(batch) ≡ assign(all) under the same
    //      centroids — the oracle replays exactly that one-pass form.
    //      Non-vacuous at sf0.01: 7 of the 50 result rows are
    //      appended-batch vectors, so a broken append drops neighbors.
    "x18_ivf_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bucket = graft.text.TextAnalysis.splitBucket(col("vec_id"))
      val old = emb.filter(bucket < 80)
      val cents = Cosine.cellCentroidsSorted(old, "label", "embedding")
      val stored = Cosine.assignToCentroids(old, "vec_id", "embedding",
          cents, "label")
        .select(col("vec_id"), col("assigned_cell").as("label"))
      val cells = Cosine.ivfAppendCells(emb.filter(bucket >= 80), "vec_id",
        "embedding", cents, stored, "label")
      Cosine.ivfSearchIndex(emb.filter(col("vec_id") < 10),
          emb.select(col("vec_id"), col("embedding")), cells, cents,
          "vec_id", "embedding", "label", k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X22: the PERSISTED IVF serving path — x15's exact semantics
    //      (sorted-fold centroids, nProbe=3, k=5) probed through the
    //      stored per-cell layout: `writeIvfIndex` lays the posting
    //      lists out partitioned BY CELL (the textbook IVF list layout
    //      as a parquet partition tree) and `ivfSearchStored` turns the
    //      probed cells into LITERAL partition filters, so the scan
    //      lists only the probed directories (IvfStoredSpec pins the
    //      runtime partition metrics). Oracle = x15's replay verbatim:
    //      a green row proves the pruned serving path introduced and
    //      lost nothing vs the in-plan index.
    "x22_ivf_stored" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.ivfSearchStored(s,
          emb.filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")),
          GateArtifacts.ivfIndexDir(s, dir), "vec_id", "embedding", "label",
          k = 5, nProbe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X25: the PERSISTED SQ8 serving path — x19's exact semantics
    //      through the stored artifact: stats pinned with a content-
    //      fingerprint sidecar (codes quantized under the DISK stats, so
    //      the two stores cannot commit from different releases), plain
    //      code store for the compressed stage-1 scan, raw vectors
    //      partitioned by pbucket so the exact rerank prunes by literal
    //      filters (Sq8PrefixSpec pins runtime partition metrics +
    //      torn-stats loudness). Oracle = x19's replay verbatim.
    "x25_sq8_stored" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.sq8TopKStored(s, emb.filter(col("vec_id") < 10),
          GateArtifacts.sq8IndexDir(s, dir), "vec_id", "embedding",
          k = 5, kShort = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X26: the PERSISTED PQ/IVFADC serving path — x14's exact
    //      semantics (sorted-fold codebook, own-cell probe, k=5) through
    //      the stored tier: `writePqIndex` lays the 4 B/vector codes out
    //      partitioned BY CELL and `ivfAdcSearchStored` turns the probe
    //      queries' cells into LITERAL pcell filters, so stage 1 reads
    //      only the probed cells' CODES (both ANN prunings compose:
    //      fewer rows AND 4 B/dim per row); reconstruction joins the
    //      broadcast STORED codebook (content-fingerprint sidecar —
    //      PqStoredSpec pins runtime partition metrics + torn loudness).
    //      Oracle = x14's replay verbatim: a green row proves the last
    //      approximate family without a stored artifact now serves
    //      pruned with nothing introduced or lost vs the in-plan form.
    "x26_pq_stored" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.ivfAdcSearchStored(s, emb.filter(col("vec_id") < 10),
          GateArtifacts.pqIndexDir(s, dir), "vec_id", "embedding", "label",
          k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X28: MULTIPROBE IVFADC over the persisted tier — the full
    //      production ANN composition in one stored call: probe
    //      selection against the STORED coarse centroids (each query
    //      ranks cells by centroid distance, keeps 2 — the x15 recipe),
    //      probed cells → LITERAL pcell filters on the 4 B/vector code
    //      store, ADC scoring via the broadcast stored codebook. This is
    //      what x26 (own-cell probe) composes toward; the oracle replays
    //      probe ranking + reconstruction end-to-end.
    "x28_ivfadc_probed" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.ivfAdcMultiprobeStored(s,
          emb.filter(col("vec_id") < 10)
            .select(col("vec_id"), col("embedding")),
          GateArtifacts.pqIndexDir(s, dir), "vec_id", "embedding", "label",
          k = 5, nProbe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X28B: the recall-vs-nProbe CURVE of the stored multiprobe
    //      composition — the acceptance matrix's missing row (x12's IVF
    //      1.0 prices the exact-rerank path, x27's quantization-only
    //      recall the full-scan path; neither prices the PROBE knob a
    //      production IVFADC pipeline actually tunes). Per nProbe ∈
    //      {1, 2, 4}: the same ivfAdcMultiprobeStored call x28 gates,
    //      top-5 against brute-force truth through the shared x12
    //      metric tail. Expect monotone nondecreasing recall in nProbe,
    //      capped by x27's quantization ceiling (SCALE.md publishes the
    //      curve).
    "x28b_ivfadc_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      // NOT persisted although it fans into three branches: AQE's
      // exchange reuse already shares the truth subtree across the
      // union (measured round 15: persisting it ADDED 8 jobs and ~2 s
      // of task time for flat wall)
      val exact = Cosine.topK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val pdir = GateArtifacts.pqIndexDir(s, dir)
      // the three probe widths are INDEPENDENT stored searches whose
      // frame construction each materializes a probe frame (a collect
      // job) — overlapped, the harness pays ~one probe latency instead
      // of three (guide §2.6; the calls themselves are unchanged — the
      // curve still prices the real ivfAdcMultiprobeStored per width)
      graft.ops.Overlap.map(X28bProbes) { np =>
        val approx = Cosine.ivfAdcMultiprobeStored(s, queries, pdir,
            "vec_id", "embedding", "label", k = 5, nProbe = np)
          .select(col("query_id"), col("neighbor_id"))
        recallOf(exact, approx).withColumn("n_probe", lit(np))
      }.reduce(_ unionByName _)
        .select(col("n_probe"), col("query_id"), col("n_overlap"),
          col("n_exact"), col("recall"))
        .orderBy(col("n_probe"), col("query_id"))
    }),

    // ---- X28C: the same recall-vs-nProbe curve over the RESIDUAL
    //      IVFADC tier — Jégou's actual composition: coarse cells
    //      TRAINED by k-means instead of taken from the data-free label
    //      column (x28b measured that label cells buy recall only
    //      ~linearly in cells probed — no neighborhood structure), and
    //      the product quantizer coding x − q₁(x) so its codewords
    //      describe within-cell spread, not cell geometry. Same probe
    //      widths, same truth, same metric tail as x28b — the two
    //      curves differ ONLY in the index construction, so their gap
    //      is the measured value of training the coarse quantizer +
    //      residual encoding at identical bytes/vector. Stored coarse
    //      centroids and the trained residual book are stashed for the
    //      oracle (the x27b pattern).
    "x28c_residual_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      // not persisted — AQE exchange reuse shares it (see x28b)
      val exact = Cosine.topK(emb.filter(col("vec_id") < 10), emb,
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val rdir = GateArtifacts.residualPqIndexDir(s, dir)
      stashResidualArtifacts(s, rdir)
      // same §2.6 overlap as x28b: three independent stored searches
      graft.ops.Overlap.map(X28bProbes) { np =>
        val approx = Cosine.ivfAdcMultiprobeStored(s, queries, rdir,
            "vec_id", "embedding", "cell", k = 5, nProbe = np)
          .select(col("query_id"), col("neighbor_id"))
        recallOf(exact, approx).withColumn("n_probe", lit(np))
      }.reduce(_ unionByName _)
        .select(col("n_probe"), col("query_id"), col("n_overlap"),
          col("n_exact"), col("recall"))
        .orderBy(col("n_probe"), col("query_id"))
    }),

    // ---- X29: the BINARY-QUANTIZED tier (1 bit/dim — the cheapest end
    //      of the quantization ladder: SQ8 1 B/dim recall 1.0, PQ 4 bit
    //      per 8-dim subspace 0.42–0.64; BQ serves a 64-dim vector from
    //      EIGHT bytes): stored two-stage search — Hamming-ranked sign
    //      words shortlist kShort=20, exact cosine rerank (the x19/x25
    //      chain at word granularity). Parameter-free quantizer, so the
    //      oracle replays the whole chain with no stashed artifact.
    "x29_bq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      val bdir = GateArtifacts.bqIndexDir(s, dir)
      Cosine.bqTopKStored(s, queries, bdir, "vec_id", "embedding",
          k = 5, kShort = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X29B: the BQ row of the ANN acceptance matrix — recall@5 of
    //      the stored two-stage BQ search vs brute-force truth (the
    //      x23/x24/x27 shared metric chain), pricing 1 bit/dim.
    "x29b_bq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val bdir = GateArtifacts.bqIndexDir(s, dir)
      val approx = Cosine.bqTopKStored(s, queries, bdir,
          "vec_id", "embedding", k = 5, kShort = 20)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),

    // ---- X27C: the QUANTIZATION-ceiling row of the residual tier —
    //      x27's full-scan two-stage chain (no probe truncation) over
    //      the residual construction. Measured at sf0.01: recall@5
    //      0.42 (hash, x27) → 0.50 (trained, x27b) → 0.64 (residual) —
    //      the coarse centroids carry ~0.33 of the unit norm even on
    //      this isotropic corpus, so the codewords describe a genuinely
    //      smaller spread (decomposed in SCALE.md).
    "x27c_residual_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val rdir = GateArtifacts.residualPqIndexDir(s, dir)
      stashResidualArtifacts(s, rdir)
      val approx = Cosine.pqTopKStored(s, queries, rdir,
          "vec_id", "embedding", k = 5, kShort = 20)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),

    // ---- X27: the PQ row of the ANN acceptance matrix (x12 = IVF,
    //      x23 = SQ8, x24 = prefix): recall@5 of the stored two-stage
    //      PQ search — ADC over EVERY stored code (the compressed-tier
    //      contract; recall bounded by quantization alone, not probe
    //      choice), exact rerank pruned by pbucket + In(id) — against
    //      brute-force truth. The check a pipeline runs before trusting
    //      the 4 B/dim tier; same shared metric tail as x12/x23/x24.
    "x27_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Cosine.pqTopKStored(s, queries,
          GateArtifacts.pqIndexDir(s, dir), "vec_id", "embedding",
          k = 5, kShort = 20)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),

    // ---- X27B: the TRAINED-PQ row of the acceptance matrix — x27's
    //      exact chain (stored two-stage: full-code ADC shortlist 20,
    //      exact rerank, recall@5 vs brute-force truth) over an artifact
    //      whose codebooks are per-subspace k-means
    //      (Cosine.trainPqCodebook: 4 Lloyd rounds from the
    //      deterministic SRP init) instead of hyperplane sign buckets.
    //      Same 4 B/vector; only the codebook content and the code
    //      assignment change. Trained codewords cut quantization MSE 24%
    //      on this corpus (0.71 → 0.56 per unit vector) and lift
    //      recall@5 0.42 → 0.50 at sf0.01 — bounded gains, measured
    //      honestly: the synthetic corpus is isotropic unit-norm, so
    //      neighbor gaps sit inside the quantization noise either way
    //      (SCALE.md publishes the curve; real anisotropic embeddings
    //      are where Jégou's trained ≫ hash gap opens). The trained
    //      book is STASHED for the oracle (the x24b rotation pattern),
    //      which replays assignment as literal per-codeword distance
    //      folds.
    "x27b_trained_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val tdir = GateArtifacts.trainedPqIndexDir(s, dir)
      // memoized on the immutable artifact dir (the residual-stash rule)
      if (stashedTrainedPqDir != tdir) {
        lastTrainedPqBook = readCellVecs(s, s"$tdir/codebook")
        stashedTrainedPqDir = tdir
      }
      val approx = Cosine.pqTopKStored(s, queries, tdir,
          "vec_id", "embedding", k = 5, kShort = 20)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),

    // ---- C12: SEMANTIC decontamination — the embedding-space member of
    //      the decontamination family (c3/c5 are lexical 8-gram overlap,
    //      t25 is novelty ppm): a train doc whose embedding is too close
    //      to ANY eval-split vector is paraphrase-level contamination
    //      that n-gram overlap structurally misses. BOUNDED plan (the r10
    //      verdict's wrong #1 — no train×eval cartesian, plan-pinned):
    //      both sides banded by multi-table SRP, exact cosine on
    //      colliding candidates only, per-train max left-joined back
    //      (no collision ⇒ NULL ⇒ kept). Plane count derives from the
    //      EVAL count (autoPlanes holds eval-bucket occupancy ~constant,
    //      so per-train candidate work is O(nTables·probes·target), not
    //      O(|eval|)), and the train side MULTIPROBES at Hamming radius
    //      1 (Cosine.probeMasks) — the occupancy-derived plane count
    //      alone collapses recall at scale (Cosine.srpRecall: 34% at
    //      sim 0.9 under 15 planes/4 tables), radius 1 buys it back
    //      (81% there; the spec pins an empirical floor). Config is
    //      stashed so the oracle replays the exact same tables AND
    //      probes — max-of-rounded = rounded-max over the SAME
    //      candidate set, so the gate stays engine-exact. Threshold 0.34
    //      sits between the sf corpus's p90 0.338 and p99 0.403, so both
    //      keep outcomes are populated. The sizing count runs on the
    //      persisted projection (one corpus scan feeds sizing + bands +
    //      the candidate cosine pass).
    "c12_semantic_decontaminate" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bucket = graft.text.TextAnalysis.splitBucket(col("vec_id"))
      val test = emb.filter(bucket >= 90)
      val train = emb.filter(bucket < 90)
      val nPlanes = Cosine.autoPlanes(test.count(), targetOccupancy = 32)
      val nTables = Cosine.autoTables(nPlanes)
      // radius DERIVED from a recall target, like planes from occupancy:
      // 90% analytic recall for the sim-0.9 paraphrase class — a 1M-eval
      // config (more planes) probes wider automatically instead of
      // silently sitting at radius 1's recall
      val radius = Cosine.radiusFor(0.9, sim = 0.9, nPlanes, nTables)
      lastC12Config = (nPlanes, nTables, radius)
      Cosine.semanticDecontaminate(train, test, "vec_id", "embedding",
          threshold = 0.34, nPlanes = nPlanes, dim = 64, nTables = nTables,
          probeRadius = radius)
        .orderBy(col("vec_id"))
    }),

    // ---- X13: iterative Lloyd k-means — the full trainer whose single
    //      step x5/x6 expose: 2 rounds of (centroids → reassign) from the
    //      label initialization. Gate runs the sorted-fold centroid path.
    "x13_kmeans_2iter" -> ((s, dir) => {
      Cosine.lloydIterations(Tables.embeddings(s, dir), "vec_id", "embedding",
          "label", iters = 2, centroidFn = Cosine.cellCentroidsSorted)
        .orderBy(col("vec_id"))
    }),

    // ---- C14: cluster-balanced curation sample — the diversity-
    //      preserving subsample step of embedding-space curation (the
    //      selection side of SemDeDup-style cluster pruning): one
    //      assignment pass against the sorted-fold centroids (x6's
    //      gate shape), then a deterministic uniform quota of 3 per
    //      cluster (salted-md5 draw, ties → id), with the pre-sample
    //      cluster size as the data-card column. A uniform sample
    //      over-represents dense regions exactly in proportion to
    //      their duplication; the per-cluster quota does not.
    "c14_cluster_balanced" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.clusterBalancedSample(emb, "vec_id", "embedding",
          Cosine.cellCentroidsSorted(emb, "label", "embedding"), "label", m = 3)
        .orderBy(col("assigned_cell"), col("vec_id"))
    }),

    // ---- X12: ANN recall evaluation — IVF top-k (x4) measured against
    //      brute-force truth (x1) per query: the acceptance check a
    //      pipeline runs before trusting an index. Both sides are the
    //      already-gated operators; the metric is one join + count.
    "x12_ann_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Cosine.ivfTopK(queries, emb, "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),

    // ---- X23/X24: the x12 acceptance metric for the OTHER two ANN
    //      families — recall@5 of the SQ8 quantized two-stage search
    //      (x19) and the Matryoshka prefix two-stage search (x20)
    //      against brute-force truth (x1): the check a pipeline runs
    //      before trusting a compressed index tier. Same shared metric
    //      tail as x12. Measured at sf0.01: SQ8 = 1.0 (8-bit ranges
    //      lose nothing at this scale); prefix-16 = 0.38 — the harness
    //      embeddings are synthetic, NOT MRL-trained, so the prefix
    //      carries no concentrated signal. That low number is the
    //      gate's point: it is precisely the acceptance check that
    //      tells a pipeline its embeddings need MRL training (or a
    //      longer prefix) before the Matryoshka tier can serve.
    "x23_sq8_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Cosine.sq8TopK(queries, emb, "vec_id", "embedding",
          dim = 64, k = 5, kShort = 20)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),
    "x24_prefix_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Cosine.prefixTopK(queries, emb, "vec_id", "embedding",
          p = 16, k = 5, kShort = 20)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),

    // ---- X24b: the FIX for x24's published 0.38 — the same prefix-16
    //      acceptance check through the ROTATED stored artifact
    //      (writeRotatedPrefixIndex: stage 1 in the second-moment
    //      eigenbasis — a pure rotation, so full-dim sims / rerank /
    //      truth are untouched; only the prefix approximation improves:
    //      0.38 → 0.52 at sf0.01, spec-pinned). The trained rotation is
    //      STASHED for the oracle (the x8/c12 derived-config pattern),
    //      which replays stage 1 as p literal dot products.
    "x24b_prefix_rotated_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val rdir = GateArtifacts.rotatedPrefixDir(s, dir)
      // memoized on the immutable artifact dir (the residual-stash rule)
      if (stashedRotationDir != rdir) {
        lastPrefixRotation = Cosine.readRotation(s, rdir)
        stashedRotationDir = rdir
      }
      val approx = Cosine.prefixTopKStored(s, queries, rdir,
          "vec_id", "embedding", k = 5, kShort = 20)
        .select(col("query_id"), col("neighbor_id"))
      recallOf(exact, approx)
    }),

    // ---- R5: graded nDCG@5 of the IVF index against brute-force truth
    //      — completes the retrieval-eval family (x12 = set recall,
    //      r3 = fusion survival + MRR, r5 = rank-quality with graded
    //      relevance, the standard IR acceptance metric). Relevance is
    //      derived from the exact ranking itself (rel = 6 − exact rank,
    //      0 outside the exact top-5), so no labels are needed and the
    //      metric is self-contained. Engine-exact via the t18 recipe:
    //      each rank term rel·ln2/ln(rank+1) is one chain of scalar
    //      double ops fixed to integer MICRO units before the per-query
    //      sum; ndcg is integer ppm. Metric layer = two |queries|·k
    //      joins — nothing corpus-sized beyond the already-gated x1/x4
    //      ranking stages.
    "r5_ndcg" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("erank"))
      val approx = Cosine.ivfTopK(queries, emb, "vec_id", "embedding", "label",
          k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("arank"))
      def term(rel: org.apache.spark.sql.Column, rank: org.apache.spark.sql.Column) =
        round(rel.cast("double") * log(lit(2.0)) / log(rank.cast("double") + 1.0)
          * 1000000, 0).cast("long")
      val dcg = approx.join(exact, Seq("query_id", "neighbor_id"), "left")
        .select(col("query_id"),
          when(col("erank").isNotNull, term(lit(6) - col("erank"), col("arank")))
            .otherwise(lit(0L)).as("g"))
        .groupBy(col("query_id")).agg(sum(col("g")).as("dcg_micro"))
      val idcg = exact
        .select(col("query_id"), term(lit(6) - col("erank"), col("erank")).as("g"))
        .groupBy(col("query_id")).agg(sum(col("g")).as("idcg_micro"))
      idcg.join(dcg, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
          col("idcg_micro"),
          expr("coalesce(dcg_micro, 0) * 1000000 div idcg_micro").as("ndcg_ppm"))
        .orderBy(col("query_id"))
    }),

    // ---- R6: MMR diversified re-ranking (Carbonell & Goldstein 1998)
    //      — the serving-side step between retrieval recall and
    //      generation: the exact top-10 per query is re-ranked so each
    //      pick trades relevance against similarity to what's already
    //      selected (λ=0.7). Integer-exact by construction: sims fix to
    //      micro units, the score is the integer 7·qsim − 3·maxpair,
    //      and every argmax is an integer comparison with an id tie —
    //      the oracle unrolls the same 5 selection steps.
    "r6_mmr_rerank" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          Cosine.toDouble(col("embedding")).as("qv"))
        .withColumn("qn", Cosine.normSq(col("qv")))
      val c = emb.select(col("vec_id").as("doc_id"),
          Cosine.toDouble(col("embedding")).as("cv"))
        .withColumn("cn", Cosine.normSq(col("cv")))
      val sims = c.join(broadcast(q), col("query_id") =!= col("doc_id"))
        .withColumn("sim",
          Cosine.cosine(col("qv"), col("cv"), col("qn"), col("cn")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("sim").desc, col("doc_id").asc)
      val cand = sims.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("doc_id"),
          round(col("sim") * 1000000, 0).cast("long").as("qsim_micro"),
          col("cv").as("v"))
      graft.retrieval.Mmr.rerank(cand, k = 5, lambdaTenths = 7)
        .orderBy(col("query_id"), col("mmr_rank"))
    }),

    // ---- X9: product-quantization codes — 8 subspaces × 4 sign bits,
    //      map-side, 256 B float vector → 4 B of codes (serialized csv
    //      for the cross-engine comparator)
    "x9_pq_codes" -> ((s, dir) => {
      Cosine.pqCodes(Tables.embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"))
        .orderBy(col("vec_id"))
    }),

    // ---- X10: PQ asymmetric-distance top-k — exact queries scored
    //      against codebook reconstructions (the memory side of ANN:
    //      codes + one broadcast codebook instead of raw floats). The
    //      gate runs the sorted-fold codebook; plain-avg is the library
    //      default, as with x5/x7.
    "x10_pq_adc_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.pqAdcTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
          k = 5, centroidFn = Cosine.cellCentroidsSorted)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X19: SQ8 scalar-quantized two-stage top-k — stage 1 ranks
    //      exact queries against reconstructions decoded from PACKED
    //      byte codes (8 codes/long: dim BYTES per vector, a 4× scan cut
    //      vs raw float32), stage 2 re-ranks the 20-shortlist by exact
    //      cosine over raw vectors (|q|·20 rows, shortlist broadcast)
    "x19_sq8_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.sq8TopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", dim = 64, k = 5, kShort = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X21: SQ8 index APPEND under pinned stats — range trained on
    //      80% of the corpus, the other 20% appended as a later batch
    //      quantized under the STORED stats (values past the trained
    //      range SATURATE — the clamp is live here, not decorative);
    //      quantized-only serving search over the unioned code frame
    "x21_sq8_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 5 =!= 4)
      val batch = emb.filter(col("vec_id") % 5 === 4)
      val stats = Cosine.sq8Stats(base, "embedding")
      val codes = Cosine.sq8PackedCodes(base, stats, "vec_id", "embedding", 64)
      val appended = Cosine.sq8Append(batch, codes, stats, "vec_id", "embedding", 64)
      Cosine.sq8SearchCodes(emb.filter(col("vec_id") < 10), appended, stats,
          "vec_id", "embedding", 64, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X20: Matryoshka prefix two-stage top-k — stage 1 cosine over
    //      the first 16 of 64 dims (the stored layout reads ONLY the
    //      prefix column for this stage — PlanShapeSpec), stage 2 exact
    //      re-rank of the 20-shortlist
    "x20_prefix_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Cosine.prefixTopK(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", p = 16, k = 5, kShort = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- X17: per-dim whitening — the normalization run before PQ/IVF
    //      training so no dimension dominates the codebook. Stats side is
    //      ONE row of dim-sized arrays broadcast map-side; gate runs the
    //      sorted-fold path so μ/σ (and hence every z) are bit-exact.
    "x17_whiten" -> ((s, dir) => {
      Cosine.whiten(Tables.embeddings(s, dir), "vec_id", "embedding",
          sorted = true)
        .select(col("vec_id"), posexplode(col("white")).as(Seq("pos", "zv")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          round(col("zv"), 6).as("z"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // ---- R3: fusion evaluation — r2's fused list measured against each
    //      source system (the x12/d12 acceptance pattern applied to the
    //      hybrid): per query, how many of the dense and lexical top-5
    //      survive into the fused top-10, and the reciprocal rank of the
    //      dense top-1 in the fused list (floor'd integer nanos). The
    //      dedicated cross-modal check a pipeline runs before shipping a
    //      fusion config: if either count collapses to 0, the k0/topK
    //      knobs are drowning one modality. Metric layer = three small
    //      joins over |queries|·k rows — nothing corpus-sized.
    "r3_fusion_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      // both ranked lists feed THREE consumers (fusion, survival count,
      // MRR) — persist the |queries|·k-row tops so the BM25/cosine
      // chains run once, not three times
      // the lexical side reads the shared stored index (bm25IndexDir —
      // round-trip spec-pinned), so the fusion family no longer pays a
      // corpus tokenize per gate
      val lex = graft.text.Bm25.searchIndex(docs.filter(col("doc_id") < 10),
          graft.text.Bm25.readIndex(s, GateArtifacts.bm25IndexDir(s, dir)),
          "doc_id", "text", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dense = Cosine.topK(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fused = graft.retrieval.Fusion.rrf(Seq(lex, dense), "query_id",
          "doc_id", "rank", k0 = 60, perSystemK = 20, topK = 10)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def kept(sys: org.apache.spark.sql.DataFrame, out: String) = sys
        .filter(col("rank") <= 5)
        .join(fused.select(col("query_id"), col("doc_id")),
          Seq("query_id", "doc_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as(out))
      val mrr = dense.filter(col("rank") === 1)
        .join(fused.select(col("query_id"), col("doc_id"),
          col("rank").as("frank")), Seq("query_id", "doc_id"), "left")
        .select(col("query_id"),
          coalesce(floor(lit(1000000000.0) / col("frank")), lit(0L)).as("mrr_nano"))
      dense.select(col("query_id")).distinct()
        .join(kept(dense, "n_dense_kept"), Seq("query_id"), "left")
        .join(kept(lex, "n_lex_kept"), Seq("query_id"), "left")
        .join(mrr, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n_dense_kept"), lit(0L)).as("n_dense_kept"),
          coalesce(col("n_lex_kept"), lit(0L)).as("n_lex_kept"),
          col("mrr_nano"))
        .orderBy(col("query_id"))
    }),

    // ---- X16: Johnson-Lindenstrauss random projection — 64→16 dims on
    //      the deterministic hyperplane table (4× fewer bytes before
    //      indexing; SRP/x3 is the 1-bit extreme, PQ/x9 the codebook
    //      one). Map-side only: planes are plan literals, each value one
    //      sequential double fold the oracle replays exactly.
    "x16_random_projection" -> ((s, dir) => {
      Cosine.randomProject(Tables.embeddings(s, dir), "vec_id", "embedding",
          outDim = 16, dim = 64)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "p")))
        .select(col("vec_id"), col("dim"), round(col("p"), 6).as("proj"))
        .orderBy(col("vec_id"), col("dim"))
    }),

    // ---- R2: hybrid retrieval — RRF fusion (Cormack et al. 2009) of the
    //      SPARSE BM25 list (r1, over `documents`) and the DENSE cosine
    //      list (x1, over `embeddings`, same ids = two modalities of one
    //      corpus): the production RAG recall stage. Rank-only fusion
    //      needs no cross-system score normalization; contributions are
    //      floor'd integer nanos, so the fused order is engine-exact.
    "r2_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val lex = graft.text.Bm25.searchIndex(docs.filter(col("doc_id") < 10),
          graft.text.Bm25.readIndex(s, GateArtifacts.bm25IndexDir(s, dir)),
          "doc_id", "text", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Cosine.topK(emb.filter(col("vec_id") < 10), emb, "vec_id",
          "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      graft.retrieval.Fusion.rrf(Seq(lex, dense), "query_id", "doc_id", "rank",
          k0 = 60, perSystemK = 20, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }))

  /** Shared SQL pieces of the ANN acceptance oracles (x12/x23/x24) —
    * the SQL mirror of [[recallOf]], factored once so the three gates'
    * replays cannot drift. `annRerankCtes` assumes a `short` CTE of
    * (query_id, neighbor_id, srank); the truth CTEs assume `v`/`n`. */
  private val annRerankCtes =
    """rr AS (SELECT sh.query_id, sh.neighbor_id,
      |    ROUND(list_dot_product(q.emb, c2.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)), 6) AS sim
      |  FROM short sh
      |  JOIN v q ON q.vec_id = sh.query_id
      |  JOIN v c2 ON c2.vec_id = sh.neighbor_id
      |  JOIN n qn ON qn.vec_id = sh.query_id
      |  JOIN n cn ON cn.vec_id = sh.neighbor_id
      |  WHERE sh.srank <= 20),
      |approx AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |    FROM rr) WHERE rank <= 5),""".stripMargin

  private val annExactTruthCtes =
    """esims AS (
      |  SELECT q.vec_id AS query_id, c2.vec_id AS neighbor_id,
      |    list_dot_product(q.emb, c2.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
      |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
      |  CROSS JOIN v c2
      |  JOIN n cn ON c2.vec_id = cn.vec_id
      |  WHERE q.vec_id < 10 AND c2.vec_id <> q.vec_id),
      |exact AS (SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |    FROM esims) WHERE rank <= 5),""".stripMargin

  private val annMetricTailSql =
    """ov AS (SELECT e2.query_id, count(*) AS n_overlap
      |  FROM exact e2 JOIN approx a
      |    ON a.query_id = e2.query_id AND a.neighbor_id = e2.neighbor_id
      |  GROUP BY e2.query_id),
      |ex2 AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
      |SELECT ex2.query_id, CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
      |  CAST(ex2.n_exact AS BIGINT) AS n_exact,
      |  ROUND(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / ex2.n_exact, 6) AS recall
      |FROM ex2 LEFT JOIN ov ON ov.query_id = ex2.query_id
      |ORDER BY ex2.query_id""".stripMargin

  /** The x12 recall metric tail, shared by every ANN acceptance gate
    * (x12 = IVF, x23 = SQ8, x24 = Matryoshka): per-query overlap of the
    * approximate top-k with brute-force truth. Both inputs are
    * (query_id, neighbor_id). */
  private def recallOf(exact: org.apache.spark.sql.DataFrame,
                       approx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
      .join(exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact")),
        Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"), col("n_exact"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("n_exact"), 6).as("recall"))
      .orderBy(col("query_id"))

  /** The same deterministic SRP hyperplanes the engine uses, as SQL array
    * literals (generated, cannot drift). */
  private def srpBucketSql: String =
    Cosine.hyperplanes(4, 64).zipWithIndex.map { case (h, i) =>
      s"(CASE WHEN list_dot_product(emb, [${h.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** x8's derived SRP configuration (planes, tables) stashed by the last
    * run, read by [[oracle]] (a def, evaluated by Verify AFTER queries
    * run) so the DuckDB replay buckets with the exact same tables. */
  @volatile private var lastX8Config: (Int, Int) = (1, 1)

  /** c12's derived SRP configuration (planes, tables, probe radius),
    * stashed the same way as [[lastX8Config]] so the DuckDB replay bands
    * with identical tables AND expands identical probes — leaving the
    * radius out would silently half-cover the drift this stash exists
    * to prevent. */
  @volatile private var lastC12Config: (Int, Int, Int) = (1, 1, 1)

  /** x24b's trained prefix rotation (p rows of dim doubles), stashed by
    * the gate run so the oracle replays stage 1 under the EXACT trained
    * basis — the [[lastX8Config]] pattern at matrix size. */
  @volatile private var lastPrefixRotation: Seq[Seq[Double]] = Nil
  @volatile private var stashedRotationDir: String = null

  /** x27b's trained PQ codebook ((cell, codeword) rows read back from
    * the stored artifact), stashed so the oracle replays code assignment
    * and reconstruction under the EXACT trained codewords — the
    * [[lastPrefixRotation]] pattern at codebook size
    * (nSub·2^nPlanes·subDim = 1024 doubles). */
  @volatile private var lastTrainedPqBook: Seq[(Long, Seq[Double])] = Nil
  @volatile private var stashedTrainedPqDir: String = null

  /** x28c's stored coarse k-means centroids (cell → dim-vector) and its
    * trained RESIDUAL codebook, stashed by the gate run so the oracle
    * replays coarse assignment, residual encoding, and reconstruction
    * under the exact stored doubles — [[lastTrainedPqBook]] applied to
    * both quantization levels of the residual tier. */
  @volatile private var lastResidualCentroids: Seq[(Long, Seq[Double])] = Nil
  @volatile private var lastResidualBook: Seq[(Long, Seq[Double])] = Nil

  /** (cell, dim, value) parquet rows → ordered (cell → dense vector)
    * pairs — the collect shape every stash reader shares (trained book,
    * residual book, coarse centroids; all k·dim-bounded). */
  private def readCellVecs(s: org.apache.spark.sql.SparkSession, path: String): Seq[(Long, Seq[Double])] =
    ParquetOpen(s, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (cell, rows) => (cell, rows.sortBy(_._2).map(_._3).toSeq) }

  /** Stash the residual tier's stored coarse centroids + trained book
    * for the oracle — shared by x27c and x28c (either may run alone
    * under SPARK_GRAFT_ONLY; the assignment is idempotent). Memoized on
    * the artifact directory: the artifact is immutable once built (the
    * GateArtifacts contract), so re-running the gate re-reads nothing —
    * the two collect jobs per run were pure job-floor cost (guide §2.6
    * neighborhood: fewer driver-side actions per query). */
  @volatile private var stashedResidualDir: String = null
  private def stashResidualArtifacts(s: org.apache.spark.sql.SparkSession, rdir: String): Unit =
    if (stashedResidualDir != rdir) {
      lastResidualCentroids = readCellVecs(s, s"$rdir/centroids")
      lastResidualBook = readCellVecs(s, s"$rdir/codebook")
      stashedResidualDir = rdir
    }

  /** The x29 family's stage 1, generated to the exact
    * bqCodes/bqHamming arithmetic: sign-bit words (two 32-bit words at
    * dim=64 — 32 dims/word keeps every word inside BIGINT with no
    * sign-bit hazard), per-pair Hamming via bit_count(xor), shortlist
    * ranked (hamming asc, id asc) for the kShort=20 rerank cut. */
  private val bqShortCtes =
    """bw AS (SELECT vec_id, list_transform(range(0, 2), w ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 33), i ->
      |        CASE WHEN emb[w*32 + i] > 0
      |          THEN (CAST(1 AS BIGINT) << (i - 1))
      |          ELSE CAST(0 AS BIGINT) END)),
      |      (a, b) -> a + b)) AS words
      |  FROM v),
      |hm AS (SELECT q.vec_id AS query_id, cw.vec_id AS neighbor_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, 3),
      |        w -> CAST(bit_count(xor(qw.words[w], cw.words[w])) AS BIGINT))),
      |      (a, b) -> a + b) AS hamming
      |  FROM v q JOIN bw qw ON qw.vec_id = q.vec_id
      |  JOIN bw cw ON cw.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |short AS (SELECT query_id, neighbor_id, hamming,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY hamming ASC, neighbor_id ASC) AS srank
      |  FROM hm),""".stripMargin

  /** The full-scan ADC shortlist block shared verbatim by the x27
    * family's oracles (hash / trained / residual — they differ only in
    * which CTE built `recon`): every reconstruction scored against every
    * query, ranked per query for the kShort=20 rerank cut. */
  private val adcFullScanShortSql =
    """sq AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.emb, r.rv), 6) AS adc_sim
      |  FROM v q JOIN recon r ON r.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |short AS (SELECT query_id, neighbor_id, adc_sim,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY adc_sim DESC, neighbor_id ASC) AS srank
      |  FROM sq),""".stripMargin

  /** A stashed (cell → vector) table as a literal SQL VALUES CTE. */
  private def stashedCellVecSql(name: String,
                                rows: Seq[(Long, Seq[Double])]): String = {
    val values = rows.map { case (cell, vec) =>
      s"($cell, CAST([${vec.mkString(", ")}] AS DOUBLE[]))"
    }.mkString(",\n    ")
    s"""$name AS (SELECT * FROM (VALUES
       |    $values) AS t(cell, cvec))""".stripMargin
  }

  /** The residual tier's encode/decode chain from the stashed literals:
    * coarse assignment (nearest stashed centroid, the assignToCentroids
    * fold + tie rule), residual = vector − its cell centroid, per-
    * subspace code assignment against the stashed residual book (the
    * [[trainedPqReconCtes]] fold), reconstruction = centroid + codeword
    * concatenation, and the probe ranking `rcd` (query × stashed
    * centroids — reuses the same distance frame `rd` the assignment
    * ranked, queries being corpus rows here). */
  private def residualReconCtes: String =
    s"""${stashedCellVecSql("rccv", lastResidualCentroids)},
       |rd AS (SELECT v.vec_id, rccv.cell,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 65),
       |        i -> (v.emb[i] - rccv.cvec[i]) * (v.emb[i] - rccv.cvec[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM v CROSS JOIN rccv),
       |rasg AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn FROM rd)
       |  WHERE rn = 1),
       |res AS (SELECT v.vec_id, a.cell,
       |    list_transform(range(1, 65), i -> v.emb[i] - c.cvec[i]) AS resv
       |  FROM v JOIN rasg a ON a.vec_id = v.vec_id
       |  JOIN rccv c ON c.cell = a.cell),
       |${stashedCellVecSql("rcwv", lastResidualBook)},
       |rsub AS (SELECT vec_id, t.j, resv[(t.j*8+1):(t.j*8+8)] AS subv
       |  FROM res, (SELECT unnest(range(0, 8)) AS j) t),
       |rsc AS (SELECT s.vec_id, s.j, w.cell,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 9),
       |        i -> (s.subv[i] - w.cvec[i]) * (s.subv[i] - w.cvec[i]))),
       |      (a, b) -> a + b) AS d
       |  FROM rsub s JOIN rcwv w ON w.cell // 16 = s.j),
       |rpasg AS (SELECT vec_id, j, cell FROM (
       |    SELECT vec_id, j, cell, row_number() OVER (
       |      PARTITION BY vec_id, j ORDER BY d ASC, cell ASC) AS rn
       |    FROM rsc) WHERE rn = 1),
       |rrec AS (SELECT a.vec_id, flatten(list(w.cvec ORDER BY a.j)) AS rres
       |  FROM rpasg a JOIN rcwv w ON w.cell = a.cell
       |  GROUP BY a.vec_id),
       |recon AS (SELECT r.vec_id, res.cell,
       |    list_transform(range(1, 65), i -> c.cvec[i] + r.rres[i]) AS rv
       |  FROM rrec r JOIN res ON res.vec_id = r.vec_id
       |  JOIN rccv c ON c.cell = res.cell),
       |rcd AS (SELECT vec_id AS query_id, cell, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS prn
       |  FROM rd WHERE vec_id < 10)""".stripMargin

  /** The stashed trained codebook as SQL CTEs: `cwv(cell, cvec)` literal
    * codewords, `sub` subvectors, `asg` nearest-codeword assignment
    * (sequential index-order distance fold, ties to the smaller cell —
    * [[Cosine.nearestSubCell]]'s exact rule), `recon` the concatenated
    * codeword reconstruction. Mirrors [[pqReconCtes]]' shape with the
    * derived codebook swapped for the stashed literals. */
  private def trainedPqReconCtes: String = {
    s"""${stashedCellVecSql("cwv", lastTrainedPqBook)},
       |sub AS (SELECT vec_id, t.j, emb[(t.j*8+1):(t.j*8+8)] AS subv
       |  FROM v, (SELECT unnest(range(0, 8)) AS j) t),
       |sc AS (SELECT s.vec_id, s.j, w.cell,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 9),
       |        i -> (s.subv[i] - w.cvec[i]) * (s.subv[i] - w.cvec[i]))),
       |      (a, b) -> a + b) AS d
       |  FROM sub s JOIN cwv w ON w.cell // 16 = s.j),
       |asg AS (SELECT vec_id, j, cell FROM (
       |    SELECT vec_id, j, cell, row_number() OVER (
       |      PARTITION BY vec_id, j ORDER BY d ASC, cell ASC) AS rn
       |    FROM sc) WHERE rn = 1),
       |recon AS (SELECT a.vec_id, flatten(list(w.cvec ORDER BY a.j)) AS rv
       |  FROM asg a JOIN cwv w ON w.cell = a.cell
       |  GROUP BY a.vec_id)""".stripMargin
  }

  /** Multi-table SRP bucketing as a UNION ALL of per-table sign-bit rows
    * — generated from the same seeded hyperplanes as
    * [[Cosine.srpPairsMulti]]. */
  private def srpMultiBucketSql(nPlanes: Int, nTables: Int): String =
    (0 until nTables).map { t =>
      val b = Cosine.hyperplanesSeeded(t, nPlanes, 64).zipWithIndex.map { case (h, i) =>
        s"(CASE WHEN list_dot_product(emb, [${h.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, emb, $t AS t, $b AS b FROM v"
    }.mkString("\n  UNION ALL ")

  /** PQ code of subspace `j` (8 dims, 4 shared hyperplanes) — generated
    * from the same constants as [[Cosine.pqCodes]]. */
  private def pqBucketSql(j: Int): String =
    Cosine.hyperplanes(4, 8).zipWithIndex.map { case (h, i) =>
      s"(CASE WHEN list_dot_product(emb[${j * 8 + 1}:${j * 8 + 8}], " +
        s"[${h.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** r6's oracle: the same 5 MMR selection steps UNROLLED (generated,
    * so k and λ cannot drift from the engine's loop) — integer scores,
    * (score desc, id asc) argmax per step. */
  private def mmrSql(k: Int, lam: Int): String = {
    val steps = (2 to k).map { i =>
      s""",
         |m$i AS (SELECT p.query_id, p.id_a AS doc_id, max(p.psim) AS maxp
         |  FROM p JOIN acc${i - 1} s
         |    ON s.query_id = p.query_id AND s.doc_id = p.id_b
         |  GROUP BY p.query_id, p.id_a),
         |sc$i AS (SELECT c.query_id, c.doc_id,
         |    $lam * c.qsim - ${10 - lam} * m$i.maxp AS score
         |  FROM cand c JOIN m$i
         |    ON m$i.query_id = c.query_id AND m$i.doc_id = c.doc_id
         |  WHERE NOT EXISTS (SELECT 1 FROM acc${i - 1} s
         |    WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id)),
         |sel$i AS (SELECT query_id, doc_id, $i AS mmr_rank, score FROM (
         |    SELECT query_id, doc_id, score, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
         |    FROM sc$i) WHERE rn = 1),
         |acc$i AS MATERIALIZED (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString
    s"""WITH $vCte,
       |sims AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
       |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
       |  CROSS JOIN v c
       |  JOIN n cn ON c.vec_id = cn.vec_id
       |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
       |cand AS MATERIALIZED (SELECT query_id, neighbor_id AS doc_id,
       |    CAST(round(sim * 1000000, 0) AS BIGINT) AS qsim
       |  FROM (SELECT query_id, neighbor_id, sim, row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
       |    FROM sims) WHERE rank <= 10),
       |p AS MATERIALIZED (SELECT a.query_id, a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(round(list_dot_product(va.emb, vb.emb)
       |      / (sqrt(na.nsq) * sqrt(nb.nsq)) * 1000000, 0) AS BIGINT) AS psim
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
       |  JOIN v va ON va.vec_id = a.doc_id JOIN v vb ON vb.vec_id = b.doc_id
       |  JOIN n na ON na.vec_id = a.doc_id JOIN n nb ON nb.vec_id = b.doc_id),
       |sel1 AS (SELECT query_id, doc_id, 1 AS mmr_rank, $lam * qsim AS score
       |  FROM (SELECT query_id, doc_id, qsim, row_number() OVER (
       |      PARTITION BY query_id ORDER BY $lam * qsim DESC, doc_id ASC) AS rn
       |    FROM cand) WHERE rn = 1),
       |acc1 AS MATERIALIZED (SELECT * FROM sel1)$steps
       |SELECT query_id, mmr_rank, doc_id, score
       |FROM acc$k ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** The sorted-fold PQ codebook + ADC reconstruction CTE chain
    * (assumes a `v` CTE; yields `recon(vec_id, rv)`) — shared verbatim
    * by x10/x14 (in-plan) and x26/x27 (persisted tier): stored ≡ inline
    * is those gates' point. */
  private val pqReconCtes =
    s"""codes AS (SELECT vec_id, emb,
       |    [${(0 until 8).map(pqBucketSql).mkString(", ")}] AS cs
       |  FROM v),
       |sub AS (SELECT vec_id, t.j, emb[(t.j*8+1):(t.j*8+8)] AS subv,
       |    cs[t.j+1] AS code
       |  FROM codes, (SELECT unnest(range(0, 8)) AS j) t),
       |e AS (SELECT j, code, d.i AS dim, subv[d.i] AS x
       |      FROM sub, (SELECT unnest(range(1, 9)) AS i) d),
       |g AS (SELECT j, code, dim, list_sort(list(x)) AS xs, count(*) AS cnt
       |      FROM e GROUP BY j, code, dim),
       |cw AS (SELECT j, code, dim,
       |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
       |      (a, b) -> a + b) / cnt, 6) AS c
       |  FROM g),
       |cwv AS (SELECT j, code, list(c ORDER BY dim) AS cvec FROM cw GROUP BY j, code),
       |recon AS (SELECT s.vec_id, flatten(list(cwv.cvec ORDER BY s.j)) AS rv
       |  FROM sub s JOIN cwv ON cwv.j = s.j AND cwv.code = s.code
       |  GROUP BY s.vec_id)""".stripMargin

  /** The coarse-centroid probe ranking of the stored PQ tier, shared by
    * x28 (nProbe=2) and x28b (the recall-vs-nProbe curve): per-label
    * sorted-fold centroids (the x15 recipe, CTE names dodging the recon
    * chain's e/g), each query's cells ranked by centroid distance into
    * `cd` (query_id, label, prn). Consumers cut at their own prn. */
  private val pqCentroidCtes =
    """ce AS (SELECT label, t.i AS dim, emb[t.i] AS x
      |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
      |cg AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS cnt
      |      FROM ce GROUP BY label, dim),
      |cc AS (SELECT label, dim,
      |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
      |      (a, b) -> a + b) / cnt, 6) AS centroid
      |  FROM cg),
      |ccv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM cc GROUP BY label),
      |cd AS (SELECT query_id, label, row_number() OVER (
      |      PARTITION BY query_id ORDER BY d2 ASC, label ASC) AS prn
      |  FROM (SELECT q.vec_id AS query_id, ccv.label,
      |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list_transform(range(1, 65),
      |          i -> (q.emb[i] - ccv.cvec[i]) * (q.emb[i] - ccv.cvec[i]))),
      |        (a, b) -> a + b) AS d2
      |    FROM v q CROSS JOIN ccv WHERE q.vec_id < 10))""".stripMargin

  /** ADC sims over the cells a probe frame selected — the body of x28's
    * `sims`, parameterized on the probe CTE's name so x28b's per-nProbe
    * variants cannot drift from the gated composition. */
  private def pqProbedSimsSql(prName: String): String =
    s"""SELECT $prName.query_id, cand.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(q.emb, r.rv), 6) AS adc_sim
       |  FROM $prName
       |  JOIN v q ON q.vec_id = $prName.query_id
       |  JOIN v cand ON cand.label = $prName.label AND cand.vec_id <> $prName.query_id
       |  JOIN recon r ON r.vec_id = cand.vec_id""".stripMargin

  /** The nProbe values x28b prices — the verdict's tuning range: on the
    * 10-cell corpus that is 10%/20%/40% of cells probed. */
  private val X28bProbes = Seq(1, 2, 4)

  /** The per-nProbe recall-curve assembly shared by x28b and x28c: for
    * each probed width, cut the probe ranking (`prFor`), score the
    * probed candidates (`simsFor` — must emit (query_id, neighbor_id,
    * adc_sim)), keep top-5, count the overlap with the brute-force
    * `exact` truth, and union one recall row per (n_probe, query). One
    * body so the two curves differ ONLY in index construction. */
  private def probeRecallCurveSql(prFor: Int => String,
                                  simsFor: Int => String): String =
    s"""${X28bProbes.map(np =>
         s"""pr$np AS (${prFor(np)}),
            |sims$np AS (${simsFor(np)}),
            |approx$np AS (SELECT query_id, neighbor_id FROM (
            |    SELECT query_id, neighbor_id, row_number() OVER (
            |      PARTITION BY query_id ORDER BY adc_sim DESC, neighbor_id ASC) AS rank
            |    FROM sims$np) WHERE rank <= 5),
            |ov$np AS (SELECT e2.query_id, count(*) AS n_overlap
            |  FROM exact e2 JOIN approx$np a
            |    ON a.query_id = e2.query_id AND a.neighbor_id = e2.neighbor_id
            |  GROUP BY e2.query_id)""".stripMargin).mkString(",\n")},
       |ex2 AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
       |SELECT * FROM (
       |${X28bProbes.map(np =>
         s"""  SELECT $np AS n_probe, ex2.query_id,
            |    CAST(coalesce(ov$np.n_overlap, 0) AS BIGINT) AS n_overlap,
            |    CAST(ex2.n_exact AS BIGINT) AS n_exact,
            |    ROUND(CAST(coalesce(ov$np.n_overlap, 0) AS DOUBLE) / ex2.n_exact, 6) AS recall
            |  FROM ex2 LEFT JOIN ov$np ON ov$np.query_id = ex2.query_id""".stripMargin)
          .mkString("\n  UNION ALL\n")})
       |ORDER BY n_probe, query_id""".stripMargin

  /** x14's own-cell IVFADC ranking — shared verbatim by x14 (in-plan)
    * and x26 (persisted, cell-pruned codes scan). */
  private def ivfAdcSql: String =
    s"""WITH $vCte,
       |$pqReconCtes,
       |sims AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(q.emb, r.rv), 6) AS adc_sim
       |  FROM v q JOIN v c ON c.label = q.label AND c.vec_id <> q.vec_id
       |  JOIN recon r ON r.vec_id = c.vec_id
       |  WHERE q.vec_id < 10)
       |SELECT query_id, rank, neighbor_id, adc_sim FROM (
       |  SELECT query_id, neighbor_id, adc_sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_sim DESC, neighbor_id ASC) AS rank
       |  FROM sims)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val vCte =
    """v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, list_dot_product(emb, emb) AS nsq FROM v)""".stripMargin

  /** x19's quantize/shortlist/exact-rerank chain. Shared verbatim by
    * x19 (in-plan) and x25 (persisted artifact, stats-pinned, pruned
    * rerank): stored ≡ inline is the gates' point. */
  private def sq8TopkSql: String =
    s"""WITH $vCte,
         |e AS (SELECT vec_id, t.i AS dim, emb[t.i] AS x
         |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
         |s AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM e GROUP BY dim),
         |c AS (SELECT e.vec_id, e.dim, s.vmin, s.vmax,
         |    GREATEST(LEAST(
         |      COALESCE(floor((e.x - s.vmin) / nullif(s.vmax - s.vmin, 0) * 255.0 + 0.5),
         |        0.0), 255.0), 0.0) AS code
         |  FROM e JOIN s USING (dim)),
         |r AS (SELECT vec_id, list(vmin + code / 255.0 * (vmax - vmin) ORDER BY dim) AS rv
         |  FROM c GROUP BY vec_id),
         |sq AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.emb, r.rv), 6) AS sq_sim
         |  FROM v q JOIN r ON r.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         |short AS (SELECT query_id, neighbor_id, sq_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sq_sim DESC, neighbor_id ASC) AS srank
         |  FROM sq),
         |ex AS (SELECT sh.query_id, sh.neighbor_id, sh.sq_sim,
         |    ROUND(list_dot_product(q.emb, c2.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)), 6) AS sim
         |  FROM short sh
         |  JOIN v q ON q.vec_id = sh.query_id
         |  JOIN v c2 ON c2.vec_id = sh.neighbor_id
         |  JOIN n qn ON qn.vec_id = sh.query_id
         |  JOIN n cn ON cn.vec_id = sh.neighbor_id
         |  WHERE sh.srank <= 20)
         |SELECT query_id, rank, neighbor_id, sq_sim, sim FROM (
         |  SELECT query_id, neighbor_id, sq_sim, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM ex)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** x6's sorted-fold centroid CTEs -> top-3 probe cells per query by
    * (d2 asc, label asc) -> x4's top-k shape over the probed cells.
    * Shared verbatim by x15 (in-plan index) and x22 (persisted per-cell
    * layout): the two gates differ only in which serving path computes
    * the identical result. */
  private def ivfMultiprobeSql: String =
    s"""WITH $vCte,
       |e AS (SELECT label, t.i AS dim, emb[t.i] AS x
       |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
       |g AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS cnt
       |      FROM e GROUP BY label, dim),
       |c AS (SELECT label, dim,
       |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
       |      (a, b) -> a + b) / cnt, 6) AS centroid
       |  FROM g),
       |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
       |d AS (SELECT q.vec_id AS query_id, cv.label,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(range(1, 65),
       |        i -> (q.emb[i] - cv.cvec[i]) * (q.emb[i] - cv.cvec[i]))),
       |      (a, b) -> a + b) AS d2
       |  FROM v q CROSS JOIN cv WHERE q.vec_id < 10),
       |pr AS (SELECT query_id, label FROM (
       |    SELECT query_id, label,
       |      row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, label ASC)
       |        AS prn
       |    FROM d)
       |  WHERE prn <= 3),
       |sims AS (
       |  SELECT pr.query_id, cand.vec_id AS neighbor_id,
       |    list_dot_product(q.emb, cand.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
       |  FROM pr
       |  JOIN v q ON q.vec_id = pr.query_id
       |  JOIN v cand ON cand.label = pr.label AND cand.vec_id <> pr.query_id
       |  JOIN n qn ON qn.vec_id = pr.query_id
       |  JOIN n cn ON cn.vec_id = cand.vec_id)
       |SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
       |      AS rank
       |  FROM sims)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // a def, not a val: x8's SQL embeds the SRP config derived by the last
  // x8 run (Verify reads oracles after running the queries)
  def oracle: Map[String, String] = Map(
    // x17: same sorted folds as x11 but UNROUNDED μ/σ feeding the z
    // expression with identical parenthesization
    "x17_whiten" ->
      s"""WITH $vCte,
         |e AS (SELECT v.vec_id, t.i AS dim, emb[t.i] AS x
         |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
         |g AS (SELECT dim, count(*) AS n, list_sort(list(x)) AS xs
         |  FROM e GROUP BY dim),
         |s AS (SELECT dim, n,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
         |      (a, b) -> a + b) AS s1,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
         |      (a, b) -> a + b * b) AS s2
         |  FROM g),
         |w AS (SELECT dim, s1 / n AS mean,
         |    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sd
         |  FROM s)
         |SELECT e.vec_id, CAST(e.dim AS BIGINT) AS dim,
         |  ROUND(CASE WHEN w.sd = 0 THEN 0.0 ELSE (e.x - w.mean) / w.sd END, 6) AS z
         |FROM e JOIN w USING (dim) ORDER BY vec_id, dim""".stripMargin,
    // r3: re-runs r2's full fusion chain (shared bm25Ctes + x1 sims +
    // the same floor'd nano contributions), then measures per-system
    // survival into the fused top-10 and the dense-top-1 MRR
    "r3_fusion_eval" ->
      s"""WITH ${TextQueries.bm25Ctes(maxQid = 10,
             minIdfMicro = graft.text.Bm25.DefaultMinIdfMicro)},
         |$vCte,
         |sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
         |  CROSS JOIN v c
         |  JOIN n cn ON c.vec_id = cn.vec_id
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |den AS (SELECT query_id, neighbor_id AS did,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims),
         |contrib AS (
         |  SELECT qid AS query_id, did,
         |    CAST(floor(1000000000.0 / (60 + rank)) AS BIGINT) AS c
         |  FROM lexr WHERE rank <= 20
         |  UNION ALL
         |  SELECT query_id, did,
         |    CAST(floor(1000000000.0 / (60 + rank)) AS BIGINT) AS c
         |  FROM den WHERE rank <= 20),
         |f AS (SELECT query_id, did, CAST(sum(c) AS BIGINT) AS rrf_nano
         |  FROM contrib GROUP BY query_id, did),
         |fused AS (SELECT query_id, did, rank FROM (
         |  SELECT query_id, did,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_nano DESC, did ASC) AS rank
         |  FROM f)
         |WHERE rank <= 10),
         |ovd AS (SELECT d.query_id, count(*) AS n_dense_kept
         |  FROM den d JOIN fused u ON u.query_id = d.query_id AND u.did = d.did
         |  WHERE d.rank <= 5 GROUP BY d.query_id),
         |ovl AS (SELECT l.qid AS query_id, count(*) AS n_lex_kept
         |  FROM lexr l JOIN fused u ON u.query_id = l.qid AND u.did = l.did
         |  WHERE l.rank <= 5 GROUP BY l.qid),
         |mrr AS (SELECT d.query_id,
         |    coalesce(CAST(floor(1000000000.0 / u.rank) AS BIGINT), 0) AS mrr_nano
         |  FROM den d LEFT JOIN fused u ON u.query_id = d.query_id AND u.did = d.did
         |  WHERE d.rank = 1)
         |SELECT q.query_id, coalesce(ovd.n_dense_kept, 0) AS n_dense_kept,
         |  coalesce(ovl.n_lex_kept, 0) AS n_lex_kept, mrr.mrr_nano
         |FROM (SELECT DISTINCT query_id FROM den) q
         |LEFT JOIN ovd ON ovd.query_id = q.query_id
         |LEFT JOIN ovl ON ovl.query_id = q.query_id
         |LEFT JOIN mrr ON mrr.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin,
    // x16: one UNION ALL branch per output dim, each the same
    // left-to-right double fold over the same generated plane literals
    "x16_random_projection" ->
      s"""WITH $vCte
         |SELECT vec_id, dim, proj FROM (
         |  ${Cosine.hyperplanesSeeded(0, 16, 64).zipWithIndex.map { case (h, j) =>
               s"SELECT vec_id, $j AS dim, ROUND(list_dot_product(emb, [${h.mkString(", ")}]), 6) AS proj FROM v"
             }.mkString("\n  UNION ALL ")})
         |ORDER BY vec_id, dim""".stripMargin,
    // r2: the lexical side replays TextQueries.bm25Ctes VERBATIM (the
    // same generator r1 gates against, so the two lists cannot drift);
    // the dense side is x1's sims CTE ranked to depth 20; fusion is
    // floor'd integer nanos summed per (query, doc).
    "r2_hybrid_rrf" ->
      s"""WITH ${TextQueries.bm25Ctes(maxQid = 10,
             minIdfMicro = graft.text.Bm25.DefaultMinIdfMicro)},
         |$vCte,
         |sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
         |  CROSS JOIN v c
         |  JOIN n cn ON c.vec_id = cn.vec_id
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |den AS (SELECT query_id, neighbor_id AS did,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims),
         |contrib AS (
         |  SELECT qid AS query_id, did,
         |    CAST(floor(1000000000.0 / (60 + rank)) AS BIGINT) AS c
         |  FROM lexr WHERE rank <= 20
         |  UNION ALL
         |  SELECT query_id, did,
         |    CAST(floor(1000000000.0 / (60 + rank)) AS BIGINT) AS c
         |  FROM den WHERE rank <= 20),
         |f AS (SELECT query_id, did, CAST(sum(c) AS BIGINT) AS rrf_nano,
         |    count(*) AS n_systems
         |  FROM contrib GROUP BY query_id, did)
         |SELECT query_id, rank, did AS doc_id, rrf_nano, n_systems FROM (
         |  SELECT query_id, did, rrf_nano, n_systems,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_nano DESC, did ASC) AS rank
         |  FROM f)
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // r6: generated unrolled MMR steps — same k/λ as the engine loop
    "r6_mmr_rerank" -> mmrSql(k = 5, lam = 7),
    // r5: exact = x1's sims ranked to 5, approx = x4's cell-pruned rank;
    // per-rank terms rel·ln2/ln(rank+1) fixed to integer micro before
    // the per-query sum, ndcg as integer ppm — identical scalar chains
    "r5_ndcg" ->
      s"""WITH $vCte,
         |sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
         |  CROSS JOIN v c
         |  JOIN n cn ON c.vec_id = cn.vec_id
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         |exact AS (SELECT query_id, neighbor_id, rank AS erank FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM sims) WHERE rank <= 5),
         |asims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
         |  JOIN v c ON c.label = q.label AND c.vec_id <> q.vec_id
         |  JOIN n cn ON c.vec_id = cn.vec_id
         |  WHERE q.vec_id < 10),
         |approx AS (SELECT query_id, neighbor_id, rank AS arank FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM asims) WHERE rank <= 5),
         |dcg AS (SELECT a.query_id,
         |    CAST(sum(CASE WHEN e.erank IS NOT NULL
         |      THEN CAST(round(CAST(6 - e.erank AS DOUBLE) * ln(2.0)
         |        / ln(CAST(a.arank AS DOUBLE) + 1.0) * 1000000, 0) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS dcg_micro
         |  FROM approx a LEFT JOIN exact e
         |    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |  GROUP BY a.query_id),
         |idcg AS (SELECT query_id,
         |    CAST(sum(CAST(round(CAST(6 - erank AS DOUBLE) * ln(2.0)
         |      / ln(CAST(erank AS DOUBLE) + 1.0) * 1000000, 0) AS BIGINT))
         |      AS BIGINT) AS idcg_micro
         |  FROM exact GROUP BY query_id)
         |SELECT i.query_id, coalesce(d.dcg_micro, 0) AS dcg_micro, i.idcg_micro,
         |  coalesce(d.dcg_micro, 0) * 1000000 // i.idcg_micro AS ndcg_ppm
         |FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
         |ORDER BY i.query_id""".stripMargin,
    // c12: the engine's bounded plan replayed exactly — the same seeded
    // multi-table SRP bands on both split sides, the train side
    // MULTIPROBED (radius-1 Hamming expansion: own bucket + every 1-bit
    // flip, the same masks Cosine.probeMasks generates), DISTINCT
    // colliding candidates, the x1 dot/norm chain on candidates only,
    // and the per-train max LEFT-joined over every train id (no
    // collision ⇒ NULL ⇒ kept). max over ROUND(sim, 6) — identical to
    // Spark's rounded-max since rounding is monotone and the candidate
    // sets coincide.
    "c12_semantic_decontaminate" ->
      s"""WITH $vCte,
         |bk AS (SELECT vec_id,
         |  CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
         |    ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM embeddings),
         |tb AS (
         |  ${srpMultiBucketSql(lastC12Config._1, lastC12Config._2)}),
         |pm(m) AS (VALUES ${Cosine.probeMasks(lastC12Config._1, lastC12Config._3)
           .map(m => s"($m)").mkString(", ")}),
         |cand AS (SELECT DISTINCT a.vec_id AS train_id, e.vec_id AS eval_id
         |  FROM tb a JOIN bk ba ON ba.vec_id = a.vec_id
         |  CROSS JOIN pm
         |  JOIN tb e ON e.t = a.t AND e.b = xor(a.b, pm.m)
         |  JOIN bk be ON be.vec_id = e.vec_id
         |  WHERE ba.bucket < 90 AND be.bucket >= 90),
         |m AS (SELECT c.train_id AS vec_id,
         |    max(ROUND(list_dot_product(tv.emb, ev.emb)
         |      / (sqrt(tn.nsq) * sqrt(en.nsq)), 6)) AS max_test_sim
         |  FROM cand c
         |  JOIN v tv ON tv.vec_id = c.train_id
         |  JOIN n tn ON tn.vec_id = c.train_id
         |  JOIN v ev ON ev.vec_id = c.eval_id
         |  JOIN n en ON en.vec_id = c.eval_id
         |  GROUP BY c.train_id)
         |SELECT t.vec_id, m.max_test_sim,
         |  COALESCE(m.max_test_sim < 0.34, TRUE) AS kept
         |FROM (SELECT em.vec_id FROM embeddings em
         |      JOIN bk ON bk.vec_id = em.vec_id WHERE bk.bucket < 90) t
         |LEFT JOIN m ON m.vec_id = t.vec_id
         |ORDER BY t.vec_id""".stripMargin,
    "x1_cosine_topk" ->
      s"""WITH $vCte,
         |sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
         |  CROSS JOIN v c
         |  JOIN n cn ON c.vec_id = cn.vec_id
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
         |SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x19: per-dim min/max ranges (exact, no summation), explicit
    // half-up quantization floor(u·255 + 0.5), reconstruction
    // vmin + code/255·span with the same parenthesization as the engine;
    // shortlist ranks on ROUND(sq_sim, 6), final rank on ROUND(sim, 6) —
    // both with the neighbor_id tie-break
    // x19/x25 share the replay verbatim — the gates differ only in
    // which serving path computes the identical result
    "x19_sq8_topk" -> sq8TopkSql,
    "x25_sq8_stored" -> sq8TopkSql,
    // x21: stats CTE trains min/max on the 80% base only (vec_id%5<>4);
    // every vector — appended batch included — codes under THOSE stats
    // with the saturating clamp; quantized-only rank
    "x21_sq8_append" ->
      s"""WITH $vCte,
         |e AS (SELECT vec_id, t.i AS dim, emb[t.i] AS x
         |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
         |s AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM e
         |      WHERE vec_id % 5 <> 4 GROUP BY dim),
         |c AS (SELECT e.vec_id, e.dim, s.vmin, s.vmax,
         |    GREATEST(LEAST(
         |      COALESCE(floor((e.x - s.vmin) / nullif(s.vmax - s.vmin, 0) * 255.0 + 0.5),
         |        0.0), 255.0), 0.0) AS code
         |  FROM e JOIN s USING (dim)),
         |r AS (SELECT vec_id, list(vmin + code / 255.0 * (vmax - vmin) ORDER BY dim) AS rv
         |  FROM c GROUP BY vec_id),
         |sq AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.emb, r.rv), 6) AS sq_sim
         |  FROM v q JOIN r ON r.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT query_id, rank, neighbor_id, sq_sim FROM (
         |  SELECT query_id, neighbor_id, sq_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sq_sim DESC, neighbor_id ASC) AS rank
         |  FROM sq)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x20: stage-1 cosine over emb[1:16] (DuckDB list slice is 1-based
    // inclusive = the engine's slice(v, 1, 16)), stage-2 full cosine
    "x20_prefix_topk" ->
      s"""WITH $vCte,
         |pv AS (SELECT vec_id, emb[1:16] AS pemb FROM v),
         |pn AS (SELECT vec_id, list_dot_product(pemb, pemb) AS pnsq FROM pv),
         |s1 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.pemb, c.pemb) / (sqrt(qn.pnsq) * sqrt(cn.pnsq)), 6) AS psim
         |  FROM pv q JOIN pv c ON c.vec_id <> q.vec_id
         |  JOIN pn qn ON qn.vec_id = q.vec_id
         |  JOIN pn cn ON cn.vec_id = c.vec_id
         |  WHERE q.vec_id < 10),
         |short AS (SELECT query_id, neighbor_id, psim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY psim DESC, neighbor_id ASC) AS srank
         |  FROM s1),
         |ex AS (SELECT sh.query_id, sh.neighbor_id, sh.psim,
         |    ROUND(list_dot_product(q.emb, c2.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)), 6) AS sim
         |  FROM short sh
         |  JOIN v q ON q.vec_id = sh.query_id
         |  JOIN v c2 ON c2.vec_id = sh.neighbor_id
         |  JOIN n qn ON qn.vec_id = sh.query_id
         |  JOIN n cn ON cn.vec_id = sh.neighbor_id
         |  WHERE sh.srank <= 20)
         |SELECT query_id, rank, neighbor_id, psim, sim FROM (
         |  SELECT query_id, neighbor_id, psim, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM ex)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "x2_cosine_cell_pairs" ->
      s"""WITH $vCte
         |SELECT label, id_a, id_b, ROUND(sim, 6) AS sim FROM (
         |  SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_dot_product(a.emb, b.emb) / (sqrt(na.nsq) * sqrt(nb.nsq)) AS sim
         |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id)
         |WHERE sim >= 0.4 ORDER BY label, id_a, id_b""".stripMargin,
    "x3_cosine_srp_pairs" ->
      s"""WITH $vCte,
         |bk AS (SELECT vec_id, emb, $srpBucketSql AS bucket FROM v)
         |SELECT bucket, id_a, id_b, ROUND(sim, 6) AS sim FROM (
         |  SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_dot_product(a.emb, b.emb) / (sqrt(na.nsq) * sqrt(nb.nsq)) AS sim
         |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id)
         |WHERE sim >= 0.3 ORDER BY bucket, id_a, id_b""".stripMargin,
    "x5_cell_centroids" ->
      """WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT label, t.i AS dim, emb[t.i] AS x
        |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
        |g AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS n
        |      FROM e GROUP BY label, dim)
        |SELECT label, dim,
        |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |    (a, b) -> a + b) / n, 6) AS centroid
        |FROM g ORDER BY label, dim""".stripMargin,
    "x6_centroid_assign" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT label, t.i AS dim, emb[t.i] AS x
        |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
        |g AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS n
        |      FROM e GROUP BY label, dim),
        |c AS (SELECT label, dim,
        |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |      (a, b) -> a + b) / n, 6) AS centroid
        |  FROM g),
        |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
        |d AS (SELECT v.vec_id, cv.label,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 65),
        |        i -> (v.emb[i] - cv.cvec[i]) * (v.emb[i] - cv.cvec[i]))),
        |      (a, b) -> a + b) AS d2
        |  FROM v CROSS JOIN cv)
        |SELECT vec_id, label AS assigned_cell, ROUND(d2, 6) AS dist_sq FROM (
        |  SELECT vec_id, label, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, label ASC) AS rn
        |  FROM d)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // x18: centroids from the <80 slice only (x5's sorted-fold CTEs with
    // the bucket filter), then ONE assignment pass over all vectors —
    // exactly what the engine's stored ∪ appended cells equal — probe
    // selection reusing the same distance rows (x15's prn pattern),
    // rank ≤ 5 within the probed cells
    "x18_ivf_append" ->
      s"""WITH $vCte,
         |bk AS (SELECT vec_id,
         |    CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
         |      ':graft-split-v1')), 1, 15)) AS BIGINT) % 100 AS bucket
         |  FROM embeddings),
         |e AS (SELECT label, t.i AS dim, emb[t.i] AS x
         |      FROM v JOIN bk USING (vec_id),
         |           (SELECT unnest(range(1, 65)) AS i) t
         |      WHERE bk.bucket < 80),
         |g AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS cnt
         |      FROM e GROUP BY label, dim),
         |c AS (SELECT label, dim,
         |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
         |      (a, b) -> a + b) / cnt, 6) AS centroid
         |  FROM g),
         |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
         |d AS (SELECT q.vec_id, cv.label,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(1, 65),
         |        i -> (q.emb[i] - cv.cvec[i]) * (q.emb[i] - cv.cvec[i]))),
         |      (a, b) -> a + b) AS d2
         |  FROM v q CROSS JOIN cv),
         |a AS (SELECT vec_id, label AS cell FROM (
         |    SELECT vec_id, label, d2,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, label ASC) AS rn
         |    FROM d)
         |  WHERE rn = 1),
         |pr AS (SELECT vec_id AS query_id, label FROM (
         |    SELECT vec_id, label,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, label ASC) AS prn
         |    FROM d WHERE vec_id < 10)
         |  WHERE prn <= 2),
         |sims AS (SELECT pr.query_id, a.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, cand.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM pr
         |  JOIN a ON a.cell = pr.label
         |  JOIN v q ON q.vec_id = pr.query_id
         |  JOIN v cand ON cand.vec_id = a.vec_id
         |  JOIN n qn ON qn.vec_id = pr.query_id
         |  JOIN n cn ON cn.vec_id = a.vec_id
         |  WHERE a.vec_id <> pr.query_id)
         |SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x15: x6's sorted-fold centroid CTEs -> top-3 probe cells per query
    // by (d2 asc, label asc) -> x4's top-k shape over the probed cells
    "x15_ivf_multiprobe" -> ivfMultiprobeSql,
    // x22: the same semantics served through the PERSISTED per-cell
    // layout (writeIvfIndex + ivfSearchStored) — stored ≡ in-plan, so
    // the oracle is x15's replay verbatim; a green row proves the
    // partition-pruned serving path introduced and lost nothing
    "x22_ivf_stored" -> ivfMultiprobeSql,
    "x4_ivf_topk" ->
      s"""WITH $vCte,
         |sims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
         |  JOIN v c ON c.label = q.label AND c.vec_id <> q.vec_id
         |  JOIN n cn ON c.vec_id = cn.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT query_id, rank, neighbor_id, ROUND(sim, 6) AS sim FROM (
         |  SELECT query_id, neighbor_id, sim,
         |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "d8_embedding_dups" ->
      s"""WITH RECURSIVE $vCte,
         |p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE list_dot_product(a.emb, b.emb) / (sqrt(na.nsq) * sqrt(nb.nsq)) >= 0.4),
         |edges AS (SELECT id_a AS s, id_b AS d FROM p
         |          UNION ALL SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.d AS id, reach.r FROM reach JOIN edges e ON e.s = reach.id),
         |comps AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)
         |SELECT em.vec_id, COALESCE(comps.comp, em.vec_id) AS cluster_id,
         |  em.vec_id = COALESCE(comps.comp, em.vec_id) AS keep
         |FROM embeddings em LEFT JOIN comps ON comps.id = em.vec_id
         |ORDER BY em.vec_id""".stripMargin,
    "x7_semdedup" ->
      s"""WITH RECURSIVE $vCte,
         |e AS (SELECT label, t.i AS dim, emb[t.i] AS x
         |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
         |g AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS cnt
         |      FROM e GROUP BY label, dim),
         |c AS (SELECT label, dim,
         |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
         |      (a, b) -> a + b) / cnt, 6) AS centroid
         |  FROM g),
         |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
         |cs AS (SELECT v.vec_id,
         |    ROUND(list_dot_product(v.emb, cv.cvec) /
         |      NULLIF(sqrt(list_dot_product(v.emb, v.emb))
         |             * sqrt(list_dot_product(cv.cvec, cv.cvec)), 0.0), 6)
         |      AS centroid_sim
         |  FROM v JOIN cv ON v.label = cv.label),
         |p AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE list_dot_product(a.emb, b.emb) / (sqrt(na.nsq) * sqrt(nb.nsq)) >= 0.4),
         |edges AS (SELECT id_a AS s, id_b AS d FROM p
         |          UNION ALL SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e2.d AS id, reach.r FROM reach JOIN edges e2 ON e2.s = reach.id),
         |comps AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         |m AS (SELECT em.vec_id, COALESCE(comps.comp, em.vec_id) AS cluster_id,
         |    cs.centroid_sim
         |  FROM embeddings em
         |  LEFT JOIN comps ON comps.id = em.vec_id
         |  JOIN cs ON cs.vec_id = em.vec_id)
         |SELECT vec_id, cluster_id, centroid_sim,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY centroid_sim ASC NULLS LAST, vec_id ASC) = 1 AS keep
         |FROM m ORDER BY vec_id""".stripMargin,
    "x8_semdedup_srp" ->
      s"""WITH RECURSIVE $vCte,
         |e AS (SELECT label, t.i AS dim, emb[t.i] AS x
         |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
         |g AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS cnt
         |      FROM e GROUP BY label, dim),
         |c AS (SELECT label, dim,
         |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
         |      (a, b) -> a + b) / cnt, 6) AS centroid
         |  FROM g),
         |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
         |cs AS (SELECT v.vec_id,
         |    ROUND(list_dot_product(v.emb, cv.cvec) /
         |      NULLIF(sqrt(list_dot_product(v.emb, v.emb))
         |             * sqrt(list_dot_product(cv.cvec, cv.cvec)), 0.0), 6)
         |      AS centroid_sim
         |  FROM v JOIN cv ON v.label = cv.label),
         |bk AS (
         |  ${srpMultiBucketSql(lastX8Config._1, lastX8Config._2)}),
         |p AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
         |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
         |  WHERE list_dot_product(a.emb, b.emb) / (sqrt(na.nsq) * sqrt(nb.nsq)) >= 0.4),
         |edges AS (SELECT id_a AS s, id_b AS d FROM p
         |          UNION ALL SELECT id_b, id_a FROM p),
         |nodes AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e2.d AS id, reach.r FROM reach JOIN edges e2 ON e2.s = reach.id),
         |comps AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         |m AS (SELECT em.vec_id, COALESCE(comps.comp, em.vec_id) AS cluster_id,
         |    cs.centroid_sim
         |  FROM embeddings em
         |  LEFT JOIN comps ON comps.id = em.vec_id
         |  JOIN cs ON cs.vec_id = em.vec_id)
         |SELECT vec_id, cluster_id, centroid_sim,
         |  row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY centroid_sim ASC NULLS LAST, vec_id ASC) = 1 AS keep
         |FROM m ORDER BY vec_id""".stripMargin,
    "x13_kmeans_2iter" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e1 AS (SELECT label AS cell, t.i AS dim, emb[t.i] AS x
        |       FROM v, (SELECT unnest(range(1, 65)) AS i) t),
        |g1 AS (SELECT cell, dim, list_sort(list(x)) AS xs, count(*) AS n
        |       FROM e1 GROUP BY cell, dim),
        |c1 AS (SELECT cell, dim,
        |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |      (a, b) -> a + b) / n, 6) AS centroid
        |  FROM g1),
        |cv1 AS (SELECT cell, list(centroid ORDER BY dim) AS cvec FROM c1 GROUP BY cell),
        |d1 AS (SELECT v.vec_id, cv1.cell,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 65),
        |        i -> (v.emb[i] - cv1.cvec[i]) * (v.emb[i] - cv1.cvec[i]))),
        |      (a, b) -> a + b) AS d2
        |  FROM v CROSS JOIN cv1),
        |a1 AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, d2, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        |    FROM d1) WHERE rn = 1),
        |e2 AS (SELECT a1.cell, t.i AS dim, v.emb[t.i] AS x
        |       FROM v JOIN a1 USING (vec_id),
        |            (SELECT unnest(range(1, 65)) AS i) t),
        |g2 AS (SELECT cell, dim, list_sort(list(x)) AS xs, count(*) AS n
        |       FROM e2 GROUP BY cell, dim),
        |c2 AS (SELECT cell, dim,
        |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |      (a, b) -> a + b) / n, 6) AS centroid
        |  FROM g2),
        |cv2 AS (SELECT cell, list(centroid ORDER BY dim) AS cvec FROM c2 GROUP BY cell),
        |d2r AS (SELECT v.vec_id, cv2.cell,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 65),
        |        i -> (v.emb[i] - cv2.cvec[i]) * (v.emb[i] - cv2.cvec[i]))),
        |      (a, b) -> a + b) AS d2
        |  FROM v CROSS JOIN cv2)
        |SELECT vec_id, cell AS assigned_cell, ROUND(d2, 6) AS dist_sq FROM (
        |  SELECT vec_id, cell, d2, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) AS rn
        |  FROM d2r)
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // c14: x6's assignment CTEs -> per-cluster salted-md5 quota of 3;
    // the draw, rank, and cluster_n are all integer/windowed — exact
    "c14_cluster_balanced" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT label, t.i AS dim, emb[t.i] AS x
        |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
        |g AS (SELECT label, dim, list_sort(list(x)) AS xs, count(*) AS n
        |      FROM e GROUP BY label, dim),
        |c AS (SELECT label, dim,
        |    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |      (a, b) -> a + b) / n, 6) AS centroid
        |  FROM g),
        |cv AS (SELECT label, list(centroid ORDER BY dim) AS cvec FROM c GROUP BY label),
        |d AS (SELECT v.vec_id, cv.label,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(1, 65),
        |        i -> (v.emb[i] - cv.cvec[i]) * (v.emb[i] - cv.cvec[i]))),
        |      (a, b) -> a + b) AS d2
        |  FROM v CROSS JOIN cv),
        |a AS (SELECT vec_id, label AS assigned_cell FROM (
        |    SELECT vec_id, label, d2, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d2 ASC, label ASC) AS rn
        |    FROM d) WHERE rn = 1),
        |dr AS (SELECT vec_id, assigned_cell,
        |    CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
        |      ':graft-bal-v1')), 1, 15)) AS BIGINT) % 1000000 AS draw
        |  FROM a),
        |r AS (SELECT vec_id, assigned_cell,
        |    row_number() OVER (PARTITION BY assigned_cell
        |      ORDER BY draw ASC, vec_id ASC) AS rank,
        |    CAST(count(*) OVER (PARTITION BY assigned_cell) AS BIGINT)
        |      AS cluster_n
        |  FROM dr)
        |SELECT vec_id, assigned_cell, rank, cluster_n FROM r
        |WHERE rank <= 3 ORDER BY assigned_cell, vec_id""".stripMargin,
    // x12/x23/x24 share the exact-truth CTEs + metric tail (the Scala
    // side's recallOf, mirrored); each supplies only its approx chain
    "x12_ann_recall" ->
      s"""WITH $vCte,
         |asims AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.emb, c.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)) AS sim
         |  FROM v q JOIN n qn ON q.vec_id = qn.vec_id
         |  JOIN v c ON c.label = q.label AND c.vec_id <> q.vec_id
         |  JOIN n cn ON c.vec_id = cn.vec_id
         |  WHERE q.vec_id < 10),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM asims) WHERE rank <= 5),
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin,
    // x23: x19's quantize/shortlist/rerank chain truncated to its top-5
    // neighbor set + the shared truth/metric pieces
    "x23_sq8_recall" ->
      s"""WITH $vCte,
         |e AS (SELECT vec_id, t.i AS dim, emb[t.i] AS x
         |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
         |s AS (SELECT dim, min(x) AS vmin, max(x) AS vmax FROM e GROUP BY dim),
         |c AS (SELECT e.vec_id, e.dim, s.vmin, s.vmax,
         |    GREATEST(LEAST(
         |      COALESCE(floor((e.x - s.vmin) / nullif(s.vmax - s.vmin, 0) * 255.0 + 0.5),
         |        0.0), 255.0), 0.0) AS code
         |  FROM e JOIN s USING (dim)),
         |r AS (SELECT vec_id, list(vmin + code / 255.0 * (vmax - vmin) ORDER BY dim) AS rv
         |  FROM c GROUP BY vec_id),
         |sq AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.emb, r.rv), 6) AS sq_sim
         |  FROM v q JOIN r ON r.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10),
         |short AS (SELECT query_id, neighbor_id, sq_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY sq_sim DESC, neighbor_id ASC) AS srank
         |  FROM sq),
         |$annRerankCtes
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin,
    // x24: x20's prefix shortlist/rerank chain + the shared pieces
    "x24_prefix_recall" ->
      s"""WITH $vCte,
         |pv AS (SELECT vec_id, emb[1:16] AS pemb FROM v),
         |pn AS (SELECT vec_id, list_dot_product(pemb, pemb) AS pnsq FROM pv),
         |s1 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.pemb, c.pemb) / (sqrt(qn.pnsq) * sqrt(cn.pnsq)), 6) AS psim
         |  FROM pv q JOIN pv c ON c.vec_id <> q.vec_id
         |  JOIN pn qn ON qn.vec_id = q.vec_id
         |  JOIN pn cn ON cn.vec_id = c.vec_id
         |  WHERE q.vec_id < 10),
         |short AS (SELECT query_id, neighbor_id, psim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY psim DESC, neighbor_id ASC) AS srank
         |  FROM s1),
         |$annRerankCtes
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin,
    // x24b: x24's chain with stage 1 in the STASHED trained basis —
    // each rotated-prefix component is one literal dot product. An
    // EMPTY stash (oracle rendered before the gate ran in this process)
    // must replay LOUDLY, never as a structurally-valid [] basis whose
    // NULL psims would read as a mysterious hash mismatch.
    "x24b_prefix_rotated_recall" ->
      (if (lastPrefixRotation.isEmpty)
        "SELECT error('x24b: rotation not stashed — run the gate before its oracle')"
      else
      s"""WITH $vCte,
         |pv AS (SELECT vec_id, [${lastPrefixRotation.map(r =>
             s"list_dot_product(emb, [${r.mkString(", ")}])").mkString(", ")}] AS pemb
         |  FROM v),
         |pn AS (SELECT vec_id, list_dot_product(pemb, pemb) AS pnsq FROM pv),
         |s1 AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.pemb, c.pemb) / (sqrt(qn.pnsq) * sqrt(cn.pnsq)), 6) AS psim
         |  FROM pv q JOIN pv c ON c.vec_id <> q.vec_id
         |  JOIN pn qn ON qn.vec_id = q.vec_id
         |  JOIN pn cn ON cn.vec_id = c.vec_id
         |  WHERE q.vec_id < 10),
         |short AS (SELECT query_id, neighbor_id, psim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY psim DESC, neighbor_id ASC) AS srank
         |  FROM s1),
         |$annRerankCtes
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin),
    "x11_embedding_stats" ->
      s"""WITH $vCte,
         |e AS (SELECT t.i AS dim, emb[t.i] AS x
         |      FROM v, (SELECT unnest(range(1, 65)) AS i) t),
         |g AS (SELECT dim, count(*) AS n, list_sort(list(x)) AS xs,
         |    min(x) AS vmin, max(x) AS vmax
         |  FROM e GROUP BY dim),
         |s AS (SELECT dim, n, vmin, vmax,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
         |      (a, b) -> a + b) AS s1,
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
         |      (a, b) -> a + b * b) AS s2
         |  FROM g)
         |SELECT dim, CAST(n AS BIGINT) AS n, ROUND(s1 / n, 6) AS mean,
         |  ROUND(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 6) AS stddev,
         |  ROUND(vmin, 6) AS vmin, ROUND(vmax, 6) AS vmax
         |FROM s ORDER BY dim""".stripMargin,
    "x9_pq_codes" ->
      s"""WITH $vCte
         |SELECT vec_id, ${(0 until 8).map(j =>
             s"CAST((${pqBucketSql(j)}) AS VARCHAR)").mkString(" || ',' || ")} AS codes
         |FROM v ORDER BY vec_id""".stripMargin,
    "x14_ivfadc_topk" -> ivfAdcSql,
    "x26_pq_stored" -> ivfAdcSql,
    // x28: sorted-fold coarse centroids (the x15 probe CTEs, renamed to
    // dodge the recon chain's e/g) rank 2 probe cells per query; ADC
    // sims run over the probed cells' reconstructions
    "x28_ivfadc_probed" ->
      s"""WITH $vCte,
         |$pqReconCtes,
         |$pqCentroidCtes,
         |pr AS (SELECT query_id, label FROM cd WHERE prn <= 2),
         |sims AS (${pqProbedSimsSql("pr")})
         |SELECT query_id, rank, neighbor_id, adc_sim FROM (
         |  SELECT query_id, neighbor_id, adc_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x28b: the recall-vs-nProbe CURVE of that composition — the number
    // a pipeline actually tunes (x12's IVF 1.0 is the exact-rerank
    // path, x27's 0.42 the full-scan path; neither prices the probe
    // knob). One shared centroid ranking, one shared truth; per-nProbe
    // probe cut → ADC top-5 → the x12 metric tail.
    "x28b_ivfadc_recall" ->
      s"""WITH $vCte,
         |$pqReconCtes,
         |$pqCentroidCtes,
         |$annExactTruthCtes
         |${probeRecallCurveSql(
           np => s"SELECT query_id, label FROM cd WHERE prn <= $np",
           np => pqProbedSimsSql(s"pr$np"))}""".stripMargin,
    // x28c: the same curve over the RESIDUAL tier — trained coarse
    // k-means cells (stashed centroid literals) + PQ over x − q₁(x)
    // (stashed residual book); identical probe widths, truth, and
    // metric tail, so the x28b→x28c gap prices the construction swap.
    "x28c_residual_recall" ->
      (if (lastResidualCentroids.isEmpty || lastResidualBook.isEmpty)
        "SELECT error('x28c: residual centroids/book not stashed — run the gate before its oracle')"
      else
      s"""WITH $vCte,
         |$residualReconCtes,
         |$annExactTruthCtes
         |${probeRecallCurveSql(
           np => s"SELECT query_id, cell FROM rcd WHERE prn <= $np",
           np => s"""SELECT pr$np.query_id, r.vec_id AS neighbor_id,
                    |    ROUND(list_dot_product(q.emb, r.rv), 6) AS adc_sim
                    |  FROM pr$np
                    |  JOIN v q ON q.vec_id = pr$np.query_id
                    |  JOIN recon r ON r.cell = pr$np.cell
                    |    AND r.vec_id <> pr$np.query_id""".stripMargin)}""".stripMargin),
    // x27: the stored two-stage PQ chain — full-code ADC shortlist
    // (kShort=20), exact rerank, recall vs brute-force truth (the
    // x23/x24 shared tails)
    "x27_pq_recall" ->
      s"""WITH $vCte,
         |$pqReconCtes,
         |$adcFullScanShortSql
         |$annRerankCtes
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin,
    // x29: the stored binary-quantized two-stage search — sign words,
    // Hamming shortlist, exact rerank carrying the stage-1 score.
    "x29_bq_topk" ->
      s"""WITH $vCte,
         |$bqShortCtes
         |rr AS (SELECT sh.query_id, sh.neighbor_id, sh.hamming,
         |    ROUND(list_dot_product(q.emb, c2.emb) / (sqrt(qn.nsq) * sqrt(cn.nsq)), 6) AS sim
         |  FROM short sh
         |  JOIN v q ON q.vec_id = sh.query_id
         |  JOIN v c2 ON c2.vec_id = sh.neighbor_id
         |  JOIN n qn ON qn.vec_id = sh.query_id
         |  JOIN n cn ON cn.vec_id = sh.neighbor_id
         |  WHERE sh.srank <= 20)
         |SELECT query_id, rank, neighbor_id, hamming, sim FROM (
         |  SELECT query_id, neighbor_id, hamming, sim, row_number() OVER (
         |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
         |  FROM rr)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // x29b: that chain's recall row vs brute-force truth (the shared
    // metric tail).
    "x29b_bq_recall" ->
      s"""WITH $vCte,
         |$bqShortCtes
         |$annRerankCtes
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin,
    // x27c: the x27 chain over the RESIDUAL construction — the
    // quantization-ceiling row of the residual tier (no probe
    // truncation; the x28c curve prices the probe knob separately):
    // recon comes from the stashed coarse centroids + residual book.
    "x27c_residual_pq_recall" ->
      (if (lastResidualCentroids.isEmpty || lastResidualBook.isEmpty)
        "SELECT error('x27c: residual centroids/book not stashed — run the gate before its oracle')"
      else
      s"""WITH $vCte,
         |$residualReconCtes,
         |$adcFullScanShortSql
         |$annRerankCtes
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin),
    // x27b: x27's chain with assignment + reconstruction under the
    // STASHED trained codebook (the x24b rotation pattern). An EMPTY
    // stash must replay LOUDLY, never as a structurally-valid empty
    // codebook whose NULL reconstructions would read as a mysterious
    // hash mismatch.
    "x27b_trained_pq_recall" ->
      (if (lastTrainedPqBook.isEmpty)
        "SELECT error('x27b: trained codebook not stashed — run the gate before its oracle')"
      else
      s"""WITH $vCte,
         |$trainedPqReconCtes,
         |$adcFullScanShortSql
         |$annRerankCtes
         |$annExactTruthCtes
         |$annMetricTailSql""".stripMargin),
    "x10_pq_adc_topk" ->
      s"""WITH $vCte,
         |$pqReconCtes,
         |sims AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |    ROUND(list_dot_product(q.emb, r.rv), 6) AS adc_sim
         |  FROM v q CROSS JOIN recon r
         |  WHERE q.vec_id < 10 AND r.vec_id <> q.vec_id)
         |SELECT query_id, rank, neighbor_id, adc_sim FROM (
         |  SELECT query_id, neighbor_id, adc_sim,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_sim DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
}
