package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection over word-shingled documents —
  * the standard shingle → minhash signature → band-bucket join pipeline
  * used by large-scale training-data dedup.
  *
  * All arithmetic is integer and built from codegen'd expressions so the
  * DuckDB oracle can reproduce it bit-for-bit:
  *  - shingle → int: first 8 hex chars of md5, mod 100003
  *  - k hash functions h_i(x) = (a_i·x + b_i) mod 1000003 (products stay
  *    ≪ 2^63 — both engines are overflow-free)
  *  - signature = per-doc min of each h_i; bands of `rowsPerBand` hashed
  *    with md5; candidate pairs share any (band, bandHash) bucket;
  *    candidates are then verified with EXACT shingle Jaccard.
  *
  * Scale: the shingle explode is map-side; the signature groupBy shuffles
  * one row per (doc, shingle) with map-side combine down to one row per
  * doc; the bucket self-join is the LSH point — it replaces the quadratic
  * all-pairs join with per-bucket joins whose size is controlled by band
  * width. Exact verification touches only candidate pairs.
  */
object MinHash {
  val ShingleMod = 100003L
  val P = 1000003L
  val NumHashes = 16
  val RowsPerBand = 4

  /** Partition fan-out for the PERSISTED rep-index band layout
    * ([[graft.dedup.RepIndex.write]]): stored band rows carry
    * pbucket = band_hash mod ProbeBuckets as a partition column, so a
    * serving probe's band join prunes to its own (band, pbucket)
    * directories. bandCount × ProbeBuckets directories total — small
    * enough for any metastore, large enough that a single-doc probe
    * reads 1/ProbeBuckets of each band. */
  val ProbeBuckets = 16

  /** Deterministic hash-function constants (shared with the oracle SQL). */
  val A: Seq[Long] = Seq(7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67)
  val B: Seq[Long] = (0 until NumHashes).map(i => (104729L * i + 12345L) % P)

  /** (id, shingle) rows: distinct word n-grams per document. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol), explode(TextAnalysis.shingles(col(textCol), n)).as("shingle"))

  /** (id, shash) rows: shingles as 60-bit md5-derived longs. Set joins
    * (intersection counting) shuffle 8-byte keys instead of shingle
    * strings — same result on both engines since the oracle derives the
    * identical hash; collisions are ~2^-60 and, crucially, identical on
    * both sides. */
  def hashedShingleRows(shingles: DataFrame, idCol: String): DataFrame =
    // shingles are already distinct per doc (array_distinct upstream), so
    // no extra distinct shuffle; a within-doc hash collision would merge
    // two shingles identically on engine and oracle
    shingles.select(col(idCol),
      graft.plans.Md5Long60Expr.md5Long60(col("shingle")).as("shash"))

  /** Per-document minhash signature columns h0..h{k-1}, computed from the
    * hashed-shingle rows (x = shash mod ShingleMod) so the md5 per shingle
    * is paid once for the whole LSH pipeline. */
  def signatures(hashedShingles: DataFrame, idCol: String): DataFrame = {
    // pmod, not %: matches MinHashSigExpr's floorMod on the full long
    // domain (identical on the md5-derived non-negative inputs)
    val x = pmod(col("shash"), lit(ShingleMod))
    val hashed = hashedShingles.select(
      col(idCol) +: (0 until NumHashes).map(i => ((lit(A(i)) * x + lit(B(i))) % P).as(s"h$i")): _*)
    hashed.groupBy(col(idCol))
      .agg(min(col("h0")).as("h0"), (1 until NumHashes).map(i => min(col(s"h$i")).as(s"h$i")): _*)
  }

  /** Source-pair overlap MATRIX — the corpus-mixing data card: one
    * minhash signature per GROUP (source/domain/snapshot) instead of per
    * doc, then pairwise estimated Jaccard from component agreement
    * (Broder 1997: P[h_min agrees] = J). The answer a mixture designer
    * needs before weighting sources (c6): which corpora largely restate
    * each other.
    *
    * Scale shape: per-group state is NumHashes longs (128 B) REGARDLESS
    * of corpus size — one combine-enabled min-aggregate over the shingle
    * pass, then a |groups|² self-join of a control-plane-sized frame.
    * The estimate is integer ppm (n_agree·62500), engine-exact. */
  def groupOverlapMatrix(docs: DataFrame, groupCol: String, textCol: String,
                         n: Int): DataFrame = {
    // persist: the |groups|-row signature frame feeds BOTH self-join
    // sides — without it the corpus-sized shingle pass runs twice
    val sig = signatures(hashedShingleRows(shingleRows(docs, groupCol, textCol, n),
        groupCol), groupCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sig.select(col(groupCol).as("source_a") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = sig.select(col(groupCol).as("source_b") +:
      (0 until NumHashes).map(i => col(s"h$i").as(s"b$i")): _*)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), agree.as("n_agree"))
      .withColumn("est_jaccard_ppm", col("n_agree") * lit(1000000L / NumHashes))
  }

  /** Band-mix modulus and multiplier: acc stays < MixMod ≈ 1e9, so each
    * fold step peaks ≈ 1e12 — overflow-free under ANSI on both engines.
    * An 8-byte join key instead of an md5 string; mix collisions only cost
    * extra (exactly-verified) candidates, never correctness. */
  val MixMod = 1000000007L
  val MixMul = 1009L

  /** (id, band, band_hash) rows from a signature frame: band hash is a
    * mod-reduced polynomial fold of the band's minhashes.
    *
    * `rowsPerBand` is the LSH RECALL KNOB (the x15-nProbe analogue for
    * text): a pair with Jaccard s collides with probability
    * 1−(1−s^r)^(16/r), so narrower bands (smaller r) raise recall at the
    * cost of more candidates to verify — the dial a pipeline turns as
    * duplication density grows. Because in-order bands of width 2r are
    * unions of adjacent width-r bands, candidate sets are NESTED:
    * cand(r=8) ⊆ cand(r=4) ⊆ cand(r=2) ⊆ cand(r=1) — recall is monotone
    * in the knob BY CONSTRUCTION, not just in expectation
    * (LshBandKnobSpec pins it; verification stays exact either way, so
    * precision is 1 at every setting). */
  def bandRows(sig: DataFrame, idCol: String,
               rowsPerBand: Int = RowsPerBand): DataFrame = {
    require(rowsPerBand >= 1 && NumHashes % rowsPerBand == 0,
      s"rowsPerBand must divide NumHashes=$NumHashes, got $rowsPerBand")
    val nb = NumHashes / rowsPerBand
    val bands = (0 until nb).map { b =>
      val mix = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
        .reduce((acc, h) => (acc * lit(MixMul) + h) % lit(MixMod))
      struct(lit(b).as("band"), mix.as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bands: _*)).as("bh"))
      .select(col(idCol), col("bh.band"), col("bh.band_hash"))
  }

  /** (id, sharr) rows: the document's distinct shingles as an array of
    * 60-bit md5-derived longs — ONE ROW PER DOCUMENT. The array form keeps
    * the whole signature computation map-side: no shingle explode, no
    * shuffle, one md5 pass per shingle. */
  def hashedShingleArray(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
      transform(TextAnalysis.shingles(col(textCol), n),
        s => graft.plans.Md5Long60Expr.md5Long60(s)).as("sharr"))

  /** [[hashedShingleArray]] over an already-tokenized array column — the
    * shared-tokenize-pass entry point (identical values: shingling from
    * the same token array the text would split into). */
  def hashedShingleArrayFromTokens(toksDf: DataFrame, idCol: String,
                                   toksCol: String, n: Int): DataFrame =
    toksDf.select(col(idCol),
      transform(TextAnalysis.shinglesFromTokens(col(toksCol), n),
        s => graft.plans.Md5Long60Expr.md5Long60(s)).as("sharr"))

  /** Signature columns h0..h{k-1} computed map-side from the shingle array:
    * h_i = min over shingles of (a_i·(shash mod ShingleMod) + b_i) mod P.
    * Identical values to the explode+groupBy form ([[signatures]]) with
    * zero shuffle — at corpus scale this turns the signature stage from a
    * full (doc, shingle)-row shuffle into a narrow map. The k mins are
    * computed in ONE pass over the shingle array by the native codegen'd
    * kernel [[graft.plans.MinHashSigExpr]] (the `array_min(transform(...))`
    * composition walks the array k times on the boxing HOF path). */
  def signaturesFromArray(sharr: DataFrame, idCol: String): DataFrame = {
    val sig = graft.plans.Exprs.toColumn(graft.plans.MinHashSigExpr(
      graft.plans.Exprs.toExpression(col("sharr")), A, B, ShingleMod, P))
    sharr.select(col(idCol), sig.as("sig"))
      .select(col(idCol) +: (0 until NumHashes).map(i => col("sig")(i).as(s"h$i")): _*)
  }

  /** Exact Jaccard for candidate pairs against the ARRAY form: two joins
    * re-attach each side's shingle array (AQE broadcasts the candidate
    * side, so the big frame is never shuffled), then the intersection is a
    * single hash-set `array_intersect` per pair — no explode, no
    * per-shingle shuffle, work strictly proportional to candidate count. */
  def verifyJaccardArrays(pairs: DataFrame, sharr: DataFrame, idCol: String): DataFrame =
    pairs
      .join(sharr.select(col(idCol).as("id_a"), col("sharr").as("sh_a")), "id_a")
      .join(sharr.select(col(idCol).as("id_b"), col("sharr").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))

  /** Full pipeline: LSH candidates → exact verification → threshold.
    *
    * Plan shape (the 100 TB story): the per-doc shingle-array frame is
    * computed once (persisted, one md5 pass); signatures and set sizes
    * derive from it MAP-SIDE (no explode, no shuffle). The only shuffles
    * left are the band-bucket self-join (the LSH point) and the
    * candidate-driven verification joins, both proportional to candidate
    * count, not corpus size. */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 2, threshold: Double = 0.7,
                     rowsPerBand: Int = RowsPerBand): DataFrame =
    nearDuplicatesFromArray(
      hashedShingleArray(docs, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      idCol, threshold, rowsPerBand)

  /** [[nearDuplicates]] over a PREBUILT (ideally persisted)
    * [[hashedShingleArray]] frame — lets a caller pay the per-shingle md5
    * once and share it between the LSH pipeline and other consumers
    * (d12's recall harness derives its exact ground truth from the same
    * arrays). A caller that already holds the frame's [[bandRows]] (at
    * the same `rowsPerBand`) hands them in as `precomputedBands`, so the
    * signature kernel runs once, not once per consumer — the
    * [[nearDuplicatesArraysAgainstBands]] `probeBandRows` convention. */
  def nearDuplicatesFromArray(sharr: DataFrame, idCol: String,
                              threshold: Double = 0.7,
                              rowsPerBand: Int = RowsPerBand,
                              precomputedBands: Option[DataFrame] = None): DataFrame = {
    val pairs = {
      val bands = precomputedBands.getOrElse(
        bandRows(signaturesFromArray(sharr, idCol), idCol, rowsPerBand))
      val l = bands.select(col(idCol).as("id_a"), col("band"), col("band_hash"))
      val r = bands.select(col(idCol).as("id_b"), col("band"), col("band_hash"))
      l.join(r, Seq("band", "band_hash")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
    }
    verifyJaccardArrays(pairs, sharr, idCol)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Asymmetric LSH: near-duplicates of `newDocs` AGAINST `oldDocs` —
    * dedup of an incoming batch against a prior corpus snapshot (the
    * cross-crawl-dump dedup every production pipeline runs: RefinedWeb /
    * Dolma style "is this new page a near-copy of anything we already
    * kept?"). Same signature/banding/verification machinery as
    * [[nearDuplicates]], but the band join is new×old only: old↔old and
    * new↔new pairs are never generated or verified.
    *
    * Scale shape: the old snapshot's band rows are a pure function of its
    * shingle arrays — at corpus scale they are computed once per snapshot
    * and PERSISTED as the dedup index (a parquet table keyed by
    * (band, band_hash)); each incoming batch then costs one map pass over
    * the batch plus a join against the index, proportional to batch size
    * and bucket collisions — re-scanning (or re-pairing) the historical
    * corpus never happens. Verification re-attaches both sides' shingle
    * arrays by id (AQE broadcasts the candidate side).
    *
    * PRECONDITION: `idCol` is unique within each input (the d1 exact-dedup
    * contract every caller here already satisfies). A duplicated old-side
    * id would emit one verified pair PER copy — the pre-round-14 path
    * hid that with a dropDuplicates(id) it paid on every call; the
    * normalized layout asserts the contract instead of re-paying it. */
  def nearDuplicatesAgainst(newDocs: DataFrame, oldDocs: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 2, threshold: Double = 0.7,
                            rowsPerBand: Int = RowsPerBand): DataFrame = {
    val shOld = hashedShingleArray(oldDocs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the NORMALIZED layout directly (band rows and arrays as separate
    // frames): when both halves are derived fresh from shOld, building
    // the denormalized [[snapshotIndex]] only to split it again paid a
    // bands×sharr join (shuffling each doc's array once per band) plus a
    // dropDuplicates shuffle — values identical by construction, the
    // denormalized frame IS this pair joined (round-14 optimization;
    // callers holding a STORED index still go through
    // [[nearDuplicatesAgainstIndex]]).
    nearDuplicatesArraysAgainstBands(
      hashedShingleArray(newDocs, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      bandRows(signaturesFromArray(shOld, idCol), idCol, rowsPerBand),
      shOld, idCol, threshold, rowsPerBand)
  }

  /** The persisted form of a snapshot's dedup index: one row per document
    * with its shingle array AND its LSH band rows exploded alongside —
    * `(id, sharr, band, band_hash)`. Write this frame as parquet when a
    * crawl snapshot is finalized; every later batch dedups against the
    * stored index without touching the snapshot's text again.
    *
    * This is a PIPELINE-INTERNAL frame, not the serving tier: it is
    * denormalized (each doc's array repeated once per band) and its
    * stored form has no partition-pruned probe layout. Long-lived
    * SERVING goes through [[graft.dedup.RepIndex]], which owns the
    * normalized layout, the (band, pbucket)-partitioned store with the
    * modulus pinned in the artifact, and the pruned `searchStored`
    * probe — use that when probes outlive the pipeline run. */
  def snapshotIndex(oldSharr: DataFrame, idCol: String,
                    rowsPerBand: Int = RowsPerBand): DataFrame =
    bandRows(signaturesFromArray(oldSharr, idCol), idCol, rowsPerBand)
      .join(oldSharr, idCol)
      .select(col(idCol), col("sharr"), col("band"), col("band_hash"))

  /** INCREMENTAL snapshot-index maintenance — the LSH member of the
    * round-9 append trio (BM25 [[graft.text.Bm25.appendToIndex]], IVF
    * `Cosine.ivfAppendCells`): fold a finalized batch's rows into a
    * (possibly parquet-stored) [[snapshotIndex]] without re-reading the
    * indexed snapshot. Index rows are PER-DOCUMENT pure functions of
    * each doc's shingle array, so with disjoint batch ids (the d10/c9
    * batch contract) the append is the exact rebuild:
    * `append(batch, index(old)) ≡ snapshotIndex(old ∪ batch)` row for
    * row — d15_index_append gates a search over the appended index
    * against d10's fresh-index oracle verbatim. Cost: one batch-sized
    * signature pass; nothing snapshot-sized is read. */
  def appendToSnapshotIndex(batchSharr: DataFrame, storedIndex: DataFrame,
                            idCol: String,
                            rowsPerBand: Int = RowsPerBand): DataFrame =
    storedIndex.unionByName(snapshotIndex(batchSharr, idCol, rowsPerBand))

  /** TOMBSTONE deletes for the stored snapshot index — the reference's
    * soft-delete algebra (tables.py:224-254) completing the d10/c9
    * "re-indexing a doc means delete + append" contract: index rows are
    * per-document pure functions, so removing a doc's rows by id IS the
    * rebuild-without-it, exactly (no global state to adjust — contrast
    * [[graft.text.Bm25.deleteFromIndex]]'s df/stats subtraction). The
    * result is a lazy view: serve through it for soft delete, or write
    * it to compact the tombstones away. Ids absent from the index are
    * ignored (idempotent). */
  def deleteFromSnapshotIndex(tombstones: DataFrame, storedIndex: DataFrame,
                              idCol: String): DataFrame =
    storedIndex.join(tombstones.select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** [[nearDuplicatesAgainst]] against a prebuilt [[snapshotIndex]] frame
    * (freshly computed or read back from storage — `IndexRoundTripSpec`
    * pins the parquet round trip decision-identical). Only the incoming
    * batch is shingled/signed here; the index side is used as-is. */
  def nearDuplicatesAgainstIndex(newDocs: DataFrame, oldIndex: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int = 2, threshold: Double = 0.7,
                                 rowsPerBand: Int = RowsPerBand): DataFrame =
    nearDuplicatesArraysAgainstIndex(
      hashedShingleArray(newDocs, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      oldIndex, idCol, threshold, rowsPerBand)

  /** [[nearDuplicatesAgainstIndex]] with the batch side already in
    * shingle-array form (callers should persist `shNew` — its band rows
    * and the verification join both consume it). */
  /** NOTE: a stored index's band rows are width-specific — search with
    * the same `rowsPerBand` the index was built (and appended) with. */
  def nearDuplicatesArraysAgainstIndex(shNew: DataFrame, oldIndex: DataFrame,
                                       idCol: String,
                                       threshold: Double = 0.7,
                                       rowsPerBand: Int = RowsPerBand): DataFrame =
    nearDuplicatesArraysAgainstBands(shNew,
      oldIndex.select(col(idCol), col("band"), col("band_hash")),
      oldIndex.select(col(idCol), col("sharr")).dropDuplicates(idCol),
      idCol, threshold, rowsPerBand)

  /** [[nearDuplicatesArraysAgainstIndex]] over the NORMALIZED index
    * layout — band rows (id, band, band_hash) and shingle arrays
    * (id, sharr) as SEPARATE frames with one sharr row per doc. The
    * denormalized [[snapshotIndex]] carries each doc's array once per
    * band (×4 at the default width): ~4× the index bytes, and every
    * search pays a `dropDuplicates` shuffle over array rows before the
    * verification join. Serving tiers that own their storage layout
    * (RepIndex) store the normalized form and skip both. Values are
    * identical by construction (the denormalized entry point now
    * DELEGATES here after splitting + deduping — the existing d10/d15
    * gates pin it). */
  def nearDuplicatesArraysAgainstBands(shNew: DataFrame, oldBands: DataFrame,
                                       oldSharr: DataFrame, idCol: String,
                                       threshold: Double = 0.7,
                                       rowsPerBand: Int = RowsPerBand,
                                       probeBuckets: Int = ProbeBuckets,
                                       probeBandRows: Option[DataFrame] = None): DataFrame = {
    // when oldBands comes from the PARTITIONED serving layout (it carries
    // the pbucket partition column), compute the same pure function of
    // band_hash on the probe side and include it in the equi-join keys:
    // filters nothing (pbucket is determined by band_hash) but lets
    // dynamic partition pruning cut the stored scan to the probe's
    // (band, pbucket) directories. `probeBuckets` must be the modulus the
    // STORED side was written under (RepIndex pins it in the artifact) —
    // a mismatched modulus would silently drop cross-bucket collisions
    val pruned = oldBands.columns.contains("pbucket")
    val pb = pmod(col("band_hash"), lit(probeBuckets.toLong)).cast("int")
    // a caller that already materialized the probe's band rows (the
    // stored-serving collect-once pattern — RepIndex.searchStored) hands
    // them in so the signature kernel runs once, not once per consumer
    val bNew0 = probeBandRows
      .getOrElse(bandRows(signaturesFromArray(shNew, idCol), idCol, rowsPerBand))
      .select(col(idCol).as("id_new"), col("band"), col("band_hash"))
    val bNew = if (pruned) bNew0.withColumn("pbucket", pb) else bNew0
    val oldCols = Seq(col(idCol).as("id_old"), col("band"), col("band_hash")) ++
      (if (pruned) Seq(col("pbucket")) else Nil)
    val bOld = oldBands.select(oldCols: _*)
    val keys = if (pruned) Seq("band", "pbucket", "band_hash")
               else Seq("band", "band_hash")
    // caller-MATERIALIZED probes (the stored-serving collect-once path)
    // are driver-sized by construction — broadcast them EXPLICITLY so
    // the partitioned stored scan streams (at corpus scale it could
    // never be the broadcast side): without the hint, the planner may
    // broadcast the (locally small) stored side, and the stored scan
    // becomes the shuffled side (measured: 64/64 partitions scanned at
    // sf1 before the hint). In-plan probes — batch-scale, over-cap, or
    // the unpruned read+search path — leave the build side to the
    // planner: an over-cap probe is exactly the one that must NOT be
    // forced into a broadcast (its pruning, when any, rides the static
    // literal filters already applied to `oldBands`, not the join).
    val pairs = (if (pruned && probeBandRows.isDefined) broadcast(bNew)
                 else bNew).join(bOld, keys)
      .filter(col("id_new") =!= col("id_old"))
      .select(col("id_new"), col("id_old")).distinct()
    pairs
      .join(shNew.select(col(idCol).as("id_new"), col("sharr").as("sh_a")), "id_new")
      .join(oldSharr.select(col(idCol).as("id_old"), col("sharr").as("sh_b")), "id_old")
      .select(col("id_new"), col("id_old"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard near-dups WITHOUT LSH: inverted-index join of all
    * co-shingled pairs. Shingles appearing in more than `maxDf` documents
    * are pruned from BOTH sides of the Jaccard (numerator and sets) —
    * document-frequency pruning is the standard exact-ish variant that
    * keeps the inverted-index join linear-ish at corpus scale: without it,
    * one stop-shingle shared by f docs contributes f² join pairs. */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, maxDf: Int = 20): DataFrame =
    coShingledPairs(docs, idCol, textCol, n, maxDf)
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Exact CONTAINMENT pairs: score = |A∩B| / min(|A|, |B|) — the subset
    * detector Jaccard structurally misses (a short doc fully embedded in
    * a long one has containment 1 but Jaccard ≈ |short|/|long|): quote
    * farms, truncated mirrors, doc-in-doc boilerplate (Broder 1997
    * defines both resemblance AND containment for exactly this reason).
    * Same inverted-index shape and df guard as [[exactJaccardPairs]];
    * at 100 TB the candidate stage swaps in the LSH bands as usual. */
  def exactContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double, maxDf: Int = 20): DataFrame =
    coShingledPairs(docs, idCol, textCol, n, maxDf)
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))

  /** The inverted-index join behind [[exactJaccardPairs]] and
    * [[exactContainmentPairs]]: every co-shingled pair `id_a < id_b` with
    * its shared-shingle count `inter` and the set sizes `n_a`, `n_b`, all
    * over the shingles of document frequency ≤ `maxDf`. */
  private def coShingledPairs(docs: DataFrame, idCol: String, textCol: String,
                              n: Int, maxDf: Int): DataFrame = {
    val sh0 = hashedShingleRows(shingleRows(docs, idCol, textCol, n), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // document frequency via aggregate + join-back: the aggregate combines
    // map-side and its output (distinct surviving shingles, 8-byte keys) is
    // small enough for AQE to broadcast the join — unlike a count window,
    // which shuffles AND SORTS every (doc, shingle) row
    val dfc = sh0.groupBy(col("shash")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("shash"))
    val sh = sh0.join(dfc, "shash")
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col(idCol).as("id_a"), col("shash"))
    val b = sh.select(col(idCol).as("id_b"), col("shash"))
    val inter = a.join(b, "shash").filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed(idCol, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed(idCol, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
  }
}
