package graft.text

import scala.util.Using

import graft.ops.{Artifact, ParquetOpen}
import graft.ops.Checkpoint.Releasables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval (Robertson/Spärck Jones; the Lucene `+1` idf
  * form) — the SPARSE counterpart of the dense ANN family (x1/x4/x15):
  * score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf_d(t)·(k1+1) /
  *                             (tf_d(t) + k1·(1 − b + b·|d|/avg|d|)).
  *
  * Engine-exact scoring (the t18 integer recipe): every PER-TERM
  * contribution is a chain of deterministic scalar double ops (ln /
  * multiply / divide are correctly rounded and identical on any IEEE
  * engine given identical inputs), fixed to integer MICRO units before
  * the per-(query, doc) SUM — integer sums are associative, so scores
  * and the rank order cannot drift with partition merge order or engine.
  *
  * Scale shape: one corpus tokenize pass → (doc, term, tf) postings; df
  * and the (N, avglen) stats are combine-enabled aggregates (stats
  * broadcast as a 1-row frame); candidate scoring is an equi-join of the
  * query terms against the postings keyed on the TERM — the inverted
  * index. `minIdfMicro` is the WAND-flavored pruning knob: terms whose
  * idf falls at/below it (the near-stopwords whose postings dominate
  * join fan-out but contribute least) are dropped from BOTH sides.
  * The PRODUCTION DEFAULT is [[DefaultMinIdfMicro]] (0.2 nats),
  * oracle-gated by r1b/r2/r3; pass 0 for the unpruned reference scoring
  * (r1's gate configuration). What the knob controls is the JOIN
  * FAN-OUT, which grows with corpus × stopword/duplication density:
  * on the stopword-planted stress corpus (SCALE.md, round-9
  * "Measurement CORRECTION") the scored (query-term, posting) rows are
  * cut 36.4% (13.8M → 8.8M for 10 probes over 50k docs) with top-1
  * unchanged; on corpora whose
  * hottest term sits below the cutoff the filter is a structural no-op
  * (the measurement is the deterministic row count — wall-clock at
  * this scale is host-drift-bound, the round-9 measurement lesson).
  *
  * The index (postings + doclen + 1-row stats) is a first-class value:
  * [[buildIndex]]/[[writeIndex]]/[[readIndex]] persist it to parquet so
  * serving queries probe the STORED index without re-tokenizing the
  * corpus — the lexical twin of the persisted IVF path (IvfIndexSpec). */
object Bm25 {

  /** Production idf-pruning cutoff in micro-nats: 0.2 nats, which under
    * the Lucene +1 idf form drops terms appearing in ≳82% of documents
    * — true stopwords, whose postings fan the candidate join out to
    * ~|corpus| rows per query. Measured (SCALE.md, round-9
    * "Measurement CORRECTION"): −36.4% scored join rows on the
    * stopword-planted stress corpus, top-1 hits unchanged; a no-op
    * where no term crosses the cutoff
    * (the sf testdata vocabulary tops out at df 80.4%, so the r1b gate
    * is value-identical to r1 at sf0.01 — the pruning MECHANISM is
    * spec-gated by Bm25PruneSpec's planted stopword instead). */
  val DefaultMinIdfMicro: Long = 200000L

  /** The inverted index: postings (did, term, tf), doclen (did, dl),
    * dfreq (term, df), stats (one row: n_docs, total_len). df is part of
    * the INDEX, not the search: recomputing it per query batch would pay
    * a postings-sized aggregate at serving time. [[buildIndex]] persists
    * `postings` (doclen/dfreq/stats all derive from it); a fold
    * ([[appendToIndex]], [[deleteFromIndex]]) returns four checkpointed
    * leaves; [[readIndex]] and the lazy [[appendIndexes]] merge hold no
    * blocks. Who releases them: [[graft.ops.Checkpoint]]. */
  case class Index(postings: DataFrame, doclen: DataFrame, dfreq: DataFrame,
                   stats: DataFrame)

  def buildIndex(corpus: DataFrame, idCol: String, textCol: String): Index = {
    val toks = filter(TextAnalysis.tokens(col(textCol)), t => t =!= "")
    val postings = corpus
      .select(col(idCol).as("did"), explode(toks).as("term"))
      .groupBy(col("did"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val doclen = postings.groupBy(col("did")).agg(sum(col("tf")).as("dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = doclen.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    Index(postings, doclen, dfreq, stats)
  }

  /** Postings partition-bucket count for the stored layout: postings are
    * written partitioned by `tbucket = pmod(xxhash64(term), TermBuckets)`
    * so a serving probe's scan lists only its query terms' directories
    * ([[searchStored]]) instead of the whole postings store — the lexical
    * twin of the RepIndex (band, pbucket) layout. The value is PINNED in
    * the artifact's `config` sidecar; probes read it from there (a probe
    * bucketing under a different modulus would prune away real
    * postings). */
  val TermBuckets = 64

  /** Materialize the index — what a serving tier loads instead of the
    * corpus. Postings are partitioned by the [[TermBuckets]] term bucket
    * (the [[searchStored]] pruning axis); doclen/dfreq/stats stay plain
    * (doclen is id-keyed, dfreq prunes by the pushed In(term) filter,
    * stats is 1 row). Edge: an EMPTY index (fresh empty build, or every
    * doc deleted) writes postings unpartitioned — partitionBy writes no
    * directories for zero rows and the read-back would fail schema
    * inference ([[graft.ops.StoreWrite.partitioned]]). Emptiness is
    * judged from the POSTINGS rows themselves, not from a derived stat:
    * an Index assembled outside [[buildIndex]] can carry n_docs > 0 over
    * zero postings rows (every doc tokenizing to nothing), and
    * partitioning on zero rows would leave an unreadable layout behind a
    * healthy-looking stat. */
  def writeIndex(idx: Index, dir: String): Unit = {
    // clustered by the partition key so each tbucket directory gets one
    // file per writer (StoreWrite — guide §6 file sizing; measured
    // 353 → 64 files on the sf0.01 tree)
    graft.ops.StoreWrite.partitioned(idx.postings, s"$dir/postings",
      "tbucket" -> pmod(xxhash64(col("term")), lit(TermBuckets.toLong)).cast("int"))
    idx.doclen.write.mode("overwrite").parquet(s"$dir/doclen")
    idx.dfreq.write.mode("overwrite").parquet(s"$dir/dfreq")
    idx.stats.write.mode("overwrite").parquet(s"$dir/stats")
    Artifact.commit(idx.postings.sparkSession, dir, Config, Seq(TermBuckets))
  }

  /** The pre-partitioning flat layout — for SEGMENT deltas
    * (StreamingIndexMaintenance), whose readLatest merges many segment
    * roots in ONE multi-path scan: parquet partition discovery requires
    * a single base path, so partitioned segment roots would fail the
    * merged read outright (CONFLICTING_DIRECTORY_STRUCTURES). Segments
    * are data-plane deltas, never listing-pruned serving artifacts —
    * pruned serving reads a [[writeIndex]]-compacted artifact through
    * [[searchStored]]. */
  private[graft] def writeIndexPlain(idx: Index, dir: String): Unit = {
    idx.postings.write.mode("overwrite").parquet(s"$dir/postings")
    idx.doclen.write.mode("overwrite").parquet(s"$dir/doclen")
    idx.dfreq.write.mode("overwrite").parquet(s"$dir/dfreq")
    idx.stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** The term-bucket modulus a stored index was written under. Artifacts
    * persisted before the partitioned layout existed have no config —
    * they are unpartitioned, [[searchStored]] detects that from the
    * schema and degrades to the unpruned (still In-filtered) scan. */
  private val Config = Artifact.Sidecar("config", 1 to 1, orElse = Some(Seq(TermBuckets)))

  /** Canonical in-memory index (tbucket is a storage detail — dropped so
    * append/delete folds stay schema-stable). Serving probes that want
    * partition pruning go through [[searchStored]] instead. */
  def readIndex(spark: SparkSession, dir: String): Index = Index(
    ParquetOpen(spark, s"$dir/postings").select(
      col("did"), col("term"), col("tf")),
    ParquetOpen(spark, s"$dir/doclen"),
    ParquetOpen(spark, s"$dir/dfreq"),
    ParquetOpen(spark, s"$dir/stats"))

  /** Top-k search over a (possibly stored) index. Query docs may overlap
    * the corpus: self-hits (`qid == did`) are excluded. */
  def searchIndex(queries: DataFrame, idx: Index, idCol: String,
                  textCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
                  minIdfMicro: Long = DefaultMinIdfMicro): DataFrame = {
    val toks = filter(TextAnalysis.tokens(col(textCol)), t => t =!= "")
    val qterms = queries
      .select(col(idCol).as("qid"), explode(array_distinct(toks)).as("term"))
    score(qterms, idx, k, k1, b, minIdfMicro)
  }

  /** The ONE scoring tail every search form rides ([[searchIndex]],
    * [[searchStored]]) — the decontaminateTail convention: forms that
    * share the tail cannot drift apart in arithmetic. `qterms` is the
    * exploded (qid, term) probe frame. */
  private def score(qterms: DataFrame, idx: Index, k: Int, k1: Double,
                    b: Double, minIdfMicro: Long): DataFrame = {
    // idf in micro-nats: ln(1 + (N - df + 0.5)/(df + 0.5)), > 0 always
    val idfMicro = round(
      log(lit(1.0) + (col("n_docs").cast("double") - col("df") + 0.5d)
        / (col("df") + 0.5d)) * 1000000, 0).cast("long")
    val terms = idx.dfreq.crossJoin(broadcast(idx.stats))
      .select(col("term"), idfMicro.as("idf_micro"),
        col("n_docs"), col("total_len"))
      .filter(col("idf_micro") > minIdfMicro)
    // per-term contribution fixed to micro units BEFORE the per-pair sum
    val avgdl = col("total_len").cast("double") / col("n_docs")
    val sat = (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    val contrib = round((col("idf_micro").cast("double") / 1000000.0d) * sat
      * 1000000, 0).cast("long")
    val scored = qterms
      .join(terms, "term")
      .join(idx.postings, "term")
      .filter(col("qid") =!= col("did"))
      .join(idx.doclen, "did")
      .withColumn("c_micro", contrib)
      .groupBy(col("qid"), col("did"))
      .agg(sum(col("c_micro")).as("score_micro"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("did").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("did").as("doc_id"), col("score_micro"))
  }

  /** Serving search over the PERSISTED layout: the probe docs' distinct
    * terms become LITERAL filters on the postings scan — their
    * [[TermBuckets]] buckets prune the directory listing (static
    * partition filters), the terms themselves prune parquet row groups
    * (pushed In) — so a point probe reads ≤ |probe terms| of the
    * bucketed directories instead of the whole postings store. The
    * dfreq scan prunes by the same pushed In(term); doclen joins by
    * candidate doc id as always; the 1-row stats read whole.
    * Value-identical to [[searchIndex]] over [[readIndex]]: scoring is
    * the shared [[score]] tail, and a term the probe doesn't carry can
    * never contribute (the qterms join is inner on term), so neither
    * filter drops a contribution. Intended for point/serving probes
    * (the probe's terms collect to the driver — a serving-sized list);
    * batch-scale analytical probes go through [[readIndex]] +
    * [[searchIndex]], whose plan never materializes the term set.
    *
    * Artifacts written before the partitioned layout are detected from
    * the schema (no tbucket column) and served with the In-filtered but
    * listing-unpruned scan — same results, pre-upgrade cost. */
  def searchStored(spark: SparkSession, queries: DataFrame, dir: String,
                   idCol: String, textCol: String, k: Int, k1: Double = 1.2,
                   b: Double = 0.75,
                   minIdfMicro: Long = DefaultMinIdfMicro): DataFrame = {
    val p0 = ParquetOpen(spark, s"$dir/postings")
    val partitioned = p0.columns.contains("tbucket")
    // torn-artifact guard: a crashed in-place rewrite can leave postings
    // bucketed under a DIFFERENT modulus than the config claims — the
    // bucket filter would then silently prune real postings. One row per
    // tbucket directory ([[Artifact.guard]]), paid once per (dir, config)
    val mod = Artifact.openWith(spark, dir, Config) { cfg =>
      if (partitioned)
        Artifact.guard(spark, s"$dir/postings", Seq("tbucket"), "terms bucketed as")(
          pmod(xxhash64(col("term")), lit(cfg.head.toLong)).cast("int"), _.head.toInt)
    }._1.head
    val toks = filter(TextAnalysis.tokens(col(textCol)), t => t =!= "")
    val qtermsDf = queries
      .select(col(idCol).as("qid"), explode(array_distinct(toks)).as("term"),
        pmod(xxhash64(col("term")), lit(mod.toLong)).cast("int").as("tbucket"))
    // one driver job materializes the probe: the literal filters and the
    // join side must come from the SAME term set
    val (probe, qrows) = Artifact.collectOnce(spark, qtermsDf)
    val qterms = probe.select(col("qid"), col("term"))
    val terms = qrows.map(_.getString(1)).distinct.toSeq
    val buckets = qrows.map(_.getInt(2)).distinct.toSeq
    val postings =
      if (terms.isEmpty)
        p0.select(col("did"), col("term"), col("tf")).limit(0)
      else if (partitioned)
        p0.filter(col("tbucket").isin(buckets: _*)
            && col("term").isin(terms: _*))
          .select(col("did"), col("term"), col("tf"))
      else
        p0.filter(col("term").isin(terms: _*))
          .select(col("did"), col("term"), col("tf"))
    val dfreq = ParquetOpen(spark, s"$dir/dfreq")
    val dfreqF =
      if (terms.isEmpty) dfreq.limit(0)
      else dfreq.filter(col("term").isin(terms: _*))
    score(qterms,
      Index(postings, ParquetOpen(spark, s"$dir/doclen"), dfreqF,
        ParquetOpen(spark, s"$dir/stats")),
      k, k1, b, minIdfMicro)
  }

  def topK(queries: DataFrame, corpus: DataFrame, idCol: String,
           textCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
           minIdfMicro: Long = DefaultMinIdfMicro): DataFrame =
    searchIndex(queries, buildIndex(corpus, idCol, textCol), idCol, textCol,
      k, k1, b, minIdfMicro)

  /** INCREMENTAL index maintenance: fold a new document batch into a
    * (possibly parquet-stored) index without re-reading the indexed
    * corpus — the daily-batch serving workflow (the c9/t30 pattern
    * applied to retrieval). Every index component is an associative
    * aggregate, so the merge is exact, not approximate:
    * postings/doclen rows are per-document (batch ids must be DISJOINT
    * from indexed ids — the d10/c9 batch contract; re-indexing a doc
    * means delete + append), dfreq merges by per-term df sum, stats by
    * component sum. Therefore
    * `appendToIndex(batch, buildIndex(old)) ≡ buildIndex(old ∪ batch)`
    * bit-for-bit — r4_bm25_increment hash-gates exactly that identity
    * against the full-rebuild DuckDB oracle, and Bm25IndexSpec pins it
    * through a parquet round trip. Cost: one batch-sized tokenize pass
    * plus one pass over the index components, whose merge is
    * MATERIALIZED (eager `localCheckpoint` leaves, the RepIndex.State
    * rule); the indexed corpus' text is never read. Every later search
    * and fold then reads blocks instead of re-running this fold and the
    * ones before it, so its plan is the same size whatever the history
    * (Bm25IndexSpec pins the bound). */
  def appendToIndex(batch: DataFrame, idx: Index, idCol: String,
                    textCol: String): Index = {
    val b = buildIndex(batch, idCol, textCol)
    Using.resource(b.postings)(_ => materialize(appendIndexes(b, idx)))
  }

  /** TOMBSTONE deletes — the reference's soft-delete algebra
    * (tables.py:224-254: rows flip to inactive, they are never removed)
    * applied to the stored index, completing the documented
    * "re-indexing a doc means delete + append" contract
    * ([[appendToIndex]]). Every index component's contribution from a
    * deleted doc is recoverable FROM THE INDEX ITSELF (no text re-read):
    * postings/doclen rows anti-join away by id; per-term df loses the
    * deleted docs' posting count; the 1-row stats lose their doc count
    * and length sum. All integer subtractions of associative sums, so
    * `deleteFromIndex(t, buildIndex(all)) ≡ buildIndex(all ∖ t)`
    * bit-for-bit, BM25 scores included — r7_bm25_delete gates a search
    * over the tombstoned index against the rebuild-without-deleted
    * oracle, and Bm25IndexSpec pins delete + re-append round trips.
    *
    * The returned frames are materialized leaves, as [[appendToIndex]]'s
    * are, and the stored parquet stays untouched (the reference's
    * status-flip semantics): serve from them for soft delete,
    * [[writeIndex]] them to compact the tombstones away, and [[release]]
    * them when done. A per-read serving view that must own no blocks
    * (StreamingIndexMaintenance.readLatest) folds through the lazy
    * [[deleteIndexes]] core instead. Ids absent from the index are
    * ignored (idempotent re-delivery of a delete batch). Edge: deleting
    * EVERY doc leaves stats (0, 0) where a fresh empty build has a null
    * total_len — scoring against an empty index returns no rows either
    * way. */
  def deleteFromIndex(tombstones: DataFrame, idx: Index,
                      idCol: String): Index =
    materialize(deleteIndexes(tombstones, idx, idCol))

  /** The lazy algebra of [[deleteFromIndex]]: a plan over `idx` and the
    * tombstones that holds no blocks. */
  private[graft] def deleteIndexes(tombstones: DataFrame, idx: Index,
                                   idCol: String): Index = {
    val t = tombstones.select(col(idCol).as("did")).distinct()
    val deadDf = idx.postings.join(t, "did")
      .groupBy(col("term")).agg(count(lit(1)).as("ddf"))
    val dfreq = idx.dfreq.join(deadDf, Seq("term"), "left")
      .select(col("term"), (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
      .filter(col("df") > 0) // terms only the deleted docs carried vanish
    val deadStats = idx.doclen.join(t, "did")
      .agg(count(lit(1)).as("dn"), coalesce(sum(col("dl")), lit(0L)).as("dlen"))
    val stats = idx.stats.crossJoin(deadStats)
      .select((col("n_docs") - col("dn")).as("n_docs"),
        (col("total_len") - col("dlen")).as("total_len"))
    Index(idx.postings.join(t, Seq("did"), "left_anti"),
      idx.doclen.join(t, Seq("did"), "left_anti"),
      dfreq, stats)
  }

  /** The lazy merge algebra of [[appendToIndex]], with the batch side
    * already indexed: a plan over both inputs that holds no blocks of
    * its own. State that is kept and folded again goes through
    * [[appendToIndex]], which materializes it. */
  def appendIndexes(b: Index, idx: Index): Index =
    Index(
      idx.postings.unionByName(b.postings),
      idx.doclen.unionByName(b.doclen),
      idx.dfreq.unionByName(b.dfreq)
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      idx.stats.unionByName(b.stats)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_len")).as("total_len")))

  /** A fold's result: every component an eager `localCheckpoint` leaf. */
  private def materialize(idx: Index): Index = {
    val Seq(p, d, f, s) = graft.ops.Checkpoint.leaves(idx.postings, idx.doclen,
      idx.dfreq, idx.stats)
    Index(p, d, f, s)
  }

  /** Frees the checkpoint blocks behind an index [[appendToIndex]] or
    * [[deleteFromIndex]] returned, once its holder is done with it
    * (written out, or superseded by a later fold's result). Frames that
    * are not bare checkpoint leaves — a [[buildIndex]]/[[readIndex]]
    * index — are left alone. */
  def release(idx: Index): Unit =
    graft.ops.Checkpoint.releaseLeaves(idx.postings, idx.doclen, idx.dfreq,
      idx.stats)
}
