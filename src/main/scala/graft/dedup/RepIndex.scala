package graft.dedup

import scala.util.Using

import graft.ops.{Artifact, ParquetOpen}
import graft.ops.Checkpoint.Releasables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REPRESENTATIVE-ONLY LSH serving index — the composition of the append
  * family's three dedup members ([[MinHash.appendToSnapshotIndex]] band
  * rows, [[Clusters.appendLabels]] incremental components) into the form
  * a long-lived serving tier actually wants: the stored index holds ONE
  * member per near-dup cluster (its min-label representative), not every
  * raw document.
  *
  * Why this exists (SCALE.md, the d15 decade cell): a raw snapshot index
  * does verification work proportional to TRUE-DUPLICATE MASS — on a 10×
  * duplicated corpus every incoming doc band-collides with all ~10 copies
  * of its cluster, so the measured append cost grew 18.5× at 10× rows ×
  * 10× dup density. Indexing only representatives caps both the index
  * size and the per-doc verification fan-out at the CLUSTER count, which
  * duplication density does not inflate: the same probe's work tracks
  * batch × clusters-matched, not batch × duplicate mass.
  *
  * The semantics are rep-mediated BY DESIGN, stated honestly: an incoming
  * doc is compared against cluster representatives only, so a doc whose
  * similarity to a cluster is witnessed solely by a NON-representative
  * member is not linked to it (for near-dup thresholds the members of a
  * cluster are mutually similar, so the gap is small — the recall/cost
  * trade every production rep-index makes). The d17 gate therefore
  * replays exactly these semantics in its oracle: old-snapshot clusters →
  * reps → rep-mediated batch fold → rep-mediated search, all rebuilt from
  * scratch in SQL — a green row proves the INCREMENTAL path introduced
  * and lost nothing versus that from-scratch replay.
  *
  * Exactness of the incremental fold: min-label representatives survive
  * appends with no history — a merged component's new minimum is the
  * least of its members' ids, and every candidate minimum (the old
  * clusters' reps, the batch's ids) is at hand: old NON-rep members
  * exceed their cluster minimum by construction, so they can never become
  * the rep of a merged cluster during an APPEND. Retired reps leave the
  * index by an id semi-join; promoted reps enter with band/array rows
  * computed from the batch's arrays (per-doc pure functions, so the
  * maintained index equals the one built fresh over the current reps
  * row-for-row — RepIndexSpec pins it).
  *
  * DELETES ([[delete]]) complete the lifecycle (the soft-delete algebra
  * of reference `tables.py:224-254`, re-expressed for a rep-mediated
  * index): tombstoning a REPRESENTATIVE promotes its cluster's next-min
  * surviving member, whose shingle array the state retains in the cold
  * member store `marr` exactly for this moment — non-rep arrays are
  * never read by build/append/search, only by rep promotion on delete. */
object RepIndex {

  /** Serving state: `labels` — (id, cluster_id) for EVERY indexed doc,
    * min-rooted (cluster_id = component minimum; docs with no near-dup
    * label themselves) — plus the rep index in NORMALIZED layout:
    * `bands` (id, band, band_hash) and `sharr` (id, sharr), one sharr
    * row per doc, REPRESENTATIVES ONLY (the docs with id ==
    * cluster_id) — and `marr`, the COLD member-array store (id, sharr)
    * of the NON-rep members (disjoint from `sharr`; together they cover
    * every indexed doc). `marr` exists solely so [[delete]] can promote
    * a tombstoned rep's next-min member without re-reading the corpus;
    * the hot serving path (band join + verification) never touches it,
    * so index probe work stays bounded by CLUSTER count. Normalized
    * because the serving tier owns this layout: the denormalized
    * [[MinHash.snapshotIndex]] carries each doc's shingle array once per
    * band (~4× the stored bytes) and pays a dropDuplicates shuffle
    * before every verification join; the normalized form stores each
    * array once and skips both. All frames are plain parquet-writable
    * ([[write]]/[[read]]); `bands` is written partitioned by (band,
    * probe bucket) so a serving probe prunes to its own partitions.
    *
    * MAINTAINED states ([[append]]/[[delete]] results) hold four
    * checkpointed LEAVES: each op materializes what it returns (eager
    * `localCheckpoint` — `persist` would keep the logical lineage, the
    * reason [[Clusters]] checkpoints its fixpoint rounds), so the next op
    * and every search plan over a constant-size tree whatever the
    * history — the ops reference the prior state's frames several times
    * each, and left lazy a k-op fold's plan grows exponentially in k
    * (RepIndexSpec pins the bound). The blocks belong to whoever holds
    * the state; [[release]] frees them. */
  final case class State(labels: DataFrame, bands: DataFrame, sharr: DataFrame,
                         marr: DataFrame)

  /** The maintained state whose labels leaf is `labels`, the other three
    * frames materialized the same way. */
  private def leaves(labels: DataFrame, bands: DataFrame, sharr: DataFrame,
                     marr: DataFrame): State = {
    val Seq(b, s, m) = graft.ops.Checkpoint.leaves(bands, sharr, marr)
    State(labels, b, s, m)
  }

  /** Frees the checkpoint blocks behind a state [[append]] or [[delete]]
    * returned, once its holder is done with it (written out, or
    * superseded by a later op's materialized result). Only bare
    * checkpoint leaves are released: a [[build]]/[[read]] state's frames
    * are plans over inputs the caller owns, and are left alone. */
  def release(state: State): Unit =
    graft.ops.Checkpoint.releaseLeaves(state.labels, state.bands, state.sharr,
      state.marr)

  /** Build the serving state from a finalized snapshot's shingle-array
    * frame (persist `sharr` — the pair detection and the rep band rows
    * both consume it). Pair detection within the snapshot is the full
    * LSH pipeline; from then on the snapshot's text is never needed. */
  def build(sharr: DataFrame, idCol: String, threshold: Double = 0.7,
            rowsPerBand: Int = MinHash.RowsPerBand): State = {
    val pairs = MinHash.nearDuplicatesFromArray(sharr, idCol, threshold, rowsPerBand)
    val comps = Clusters.connectedComponentsAdaptive(pairs)
    val labels = sharr.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val reps = labels.filter(col("id") === col("cluster_id"))
      .select(col("id").as(idCol))
    val repSharr = sharr.join(reps, Seq(idCol), "left_semi")
    State(labels,
      MinHash.bandRows(MinHash.signaturesFromArray(repSharr, idCol),
        idCol, rowsPerBand),
      repSharr.select(col(idCol), col("sharr")),
      sharr.join(reps, Seq(idCol), "left_anti")
        .select(col(idCol), col("sharr")))
  }

  /** Fold a finalized batch (ids DISJOINT from the indexed docs — the
    * d10/c9 batch contract) into the state WITHOUT reading the old
    * corpus: new pairs are discovered rep-mediated (batch vs the stored
    * rep index) plus within the batch itself; labels fold via
    * [[Clusters.appendLabels]] (stored rows are star edges, so merged
    * components are exact); the index keeps surviving reps' rows and
    * adds freshly computed rows for promoted/novel batch reps.
    *
    * Cost shape: one batch-sized signature pass + a band join against a
    * CLUSTER-sized index + a fixpoint over |stored-touched| + |new|
    * star/pair edges. Nothing proportional to the old corpus — and
    * nothing proportional to its duplication density. The batch's
    * arrays, band rows and pairs are materialized once, shared by every
    * consumer, and released when the op returns. The returned
    * frames are checkpointed leaves ([[State]]): the op's plan size
    * depends on its inputs, never on how many ops produced `state`, and
    * `state` itself stays intact (its blocks remain the caller's). */
  def append(batchSharr: DataFrame, state: State, idCol: String,
             threshold: Double = 0.7,
             rowsPerBand: Int = MinHash.RowsPerBand): State =
    Using.Manager { use =>
      // the batch is computed ONCE: its arrays and its band rows (one
      // signature pass) are materialized here and shared by both pair
      // detections and the promoted reps' index rows
      val batch = use(batchSharr.select(col(idCol), col("sharr")).localCheckpoint(true))
      val batchBands = use(MinHash.bandRows(MinHash.signaturesFromArray(batch, idCol),
        idCol, rowsPerBand).localCheckpoint(true))
      val vsReps = MinHash.nearDuplicatesArraysAgainstBands(
          batch, state.bands, state.sharr, idCol, threshold, rowsPerBand,
          probeBandRows = Some(batchBands))
        .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
      val within = MinHash.nearDuplicatesFromArray(
          batch, idCol, threshold, rowsPerBand, precomputedBands = Some(batchBands))
        .select(col("id_a"), col("id_b"))
      // materialized: the fold reads the pairs twice (its edges and its
      // self-loop singletons), and pair detection must run once
      val pairs = use(vsReps.unionByName(within).localCheckpoint(true))
      val (touched, fixpoint) = Clusters.appendLabelsWithFixpoint(
        state.labels, pairs)
      // batch docs with no near-dup anywhere become their own clusters
      val novel = batch.select(col(idCol).as("id"))
        .join(touched.select(col("id")), Seq("id"), "left_anti")
        .withColumn("cluster_id", col("id"))
      // materialized HERE, before the five references below
      val labels = touched.unionByName(novel).localCheckpoint(true)
      // the fixpoint's final checkpoint is superseded by `labels` — release
      // it through its own handle, never through `touched`, whose plan also
      // holds the caller's `state.labels` blocks
      graft.ops.Checkpoint.release(fixpoint)
      val repIds = labels.filter(col("id") === col("cluster_id"))
        .select(col("id").as(idCol))
      // surviving old reps keep their stored rows; retired reps (their
      // cluster merged under a smaller minimum) drop out of the semi joins
      // and their arrays MOVE to the cold member store (delete support —
      // a later tombstone may promote them back); promoted/novel reps are
      // batch docs, so their rows come from the batch's arrays and bands
      leaves(labels,
        state.bands.join(repIds, Seq(idCol), "left_semi")
          .unionByName(batchBands.join(repIds, Seq(idCol), "left_semi")),
        state.sharr.join(repIds, Seq(idCol), "left_semi")
          .unionByName(batch.join(repIds, Seq(idCol), "left_semi")),
        state.marr
          .unionByName(state.sharr.join(repIds, Seq(idCol), "left_anti"))
          .unionByName(batch.join(repIds, Seq(idCol), "left_anti")))
    }.get

  /** TOMBSTONE deletes — the rep-index member of the r7 delete family
    * (BM25 `Bm25.deleteFromIndex`, LSH `MinHash.deleteFromSnapshotIndex`,
    * IVF `Cosine.ivfDeleteCells`), and the hard one: removing a
    * REPRESENTATIVE must promote its cluster's next-min surviving member
    * into the serving index, and that member's shingle array lives in
    * the cold store `marr` (never the corpus — the whole delete runs
    * from stored state; PlanShapeSpec pins the same property for r7).
    *
    * Semantics (stated honestly, as with the rep-mediated append):
    * clusters are equivalence classes established at ingest — a delete
    * removes members but does NOT re-litigate connectivity among the
    * survivors (the star-edge state holds no pair graph to re-run). The
    * surviving cluster re-roots at its minimum member; every index row
    * is a per-doc pure function, so the maintained index equals the one
    * built fresh over the surviving reps row-for-row (RepIndexSpec pins
    * it, and the d19 gate replays delete → re-root → promote → search
    * from scratch in SQL).
    *
    * Cost shape: anti joins on the tombstone ids + one min per TOUCHED
    * cluster (clusters that lost no member pass through un-aggregated —
    * [[deleteDelta]] semi-joins the tombstoned ids' cluster_ids first,
    * and every join against the tombstone set broadcasts) + a signature
    * pass over PROMOTED members only — nothing shuffled proportional to
    * the corpus or the index. Idempotent: re-deleting the same ids is a
    * no-op. Returns checkpointed leaves, as [[append]] does: the new
    * cold store alone references the old one twice (directly and
    * through the promoted members), which left lazy would double its
    * plan on every delete. */
  def delete(tombstones: DataFrame, state: State, idCol: String,
             rowsPerBand: Int = MinHash.RowsPerBand): State = {
    val tId = tombstones.select(col(idCol))
    val (labels, promoted) = deleteDelta(tombstones, state, idCol)
    leaves(labels,
      state.bands.join(tId, Seq(idCol), "left_anti")
        .unionByName(MinHash.bandRows(
          MinHash.signaturesFromArray(promoted, idCol), idCol, rowsPerBand)),
      state.sharr.join(tId, Seq(idCol), "left_anti")
        .unionByName(promoted.select(col(idCol), col("sharr"))),
      state.marr.join(tId, Seq(idCol), "left_anti")
        .join(promoted.select(col(idCol)), Seq(idCol), "left_anti"))
  }

  /** The delete's two NEW frames — the full re-rooted label set and the
    * PROMOTED members' arrays — shared by [[delete]] (which composes the
    * whole State) and the streaming delete sink (which writes the labels
    * as its new labels base and the promoted rows as segment additions),
    * so the batch and streamed forms cannot drift. Re-rooting touches
    * ONLY clusters that actually lost a member: the tombstoned ids'
    * cluster_ids are semi-joined out first (a cluster's minimum can only
    * change when a member leaves), so untouched labels pass through with
    * no aggregation — the one groupBy runs over touched clusters alone. */
  private[graft] def deleteDelta(tombstones: DataFrame, state: State,
                                 idCol: String): (DataFrame, DataFrame) = {
    val t = tombstones.select(col(idCol).as("id"))
    val touched = state.labels.join(t, Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val surv = state.labels.join(t, Seq("id"), "left_anti")
    // one min per TOUCHED cluster (a minimum can only change when a
    // member leaves): the aggregate runs over touched clusters'
    // survivors only, and the tiny root map broadcasts back over the
    // label scan — untouched rows keep their root through the coalesce.
    val newRoots = surv.join(touched, Seq("cluster_id"), "left_semi")
      .groupBy(col("cluster_id")).agg(min(col("id")).as("new_root"))
    // materialized: the plan above references `state.labels` twice, and
    // the rep ids, the promoted rows and both callers' writes read it
    val labels = surv.join(newRoots, Seq("cluster_id"), "left")
      .select(col("id"),
        coalesce(col("new_root"), col("cluster_id")).as("cluster_id"))
      .localCheckpoint(true)
    val repIds = labels.filter(col("id") === col("cluster_id"))
      .select(col("id").as(idCol))
    // promoted reps were non-reps: their arrays come from the cold store
    (labels, state.marr.join(repIds, Seq(idCol), "left_semi"))
  }

  /** Serving search: near-dup CLUSTERS of each query doc — (id_new,
    * id_old = representative, jaccard). Verification fan-out is bounded
    * by matched clusters, not matched documents. */
  def search(querySharr: DataFrame, state: State, idCol: String,
             threshold: Double = 0.7,
             rowsPerBand: Int = MinHash.RowsPerBand): DataFrame =
    MinHash.nearDuplicatesArraysAgainstBands(
      querySharr, state.bands, state.sharr, idCol, threshold, rowsPerBand)

  /** Persist the state. `bands` is written PARTITIONED by (band,
    * pbucket = band_hash mod [[MinHash.ProbeBuckets]]) — the stored-side
    * half of the serving wall-clock story: [[searchStored]] collects the
    * probe's (band, pbucket) pairs and applies them as STATIC partition
    * filters, so the listing reads only the probe's directories instead
    * of every band row (PlanShapeSpec pins the pruned scan). The bucket count is PINNED in
    * the artifact (`config`) and probes read it from there — a probe
    * bucketing under a different modulus would silently drop every
    * cross-bucket collision if the constant is ever retuned. Edge: an
    * EMPTY band frame (all docs deleted) is written unpartitioned —
    * partitionBy writes no directories for zero rows and the read-back
    * would fail schema inference; the plain layout keeps the schema and
    * [[searchStored]] degrades to the (trivially empty) unpruned join. */
  def write(state: State, dir: String): Unit = {
    state.labels.write.mode("overwrite").parquet(s"$dir/labels")
    graft.ops.StoreWrite.partitioned(state.bands, s"$dir/bands",
      "band" -> col("band"),
      "pbucket" -> pmod(col("band_hash"), lit(MinHash.ProbeBuckets.toLong)).cast("int"))
    state.sharr.write.mode("overwrite").parquet(s"$dir/sharr")
    state.marr.write.mode("overwrite").parquet(s"$dir/marr")
    Artifact.commit(state.labels.sparkSession, dir, Config, Seq(MinHash.ProbeBuckets))
  }

  /** The probe-bucket modulus a stored index was written under.
    * Artifacts persisted before the config sidecar existed were all
    * written under the then-constant [[MinHash.ProbeBuckets]] — absence
    * falls back to it rather than failing every pre-existing index. */
  private val Config = Artifact.Sidecar("config", 1 to 1,
    orElse = Some(Seq(MinHash.ProbeBuckets)))

  /** Canonical in-memory state (pbucket is a storage detail — dropped so
    * maintenance unions stay schema-stable). Serving probes that want
    * partition pruning go through [[searchStored]] instead.
    *
    * Artifacts persisted before the cold member store existed have no
    * `marr` directory — those stay readable (empty-frame fallback,
    * mirroring the `config` fallback) and serve/append exactly as they
    * always did; only delete-time rep PROMOTION needs marr rows, and a
    * pre-marr state holds none to promote from — a delete over one
    * drops a tombstoned rep's cluster from the index instead of
    * promoting (rebuild the artifact to regain promotion). */
  def read(spark: SparkSession, dir: String): State = {
    // the partitioned layout appends (band, pbucket) after the data
    // columns and infers their types from directory names — restore the
    // canonical (id, band, band_hash) order and band's int type
    val b0 = ParquetOpen(spark, s"$dir/bands")
    val idName = b0.columns.filterNot(Set("band", "band_hash", "pbucket")).head
    val sharr = ParquetOpen(spark, s"$dir/sharr")
    val marrPath = new org.apache.hadoop.fs.Path(s"$dir/marr")
    val marr =
      if (marrPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(marrPath)) ParquetOpen(spark, s"$dir/marr")
      else sharr.limit(0)
    State(ParquetOpen(spark, s"$dir/labels"),
      b0.select(col(idName), col("band").cast("int"), col("band_hash")),
      sharr, marr)
  }

  /** Serving search over the PERSISTED layout: the probe's distinct
    * (band, pbucket) pairs become STATIC partition filters on the band
    * scan — the listing reads ≤ bandCount × |probe-hashes| of the
    * [[MinHash.ProbeBuckets]] × bandCount directories instead of the
    * full index — and the probe side still computes pbucket as an
    * equi-join key. Value-identical to [[search]] over [[read]]: pbucket
    * is a pure function of band_hash, so neither the filter nor the
    * extra key drops a collision. Point/serving probes materialize their
    * band rows once on the driver (filter + join side from one job);
    * probes past [[ServingProbeRowCap]] degrade GRACEFULLY — only the
    * geometry-bounded distinct pairs ever reach the driver, the probe
    * side stays in-plan — so a batch-sized probe cannot blow the driver.
    * (Batch-scale analytical scans with no pruning need can still go
    * through [[read]] + [[search]].) */
  /** Probe band rows above this count stop materializing on the driver:
    * the partitioned path falls back to collecting ONLY the distinct
    * (band, pbucket) pairs — bounded by index GEOMETRY (bandCount ×
    * modulus), never by probe size — and keeps the probe side fully
    * in-plan. 64k rows ≈ a few MB of (id, band, hash) longs: generous
    * for every serving shape, tiny for a driver. */
  val ServingProbeRowCap: Int = 1 << 16

  def searchStored(spark: SparkSession, querySharr: DataFrame, dir: String,
                   idCol: String, threshold: Double = 0.7,
                   rowsPerBand: Int = MinHash.RowsPerBand,
                   probeCollectCap: Int = ServingProbeRowCap): DataFrame = {
    val bands = ParquetOpen(spark, s"$dir/bands")
    // torn-artifact guard: an in-place rewrite that crashed between the
    // bands write and the config rename leaves bands bucketed under a
    // DIFFERENT modulus than the config claims — the pruned equi-join
    // would then silently drop cross-bucket collisions. One row per
    // (band, pbucket) LEAF directory ([[Artifact.guard]]), paid once per
    // (dir, config) in this process, not per probe
    val mod = Artifact.openWith(spark, dir, Config) { cfg =>
      if (bands.columns.contains("pbucket"))
        Artifact.guard(spark, s"$dir/bands", Seq("band", "pbucket"), "hashes bucketed as")(
          pmod(col("band_hash"), lit(cfg.head.toLong)).cast("int"), _(1).toInt)
    }._1.head
    // STATIC partition pruning: collect the probe's distinct
    // (band, pbucket) pairs — at most bandCount × min(mod, |probe
    // hashes|) ints, a handful for a point probe — and apply them as
    // literal partition filters, so the file LISTING itself skips every
    // other directory. Deliberately not dynamic partition pruning: DPP's
    // optimizer insertion needs a visible selective Filter on the probe
    // lineage and its runtime execution needs a reusable broadcast — a
    // cached/persisted probe (the common serving shape) has neither, and
    // the dynamic filter silently degrades to a full scan (measured at
    // sf1: 64/64 partitions read, zero byte savings, while the initial
    // plan still printed the dynamicpruning expression). The pair
    // collect is one tiny job over the probe's band rows — the same
    // serving-latency class as the probe itself.
    // PARTITIONED store, probe within [[ServingProbeRowCap]]:
    // collect-once — ONE driver job evaluates the probe's signature
    // kernel (the expensive stage — NumHashes minhash evaluations per
    // shingle); the literal partition filters AND the band-join probe
    // side both come from the same materialized rows (the Bm25/IVF/
    // prefix stored convention — the join side re-parallelizes the
    // collected rows, so nothing re-runs the kernel). Probe OVER the
    // cap: the driver materializes only the distinct (band, pbucket)
    // PAIRS — bounded by index geometry, never probe size — and the
    // probe side stays fully in-plan (one extra in-plan signature pass,
    // the price of keeping pruning without unbounded driver state).
    // FLAT (pre-upgrade) store: no partition filters to build, so the
    // probe stays fully in-plan — a batch-sized probe against a flat
    // store must not materialize on the driver for zero pruning.
    if (bands.columns.contains("pbucket")) {
      val bandRowsDf = MinHash.bandRows(
          MinHash.signaturesFromArray(querySharr, idCol), idCol, rowsPerBand)
        .select(col(idCol), col("band"), col("band_hash"))
      // limit(cap+1) both detects the over-cap case and, under the cap,
      // IS the full row set (≤ cap rows exist, the limit returned all)
      val (probeFrame, head) =
        Artifact.collectOnce(spark, bandRowsDf.limit(probeCollectCap + 1))
      val sharr = ParquetOpen(spark, s"$dir/sharr")
      def pruneTo(pairs: Array[(Int, Int)]): DataFrame = {
        val pred = pairs.map { case (b, p) =>
          col("band") === b && col("pbucket") === p
        }.reduceOption(_ || _).getOrElse(lit(false))
        bands.filter(pred)
      }
      if (head.length <= probeCollectCap) {
        val pairs = head
          .map(r => (r.getInt(1),
            (((r.getLong(2) % mod) + mod) % mod).toInt)) // pmod, as written
          .distinct
        MinHash.nearDuplicatesArraysAgainstBands(querySharr, pruneTo(pairs),
          sharr, idCol, threshold, rowsPerBand,
          probeBuckets = mod, probeBandRows = Some(probeFrame))
      } else {
        val pairs = bandRowsDf
          .select(col("band"),
            pmod(col("band_hash"), lit(mod.toLong)).cast("int").as("p"))
          .distinct().collect()
          .map(r => (r.getInt(0), r.getInt(1)))
        MinHash.nearDuplicatesArraysAgainstBands(querySharr, pruneTo(pairs),
          sharr, idCol, threshold, rowsPerBand, probeBuckets = mod)
      }
    } else
      MinHash.nearDuplicatesArraysAgainstBands(querySharr, bands,
        ParquetOpen(spark, s"$dir/sharr"), idCol, threshold, rowsPerBand,
        probeBuckets = mod)
  }
}
