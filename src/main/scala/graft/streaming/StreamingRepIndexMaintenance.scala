package graft.streaming

import scala.util.Using

import graft.dedup.{MinHash, RepIndex}
import graft.ops.Checkpoint.Releasables._
import graft.ops.ParquetOpen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming maintenance for the REPRESENTATIVE-ONLY serving index
  * (twin #10 — the rep-index member of the streaming maintenance
  * family): each micro-batch of finalized documents folds into the
  * stored [[RepIndex.State]] via the same rep-mediated discovery the
  * batch path gates (d17), and BOTH transitions write sub-state bytes —
  * appends O(delta), deletes O(labels + delta) — never the
  * corpus-proportional member-array stores.
  *
  * Why deltas merge EXACTLY here (the LSM property the state's algebra
  * provides for free):
  *  - under APPENDS a node's cluster_id only DECREASES (components only
  *    merge, and the label is the component minimum) — so the label
  *    store is min-mergeable: each segment holds the batch's new/changed
  *    label rows, and `min(cluster_id) GROUP BY id` over the segments IS
  *    the current label of every node, order-free;
  *  - a DELETE breaks exactly that invariant (survivors re-root at a
  *    LARGER id — a stale smaller label in an old segment would win the
  *    min-merge and resurrect the deleted root), and ONLY that
  *    invariant: so a delete compacts the labels store alone — its
  *    `del<batchId>` segment carries the full re-rooted labels (2
  *    longs/doc, the lightest frame in the state) as a new LABELS BASE,
  *    and [[readLatest]] min-merges labels only from the newest base
  *    onward;
  *  - index rows (bands/sharr/marr) are per-doc pure functions, so they
  *    ride additions ∪-minus tombstones across BOTH transitions: appends
  *    write new reps' rows plus `retired` rep ids, deletes write the
  *    tombstoned ids as `deleted` plus the PROMOTED reps' rows
  *    (signatures recomputed from the cold member store — identical to
  *    the originals because the rows are pure). The one wrinkle is
  *    ORDER: a rep retired at segment k may be re-promoted by a delete
  *    at segment j > k, so a tombstone kills only rows written BEFORE
  *    it — append-segment rows take every tombstone (their rows always
  *    precede any tombstone that names them), while a delete segment's
  *    promoted rows take only tombstones from LATER segments. Delete
  *    segments are bounded by `maxSegments`, so the scoped read is a
  *    handful of anti-joins, not one per batch.
  *
  * Both reads are multi-path scans + aggregates/anti-joins; compaction
  * (live segments > maxSegments, or the explicit [[compact]]) rewrites
  * the RESOLVED state as a single segment. A delete batch itself is a
  * SOFT delete — the tombstoned rows stay in older segment files until a
  * compaction + [[Segments.prune]] rewrites them away, which is the
  * caller's retention-policy call (the GDPR hard-delete step), not a
  * per-batch cost. Crash safety and re-delivery idempotence come from
  * the shared [[Segments]] manifest (durable commit, high-water batch
  * id).
  * StreamingRepIndexSpec pins the streamed state ≡ the batch
  * build/append/delete path (and through it the d17/d19 oracles),
  * re-delivery no-ops, rep retirement across waves, delete-time
  * promotion (including re-promotion of a RETIRED rep — the ordering
  * case above), and the o(state) delete write shape. */
object StreamingRepIndexMaintenance {

  /** The current serving state, merged-on-read from the live segments.
    *
    * Labels: min-merged from the newest DELETE segment onward (a delete
    * writes a full re-rooted LABELS BASE; older segments' labels are
    * dead — their smaller minima would resurrect deleted roots). Index
    * rows: additions minus tombstones, scoped by write order (see the
    * object scaladoc) — `retired` and `deleted` ids kill only rows from
    * EARLIER segments, which for append-segment rows means every
    * tombstone and for a delete segment's promoted rows means tombstones
    * from later segments only. The cold member store (`marr` — non-rep
    * arrays, kept for delete-time rep promotion) is additions minus
    * deleted ids minus the CURRENT reps, distinct by id (a member
    * promoted by one delete and retired again by a later append is
    * re-added to the cold store — same pure array, so the dedup is
    * exact). Pre-upgrade segments without a `marr`/`deleted` directory
    * read as empty (existence-filtered paths). Lazy throughout: the
    * append fold never materializes marr. */
  def readLatest(spark: SparkSession, dir: String, idCol: String): RepIndex.State = {
    val names = Segments.live(dir)
    require(names.nonEmpty, s"no committed segments under $dir")
    val paths = names.map(n => s"$dir/$n")
    val isDel = names.map(_.startsWith("del"))
    val all = names.indices

    val baseIdx = isDel.lastIndexOf(true) match { case -1 => 0; case i => i }
    val labels = ParquetOpen(spark,
        (baseIdx until names.size).map(i => s"${paths(i)}/labels"): _*)
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))

    def anti(f: DataFrame, ps: Seq[String]): DataFrame = {
      val ex = ps.filter(p => new java.io.File(p).exists())
      if (ex.isEmpty) f
      else f.join(ParquetOpen(spark, ex: _*), Seq(idCol), "left_anti")
    }
    def tombsAfter(i: Int): Seq[String] =
      ((i + 1) until names.size).flatMap(j =>
        Seq(s"${paths(j)}/retired", s"${paths(j)}/deleted"))
    val allTombs = all.flatMap(i =>
      Seq(s"${paths(i)}/retired", s"${paths(i)}/deleted"))

    // bands/sharr: append-segment additions take every tombstone; each
    // delete segment's promoted rows take only LATER tombstones
    def indexRead(part: String): DataFrame = {
      val appends = all.filterNot(isDel).map(i => s"${paths(i)}/$part")
      val base = anti(ParquetOpen(spark, appends: _*), allTombs)
      all.filter(isDel).foldLeft(base) { (acc, i) =>
        acc.unionByName(
          anti(ParquetOpen(spark, s"${paths(i)}/$part"), tombsAfter(i)))
      }
    }
    val sharr = indexRead("sharr")
    val marrAdds = all.filterNot(isDel).map(i => s"${paths(i)}/marr")
      .filter(p => new java.io.File(p).exists())
    val marr0 = if (marrAdds.isEmpty) sharr.limit(0)
                else ParquetOpen(spark, marrAdds: _*)
    val deleted = all.map(i => s"${paths(i)}/deleted")
    val marr = anti(marr0, deleted)
      .join(sharr.select(col(idCol)), Seq(idCol), "left_anti")
      .dropDuplicates(Seq(idCol))
    RepIndex.State(labels, indexRead("bands"), sharr, marr)
  }

  /** The foreachBatch function: fold `batch` (idCol + textCol document
    * rows, ids disjoint from everything already folded) into the stored
    * state, writing only the delta. Wire as
    * `ds.writeStream.foreachBatch(sink(spark, dir, "doc_id", "text")() _)`. */
  def sink(spark: SparkSession, dir: String, idCol: String, textCol: String,
           n: Int = 2, threshold: Double = 0.7,
           rowsPerBand: Int = MinHash.RowsPerBand, maxSegments: Int = 8)(
           batch: DataFrame, batchId: Long): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // released per micro-batch, after the compaction the fold may
    // trigger; all persists are lazy, so a re-delivered (no-op) batch
    // never materializes them
    Using.Manager { use =>
      val sharrB = use(MinHash.hashedShingleArray(batch, idCol, textCol, n).persist(lvl))
      Segments.fold(dir, batchId, maxSegments) { seg =>
        val first = Segments.live(dir).isEmpty
        val prev =
          if (first) RepIndex.State(null, null, null, null)
          else {
            // the delta writes below are separate actions: cache the two
            // prev frames they share so the live segments are scanned once,
            // not once per write. The cold store is never read: the fold
            // only carries it forward (marr ∪ this batch's additions), so
            // folding over an EMPTY one leaves exactly the batch's cold
            // delta in next.marr
            val st = readLatest(spark, dir, idCol)
            RepIndex.State(use(st.labels.persist(lvl)), st.bands,
              use(st.sharr.persist(lvl)), st.sharr.limit(0))
          }
        // the append's leaves
        val next = use(
          if (first) RepIndex.build(sharrB, idCol, threshold, rowsPerBand)
          else RepIndex.append(sharrB, prev, idCol, threshold, rowsPerBand))
        // labels delta: rows new or changed this batch (cluster minima only
        // decrease, so stale rows in older segments lose the min-merge)
        val labelsDelta =
          if (first) next.labels
          else next.labels.join(prev.labels, Seq("id", "cluster_id"), "left_anti")
        labelsDelta.write.mode("overwrite").parquet(s"$seg/labels")
        // index delta: the batch's new rep rows + retired rep ids
        val newRepIds =
          if (first) next.sharr.select(col(idCol))
          else next.sharr.select(col(idCol))
            .join(prev.sharr.select(col(idCol)), Seq(idCol), "left_anti")
        next.bands.join(newRepIds, Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(s"$seg/bands")
        next.sharr.join(newRepIds, Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(s"$seg/sharr")
        // retired reps: old reps no longer in the rep store
        val retired =
          if (first) sharrB.select(col(idCol)).limit(0)
          else prev.sharr.select(col(idCol))
            .join(next.sharr.select(col(idCol)), Seq(idCol), "left_anti")
        retired.write.mode("overwrite").parquet(s"$seg/retired")
        // cold member-array delta: the batch's non-rep arrays, plus the
        // arrays of reps retired THIS batch (moving from the hot rep store
        // to the cold store so a later delete can promote them)
        next.marr.write.mode("overwrite").parquet(s"$seg/marr")
      } { cmp =>
        writeFull(readLatest(spark, dir, idCol), idCol, cmp)
      }
    }.get
  }

  /** Rewrite the RESOLVED state as one compacted segment (tombstones
    * empty — retirements and deletes are already applied by the
    * resolved read). */
  private def writeFull(st: RepIndex.State, idCol: String, seg: String): Unit = {
    st.labels.write.mode("overwrite").parquet(s"$seg/labels")
    st.bands.write.mode("overwrite").parquet(s"$seg/bands")
    st.sharr.write.mode("overwrite").parquet(s"$seg/sharr")
    st.sharr.select(col(idCol)).limit(0)
      .write.mode("overwrite").parquet(s"$seg/retired")
    st.marr.write.mode("overwrite").parquet(s"$seg/marr")
  }

  /** DELETE a tombstone batch from the streamed state, writing
    * O(labels + delta): the `del<batchId>` segment carries the full
    * re-rooted labels (the new LABELS BASE — the only store the
    * min-merge invariant forces to compact, at 2 longs/doc), the
    * PROMOTED reps' band/array rows (recovered from the cold member
    * store, exactly as the batch [[RepIndex.delete]] does — the two
    * paths share [[RepIndex.deleteDelta]]), and the tombstone ids. The
    * member-array stores (`sharr` additions, `marr`) are NOT rewritten —
    * a daily delete batch against a large corpus writes label-sized +
    * batch-sized bytes, not the state (spec-pinned by the segment's
    * contents).
    *
    * CONTRACT (shared with the BM25/LSH/IVF delete segments): batch ids
    * are monotone across the data and delete sinks, and a tombstoned id
    * may be RE-APPENDED only after a compaction has resolved its
    * tombstone — the live `deleted` union applies to every earlier
    * segment, and fresh index rows for a still-tombstoned id are not
    * distinguishable from the dead ones. Re-delivery is idempotent via
    * the high-water skip. */
  def deleteSink(spark: SparkSession, dir: String, idCol: String,
                 rowsPerBand: Int = MinHash.RowsPerBand, maxSegments: Int = 8)(
                 tombs: DataFrame, batchId: Long): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // released once the fold, and the compaction it may trigger, is done;
    // a re-delivered batch writes no segment and persists nothing
    Using.Manager { use =>
      Segments.fold(dir, batchId, maxSegments, kind = "del") { seg =>
        val st0 = readLatest(spark, dir, idCol)
        val st = RepIndex.State(use(st0.labels.persist(lvl)), st0.bands, st0.sharr,
          st0.marr)
        // labels come back materialized (written + feed the rep ids)
        val (labels, promoted0) = RepIndex.deleteDelta(tombs, st, idCol)
        use(labels)
        val promoted = use(promoted0.persist(lvl)) // two writes: bands + sharr
        labels.write.mode("overwrite").parquet(s"$seg/labels")
        MinHash.bandRows(MinHash.signaturesFromArray(promoted, idCol), idCol,
            rowsPerBand)
          .write.mode("overwrite").parquet(s"$seg/bands")
        promoted.select(col(idCol), col("sharr"))
          .write.mode("overwrite").parquet(s"$seg/sharr")
        tombs.select(col(idCol)).distinct()
          .write.mode("overwrite").parquet(s"$seg/deleted")
      } { cmp =>
        writeFull(readLatest(spark, dir, idCol), idCol, cmp)
      }
    }.get
  }

  /** Compact the live segments into one resolved `cmp` segment NOW — the
    * explicit entry point for (a) the retention-policy hard-delete step
    * (a delete batch is a soft delete until compaction +
    * [[Segments.prune]] rewrite the tombstoned rows away) and (b)
    * clearing a tombstone so its id may be re-appended (the
    * segment-protocol contract). No-op if the store is already a single
    * compacted segment. */
  def compact(spark: SparkSession, dir: String, idCol: String): Unit = {
    val m = Segments.latest(dir).getOrElse(
      throw new IllegalStateException(s"no committed segments under $dir"))
    if (m.segments != Seq(s"cmp${m.maxBatch}"))
      Segments.compact(dir, m.maxBatch)(
        writeFull(readLatest(spark, dir, idCol), idCol, _))
  }
}
