package graft.streaming

import scala.util.Using

import graft.ops.Checkpoint.Releasables._
import graft.ops.ParquetOpen
import graft.text.Bm25
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-committed SEGMENT directories — the one storage lifecycle of
  * the ten streaming index stores: the eight single-frame families that
  * ride [[FrameSegments]] (LSH, IVF, PQ, trained PQ, residual PQ, prefix,
  * SQ8, BQ), the BM25 store ([[StreamingIndexMaintenance]]) and the
  * RepIndex store ([[StreamingRepIndexMaintenance]]). Each family supplies
  * only how a segment is written and how the live segments read back;
  * the fold, compaction, high-water mark, live list and [[prune]] exist
  * here once, and callers use them directly.
  *
  * Layout: `dir/seg<batchId>/…` (one immutable directory per folded
  * micro-batch), `dir/del<batchId>/…` (a delete batch's segment, where a
  * store distinguishes them), `dir/cmp<batchId>/…` (a compaction's merged
  * segment), and `dir/manifest/m<seq>` — the COMMIT POINT. A manifest file lists
  * the live segment names plus the highest folded batch id; it is
  * committed through [[graft.ops.Commit.atomic]], so readers only ever
  * see fully-written manifests, and a crash mid-segment-write leaves an
  * unreferenced directory that [[prune]] sweeps — never a corrupt
  * serving index. Re-delivery of a crashed batch is detected from the
  * manifest's high-water mark (micro-batch ids are monotone), which
  * survives compaction retiring the batch's segment directory. */
object Segments {
  final case class Manifest(seq: Long, maxBatch: Long, segments: Seq[String])

  private def manifestDir(dir: String) = new java.io.File(dir, "manifest")

  private def parse(f: java.io.File): Option[Manifest] =
    try {
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      Some(Manifest(f.getName.drop(1).toLong, lines.get(0).toLong,
        scala.jdk.CollectionConverters.ListHasAsScala(
          lines.subList(1, lines.size)).asScala.toSeq))
    } catch { case _: Exception => None } // torn/empty file: not a manifest

  /** Newest PARSEABLE manifest. [[commit]] fsyncs the bytes and the
    * rename, so on a POSIX filesystem the newest manifest survives power
    * loss; the skip-unparsable fallback stays as defense-in-depth for
    * filesystems where the directory fsync is a no-op — a torn newest
    * file must not brick every read and every subsequent fold, so it is
    * skipped, falling back to the previous commit — exactly the state a
    * crash before the rename would have left. Caveat that fallback
    * inherits (the r7 delete contract): a manifest lost AFTER a
    * delete-compaction would resurrect tombstoned docs for readers of
    * the fallback manifest — the one case idempotent re-folding does not
    * heal, and the reason commit forces real durability instead of
    * relying on the fallback. */
  def latest(dir: String): Option[Manifest] = {
    val files = Option(manifestDir(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("m\\d+"))
      .sortBy(-_.getName.drop(1).toLong)
    files.iterator.flatMap(parse(_).iterator).nextOption()
  }

  /** The high-water batch id: the newest folded batch, -1 for an empty
    * store. A batch at or below it is a re-delivery. */
  def highWater(dir: String): Long = latest(dir).fold(-1L)(_.maxBatch)

  /** The live segment names, oldest first; empty for an empty store. */
  def live(dir: String): Seq[String] = latest(dir).fold(Seq.empty[String])(_.segments)

  /** Commit the next manifest through [[graft.ops.Commit.atomic]]: after
    * commit returns, the commit point is durable, not merely
    * atomic-for-concurrent-readers. */
  def commit(dir: String, maxBatch: Long, segments: Seq[String]): Unit = {
    val md = manifestDir(dir)
    md.mkdirs()
    val seq = latest(dir).fold(0L)(_.seq + 1)
    graft.ops.Commit.atomic(new java.io.File(md, s"m$seq").toPath,
      (maxBatch.toString +: segments).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** GC segments and manifests no current reader can need: keep the
    * newest `keepManifests` manifest files and every segment any of them
    * references (a reader that resolved the previous manifest just
    * before a compaction still has its segments on disk — the
    * pruneVersions keep≥2 contract). Unreferenced directories include
    * crashed partial segment writes — but ONLY those safely below the
    * writer's frontier: a `seg` or `del` directory is sweepable at/below
    * the kept high-water batch id (both are written BEFORE the commit
    * that raises maxBatch to their id, so an unreferenced one at the
    * high water is retired-by-compaction, never in-flight), while a
    * `cmp` directory is sweepable only STRICTLY below it — a compaction
    * writes `cmp<batchId>` AFTER committing maxBatch = batchId, so an
    * unreferenced cmp at exactly the high water may be mid-write by a
    * live fold, and deleting it would publish a manifest pointing at a
    * vanished directory (a crashed cmp at the high water is swept later,
    * once any subsequent batch raises the mark). Never runs implicitly:
    * deletion is the caller's policy call. */
  def prune(dir: String, keepManifests: Int = 2): Unit = {
    require(keepManifests >= 1)
    val md = manifestDir(dir)
    val manifests = Option(md.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.matches("m\\d+"))
      .sortBy(_.getName.drop(1).toLong)
    if (manifests.isEmpty) return
    val kept = manifests.takeRight(keepManifests)
    val parsed = kept.flatMap(parse)
    if (parsed.isEmpty) return // nothing trustworthy to anchor deletion on
    val live: Set[String] = parsed.flatMap(_.segments).toSet
    val highWater = parsed.map(_.maxBatch).max
    manifests.dropRight(keepManifests).foreach(_.delete())
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val sweepable = f.isDirectory && f.getName.matches("(seg|cmp|del)\\d+") &&
          !live(f.getName)
        val id = if (sweepable) f.getName.dropWhile(!_.isDigit).toLong
                 else Long.MaxValue
        sweepable &&
          (if (f.getName.startsWith("cmp")) id < highWater else id <= highWater)
      }
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  /** The shared fold protocol (re-delivery skip → write one immutable
    * segment `<kind><batchId>` → commit → [[compact]] past
    * `maxSegments`), implemented ONCE: the stores differ only in how a
    * segment's contents are written and how the live set compacts,
    * passed in as callbacks. `kind` is `seg` for data and `del` for a
    * store whose delete segments read differently (RepIndex). */
  def fold(dir: String, batchId: Long, maxSegments: Int, kind: String = "seg")(
      writeSegment: String => Unit)(writeCompacted: String => Unit): Unit = {
    if (batchId <= highWater(dir)) return
    val name = s"$kind$batchId"
    writeSegment(s"$dir/$name")
    val segs = live(dir) :+ name
    commit(dir, batchId, segs)
    if (segs.size > maxSegments) compact(dir, batchId)(writeCompacted)
  }

  /** Collapse the live segments into one: `writeCompacted` writes the
    * resolved state to `cmp<batchId>`, which commits as the only live
    * segment. Retired directories stay on disk for readers of the
    * previous manifest until [[prune]]. */
  def compact(dir: String, batchId: Long)(writeCompacted: String => Unit): Unit = {
    writeCompacted(s"$dir/cmp$batchId")
    commit(dir, batchId, Seq(s"cmp$batchId"))
  }
}

/** STREAMING serving-index maintenance for BM25 — the append trio
  * (BM25 r4 / IVF x18 / LSH d15) driven from a stream: each micro-batch
  * of finalized documents is indexed ONCE and written as an immutable
  * SEGMENT; the serving read unions the live segments (every BM25 index
  * component merge is associative, so segments ≡ one full rebuild over
  * everything streamed, bit-for-bit — spec-pinned).
  *
  * Why segments, not versions (the round-9 design this replaces): a
  * versioned sink that folds `read(prev) ∪ batch → write(v)` rewrites
  * the ENTIRE index every micro-batch — after N batches it has written
  * N·(N+1)/2 batch-volumes of parquet, a scale-killer for a long-lived
  * stream. Here batch k writes O(|batch k|) bytes (spec-pinned by
  * counting segment files); only a COMPACTION — triggered when live
  * segments exceed `maxSegments`, so amortized once per K batches —
  * rewrites the merged index, and the serving scan is a single
  * multi-path parquet read either way (1000 segments = one scan with
  * 1000 input paths, not a 1000-way plan union).
  *
  * Exactly-once across restarts: the manifest's high-water batch id
  * skips re-delivered micro-batches (idempotent), and the manifest
  * rename is the only commit point — a crash mid-segment-write leaves
  * an unreferenced directory, never a visible partial index.
  *
  * DELETES are segments too ([[deleteSink]]): a tombstone batch commits
  * like any data batch, [[readLatest]] folds the live tombstone union
  * through the r7 delete algebra, and compaction resolves them. */
object StreamingIndexMaintenance {

  /** The live serving index: one multi-path scan per component across
    * all live segments; dfreq/stats re-aggregate (associative sums),
    * postings/doclen are disjoint per-document rows (plain union).
    * TOMBSTONE segments ([[deleteSink]]) carry only a `tombstones` id
    * file — each component's scan lists only the segments that hold it,
    * and the union of live tombstones is folded through the lazy r7
    * delete algebra ([[Bm25.deleteIndexes]], the core of
    * [[Bm25.deleteFromIndex]]: every deleted contribution recovered
    * from the index itself), so the served index is
    * rebuild-without-deleted exactly. The view is lazy — it owns no
    * blocks, and each read plans over the live segments. */
  def readLatest(spark: SparkSession, dir: String): Bm25.Index = {
    val segs = Segments.live(dir).map(s => s"$dir/$s")
    require(segs.nonEmpty, s"no committed segments under $dir")
    def paths(part: String) =
      segs.map(_ + "/" + part).filter(p => new java.io.File(p).exists())
    require(paths("postings").nonEmpty,
      s"store under $dir holds only tombstone segments — nothing to serve")
    val merged = Bm25.Index(
      ParquetOpen(spark, paths("postings"): _*),
      ParquetOpen(spark, paths("doclen"): _*),
      ParquetOpen(spark, paths("dfreq"): _*)
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      ParquetOpen(spark, paths("stats"): _*)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_len")).as("total_len")))
    val tombs = paths("tombstones")
    if (tombs.isEmpty) merged
    else Bm25.deleteIndexes(ParquetOpen(spark, tombs: _*), merged, "did")
  }

  /** The foreachBatch function: index `batch` into segment
    * `seg<batchId>`, commit a manifest appending it, and compact when
    * live segments exceed `maxSegments`. Wire as
    * `ds.writeStream.foreachBatch(indexSink(spark, dir, "doc_id", "text")() _)`. */
  def indexSink(spark: SparkSession, dir: String, idCol: String,
                textCol: String, maxSegments: Int = 8)(
                batch: DataFrame, batchId: Long): Unit =
    Segments.fold(dir, batchId, maxSegments) { seg =>
      val bIdx = Bm25.buildIndex(batch, idCol, textCol)
      Using.resource(bIdx.postings)(_ => Bm25.writeIndexPlain(bIdx, seg))
    } { cmp =>
      // merge every live segment into one compacted segment (tombstones
      // RESOLVED — readLatest applies them, and the compacted dir writes
      // none); retired directories stay on disk for readers of the
      // previous manifest until [[Segments.prune]]
      Bm25.writeIndexPlain(readLatest(spark, dir), cmp)
    }

  /** DELETE events through the same segment protocol — tombstoning as a
    * first-class stream transition, not an out-of-band compaction: the
    * batch's ids land as a `tombstones`-only segment, the manifest
    * commit makes them visible atomically, and every [[readLatest]]
    * serves rebuild-without-deleted from then on (soft delete — stored
    * segments untouched). Re-delivery is idempotent (the high-water
    * skip, same as data batches) and a compaction resolves the
    * tombstones away.
    *
    * CONTRACT (the one asymmetry vs the batch r7 API): batch ids are
    * monotone across BOTH sinks — drive data and delete events through
    * one serialized stream (e.g. a union with an op column fanned to
    * the two sinks) — and a tombstoned id may be RE-APPENDED only after
    * a compaction has resolved its tombstone: the live tombstone union
    * applies to every live segment, so fresh rows for a still-tombstoned
    * id would be filtered too (spec-pinned: delete → gone, append others
    * → still gone, compact → re-append → served again). */
  def deleteSink(spark: SparkSession, dir: String, idCol: String,
                 maxSegments: Int = 8)(
                 tombs: DataFrame, batchId: Long): Unit =
    Segments.fold(dir, batchId, maxSegments) { seg =>
      tombs.select(col(idCol).as("did")).distinct()
        .write.mode("overwrite").parquet(s"$seg/tombstones")
    } { cmp =>
      Bm25.writeIndexPlain(readLatest(spark, dir), cmp)
    }

  /** PUBLISH the streamed store to the pruned serving tier: the live
    * merged index (segments folded, tombstones applied) written once
    * through [[Bm25.writeIndex]] — the term-bucketed partition tree +
    * pinned modulus — so `Bm25.searchStored` serves it listing-pruned.
    * This is the deployment step between the maintenance tier
    * (O(|batch|) flat segment commits — this store) and the serving
    * tier (partitioned artifact): run it on the cadence index snapshots
    * ship, not per micro-batch. `servingDir` must not be the segment
    * store itself (segments stay flat — a multi-path merge cannot mix
    * partitioned roots). Spec-pinned: published-pruned search ≡
    * searchIndex over readLatest, scores included. */
  def publish(spark: SparkSession, dir: String, servingDir: String): Unit =
    Bm25.writeIndex(readLatest(spark, dir), servingDir)
}
