package graft.streaming

import scala.util.Using

import graft.ops.Checkpoint.Releasables._
import graft.ops.ParquetOpen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The [[Segments]] store for index families whose stored form is ONE
  * frame of per-document rows — LSH band rows, IVF cells, PQ / trained PQ
  * / residual PQ codes, prefix rows, SQ8 codes and BQ words. Append IS
  * union for these, so a micro-batch folds by writing one immutable
  * `seg<batchId>` parquet directory and committing a manifest: O(|batch|)
  * bytes per batch, serving reads are a single multi-path scan, and
  * compaction (live segments > maxSegments) collapses to one `cmp`
  * segment. Each family object below keeps only its row sink and its
  * publish: every family reads through [[readLatest]] and deletes
  * through [[deleteFold]]. Crash safety and exactly-once come from the
  * [[Segments]] manifest. */
object FrameSegments {

  /** The live frame: one multi-path scan of the DATA segments, minus the
    * union of live TOMBSTONE segments ([[deleteFold]]) — index rows here
    * are per-document pure functions, so an id anti-join is an exact
    * soft delete (the r7 LSH/IVF algebra). A tombstone segment holds
    * only a `tombstones` subdir, so it is excluded from the frame scan
    * by existence; the anti-join keys on the tombstone frame's own
    * column, so no id-column name needs to thread through the read. */
  def readLatest(spark: SparkSession, dir: String): DataFrame = {
    val segs = Segments.live(dir).map(s => s"$dir/$s")
    require(segs.nonEmpty, s"no committed segments under $dir")
    val (tombSegs, dataSegs) = segs.partition(
      s => new java.io.File(s, "tombstones").exists())
    require(dataSegs.nonEmpty,
      s"store under $dir holds only tombstone segments — nothing to serve")
    val frame = ParquetOpen(spark, dataSegs: _*)
    if (tombSegs.isEmpty) frame
    else {
      val tombs = ParquetOpen(spark, tombSegs.map(_ + "/tombstones"): _*)
      frame.join(tombs, Seq(tombs.columns.head), "left_anti")
    }
  }

  /** Fold one micro-batch through the shared [[Segments.fold]] protocol:
    * the segment is the single frame, compaction is the resolved union
    * (tombstones applied by [[readLatest]] and not re-written). */
  def fold(spark: SparkSession, dir: String, batchId: Long,
           maxSegments: Int)(frame: => DataFrame): Unit =
    Segments.fold(dir, batchId, maxSegments) { seg =>
      frame.write.mode("overwrite").parquet(seg)
    } { cmp =>
      readLatest(spark, dir).write.mode("overwrite").parquet(cmp)
    }

  /** Fold a DELETE batch, the streaming form of each family's batch
    * delete (e.g. `MinHash.deleteFromSnapshotIndex`, `Cosine.ivfDeleteCells`):
    * the tombstone ids commit as their own segment (atomically visible,
    * idempotent on re-delivery, resolved by the next compaction). Same
    * contract as the BM25 delete segments: batch ids are monotone across
    * data and delete folds, and a tombstoned id may be re-appended only
    * after a compaction has resolved its tombstone (the live tombstone
    * union applies to every live data segment, fresh rows included). */
  def deleteFold(spark: SparkSession, dir: String, idCol: String,
                 maxSegments: Int = 8)(tombs: DataFrame, batchId: Long): Unit =
    Segments.fold(dir, batchId, maxSegments) { seg =>
      tombs.select(col(idCol)).distinct()
        .write.mode("overwrite").parquet(s"$seg/tombstones")
    } { cmp =>
      readLatest(spark, dir).write.mode("overwrite").parquet(cmp)
    }
}

/** Streaming maintenance for the LSH snapshot index (the d15 append path
  * driven from a stream): each micro-batch of finalized documents is
  * shingled/signed ONCE and its [[graft.dedup.MinHash.snapshotIndex]]
  * rows land as one immutable segment — index rows are per-document pure
  * functions, so the unioned segments equal `snapshotIndex` over
  * everything streamed, row-for-row (spec-pinned against the batch
  * rebuild). Serve with `MinHash.nearDuplicatesAgainstIndex(batch,
  * FrameSegments.readLatest(spark, dir), …)`. */
object StreamingLshMaintenance {
  import graft.dedup.MinHash

  def indexSink(spark: SparkSession, dir: String, idCol: String,
                textCol: String, n: Int = 2,
                rowsPerBand: Int = MinHash.RowsPerBand, maxSegments: Int = 8)(
                batch: DataFrame, batchId: Long): Unit = {
    // persisted because snapshotIndex consumes it twice (signatures +
    // the sharr re-attach join) — persist is lazy, so a re-delivered
    // (no-op) batch never materializes it
    Using.resource(MinHash.hashedShingleArray(batch, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) { sharr =>
      FrameSegments.fold(spark, dir, batchId, maxSegments)(
        MinHash.snapshotIndex(sharr, idCol, rowsPerBand))
    }
  }
}

/** Streaming maintenance for the IVF cell assignment (the x18 append
  * path driven from a stream): each micro-batch of finalized vectors is
  * assigned map-side against the STORED centroid table (no retraining —
  * the serving-time contract) and its (id, cell) rows land as one
  * immutable segment; unioned segments equal the one-pass assignment of
  * everything streamed under the same centroids (spec-pinned). Serve
  * with `Cosine.ivfSearchIndex(queries, vectors,
  * FrameSegments.readLatest(spark, dir), centroids, …)`. */
object StreamingIvfMaintenance {

  def cellSink(spark: SparkSession, dir: String, idCol: String,
               vecCol: String, centroids: DataFrame, cellCol: String,
               maxSegments: Int = 8)(batch: DataFrame, batchId: Long): Unit =
    FrameSegments.fold(spark, dir, batchId, maxSegments) {
      graft.similarity.Cosine
        .assignToCentroids(batch, idCol, vecCol, centroids, cellCol)
        .select(col(idCol), col("assigned_cell").as(cellCol))
    }

  /** PUBLISH the streamed store to the pruned serving tier: the live
    * cell assignment (segments ∪ minus tombstones) joined to its
    * vectors becomes a [[graft.similarity.Cosine.writeIvfIndex]]
    * per-cell partition tree, served listing-pruned by
    * `ivfSearchStored`. The deployment step between the maintenance
    * tier (O(|batch|) segment commits — this store) and the serving
    * tier (partitioned layout + commit sidecar — that artifact): run it
    * on the cadence index snapshots ship, not per micro-batch.
    * `servingDir` must not be the segment store itself. Spec-pinned:
    * published-pruned search ≡ in-plan search over the live frames. */
  def publish(spark: SparkSession, dir: String, vectors: DataFrame,
              centroids: DataFrame, idCol: String, vecCol: String,
              cellCol: String, servingDir: String): Unit =
    graft.similarity.Cosine.writeIvfIndex(vectors,
      FrameSegments.readLatest(spark, dir), centroids, idCol, vecCol, cellCol,
      servingDir)
}

/** Streaming maintenance for the PQ code store (the x26/x28 serving form
  * driven from a stream): each micro-batch of finalized vectors lands as
  * one immutable segment of (id, codes, cell) rows — codes are a pure
  * per-document function of the vector under the FIXED deterministic
  * hyperplanes (no codebook involved in coding; the codebook only enters
  * at reconstruction), and the cell assignment runs map-side against the
  * STORED coarse centroids (no retraining — the IVF sink's contract). So
  * unioned segments equal the one-pass derivation of everything streamed
  * and tombstone deletes are exact. [[publish]] ships the live corpus
  * into the full [[graft.similarity.Cosine.writePqIndex]] serving
  * artifact on snapshot cadence (the codebook — a per-(subspace, code)
  * mean, one corpus pass — retrains from the published corpus there,
  * which is the rebuild-per-release semantic of a corpus-derived
  * statistic). */
object StreamingPqMaintenance {

  def codeSink(spark: SparkSession, dir: String, idCol: String,
               vecCol: String, centroids: DataFrame, cellCol: String,
               nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
               maxSegments: Int = 8)(batch: DataFrame, batchId: Long): Unit =
    FrameSegments.fold(spark, dir, batchId, maxSegments)(
      graft.similarity.Cosine
        .pqCodes(batch, idCol, vecCol, nSub, subDim, nPlanes)
        .join(graft.similarity.Cosine
          .assignToCentroids(batch, idCol, vecCol, centroids, cellCol)
          .select(col(idCol), col("assigned_cell").as(cellCol)), Seq(idCol)))

  /** PUBLISH the streamed store into the full stored PQ tier: the live
    * ids (segments ∪ minus tombstones) select their vectors, and
    * [[graft.similarity.Cosine.writePqIndex]] lays out codebook +
    * cell-partitioned codes + rerank vectors + centroids under the
    * commit sidecar (codes are pure functions of the vectors under the
    * fixed planes, so re-deriving them in the one-pass write equals the
    * streamed rows — the spec pins it). `servingDir` must not be the
    * segment store itself. */
  def publish(spark: SparkSession, dir: String, vectors: DataFrame,
              centroids: DataFrame, idCol: String, vecCol: String,
              cellCol: String, servingDir: String,
              nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
              centroidFn: (DataFrame, String, String) => DataFrame =
                graft.similarity.Cosine.cellCentroids): Unit = {
    val live = FrameSegments.readLatest(spark, dir)
    val corpus = vectors.join(live.select(col(idCol)), Seq(idCol), "left_semi")
    graft.similarity.Cosine.writePqIndex(corpus,
      live.select(col(idCol), col(cellCol)), idCol, vecCol, cellCol,
      servingDir, nSub, subDim, nPlanes, centroidFn,
      centroids = Some(centroids))
  }
}

/** Streaming maintenance for the TRAINED PQ tier (the x27b artifact
  * driven from a stream — twin #16, closing the one asymmetric cell the
  * trained quantizer opened in the serving matrix): identical segment
  * algebra to [[StreamingPqMaintenance]] except codes are assigned
  * against a PINNED trained codebook — read once from the stored
  * artifact, never retrained per batch (the prefix twin's rotation
  * contract; the SQ8 twin's stats contract). GIVEN the book, a code row
  * is still a pure per-document function of the vector, so unioned
  * segments equal the one-pass derivation of everything streamed and
  * tombstone deletes stay exact. [[publish]] carries the pinned book
  * forward VERBATIM ([[graft.similarity.Cosine.writeTrainedPqIndexWith]])
  * — retraining on publish would re-quantize under a book the streamed
  * segments never saw, the mixed-quantizer hazard the batch writer's
  * scaladoc warns about. Refreshing the book itself is a batch re-train
  * ([[graft.similarity.Cosine.writeTrainedPqIndex]]) followed by
  * restarting the sink against the new store. */
object StreamingTrainedPqMaintenance {

  def codeSink(spark: SparkSession, dir: String, idCol: String,
               vecCol: String, book: DataFrame, centroids: DataFrame,
               cellCol: String, nSub: Int = 8, subDim: Int = 8,
               nPlanes: Int = 4, maxSegments: Int = 8)(
               batch: DataFrame, batchId: Long): Unit =
    FrameSegments.fold(spark, dir, batchId, maxSegments)(
      graft.similarity.Cosine
        .pqCodesFromBook(batch, idCol, vecCol, book, nSub, subDim, nPlanes)
        .join(graft.similarity.Cosine
          .assignToCentroids(batch, idCol, vecCol, centroids, cellCol)
          .select(col(idCol), col("assigned_cell").as(cellCol)), Seq(idCol)))

  /** PUBLISH the streamed store into the full stored trained-PQ tier:
    * live ids select their vectors, the pinned `book` lands verbatim
    * (book first, codes second, sidecar last — the crash ordering lives
    * in [[graft.similarity.Cosine.writeTrainedPqIndexWith]]).
    * `servingDir` must not be the segment store itself. */
  def publish(spark: SparkSession, dir: String, vectors: DataFrame,
              book: DataFrame, centroids: DataFrame, idCol: String,
              vecCol: String, cellCol: String, servingDir: String,
              nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4): Unit = {
    val live = FrameSegments.readLatest(spark, dir)
    val corpus = vectors.join(live.select(col(idCol)), Seq(idCol), "left_semi")
    graft.similarity.Cosine.writeTrainedPqIndexWith(corpus,
      live.select(col(idCol), col(cellCol)), idCol, vecCol, cellCol,
      book, servingDir, nSub, subDim, nPlanes, centroids = Some(centroids))
  }
}

/** Streaming maintenance for the RESIDUAL PQ tier (the x27c/x28c
  * artifact driven from a stream — twin #17): the segment algebra of
  * [[StreamingTrainedPqMaintenance]] with BOTH halves of the residual
  * quantizer pinned — the coarse centroids (which here define the
  * encoding, not just probe metadata: codes quantize x − q₁(x)) and the
  * trained residual book, each read once from the stored artifact.
  * GIVEN the pair, a code row is a pure per-document function of the
  * vector, so unioned segments equal the one-pass derivation and
  * tombstone deletes stay exact; [[publish]] carries the pair forward
  * VERBATIM ([[graft.similarity.Cosine.writeResidualPqIndexWith]]).
  * Refreshing either half is a batch re-train
  * ([[graft.similarity.Cosine.writeResidualPqIndex]]) + sink restart. */
object StreamingResidualPqMaintenance {

  def codeSink(spark: SparkSession, dir: String, idCol: String,
               vecCol: String, book: DataFrame, centroids: DataFrame,
               cellCol: String, nSub: Int = 8, subDim: Int = 8,
               nPlanes: Int = 4, maxSegments: Int = 8)(
               batch: DataFrame, batchId: Long): Unit =
    FrameSegments.fold(spark, dir, batchId, maxSegments)({
      val C = graft.similarity.Cosine
      val cells = C.assignToCentroids(batch, idCol, vecCol, centroids, cellCol)
        .select(col(idCol), col("assigned_cell").as(cellCol))
      C.pqCodesFromBook(
          C.residualFrame(batch, cells, centroids, idCol, vecCol, cellCol),
          idCol, "resv", book, nSub, subDim, nPlanes)
        .join(cells, Seq(idCol))
    })

  /** PUBLISH the streamed store into the full stored residual tier:
    * live ids select their vectors, the pinned (book, centroids) pair
    * lands verbatim (centroids first, book second, codes, sidecar last —
    * the crash ordering lives in
    * [[graft.similarity.Cosine.writeResidualPqIndexWith]]).
    * `servingDir` must not be the segment store itself. */
  def publish(spark: SparkSession, dir: String, vectors: DataFrame,
              book: DataFrame, centroids: DataFrame, idCol: String,
              vecCol: String, cellCol: String, servingDir: String,
              nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4): Unit = {
    val live = FrameSegments.readLatest(spark, dir)
    val corpus = vectors.join(live.select(col(idCol)), Seq(idCol), "left_semi")
    graft.similarity.Cosine.writeResidualPqIndexWith(corpus,
      live.select(col(idCol), col(cellCol)), idCol, vecCol, cellCol,
      book, centroids, servingDir, nSub, subDim, nPlanes)
  }
}

/** Streaming maintenance for the Matryoshka prefix index (the x20/x24b
  * serving form driven from a stream): each micro-batch of finalized
  * vectors lands as one immutable segment of (id, prefix, full) rows —
  * prefix computed map-side under the PINNED geometry (p, and optionally
  * the stored artifact's rotation: never retrained per batch, exactly
  * the [[StreamingSq8Maintenance]] stats contract), so unioned segments
  * equal the one-pass derivation of everything streamed and tombstone
  * deletes are exact.
  * [[publish]] ships the live frame into the pruned serving layout
  * (`prefixTopKStored`'s pbucket partition tree + sidecar), carrying the
  * pinned rotation forward. */
object StreamingPrefixMaintenance {

  private def prefixExpr(vecCol: String, p: Int,
                         rotation: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    if (rotation.isEmpty)
      org.apache.spark.sql.functions.slice(
        graft.similarity.Cosine.toDouble(col(vecCol)), 1, p)
    else graft.similarity.Cosine.rotatedPrefix(
      graft.similarity.Cosine.toDouble(col(vecCol)), rotation)

  def rowSink(spark: SparkSession, dir: String, idCol: String,
              vecCol: String, p: Int,
              rotation: Seq[Seq[Double]] = Nil, maxSegments: Int = 8)(
              batch: DataFrame, batchId: Long): Unit =
    FrameSegments.fold(spark, dir, batchId, maxSegments)(
      batch.select(col(idCol), prefixExpr(vecCol, p, rotation).as("prefix"),
        col(vecCol).as("full")))

  /** PUBLISH the streamed store into the pruned serving layout (the
    * StreamingIvfMaintenance.publish cadence contract): the live
    * (id, prefix, full) frame lands pbucket-partitioned with the
    * matching sidecar — `prefix_rot_config` + the pinned rotation store
    * when the stream was rotated, the plain `prefix_config` otherwise —
    * so `prefixTopKStored` serves it exactly like a batch-built
    * artifact. `servingDir` must not be the segment store itself. */
  def publish(spark: SparkSession, dir: String, idCol: String, p: Int,
              servingDir: String, rotation: Seq[Seq[Double]] = Nil): Unit = {
    // the batch writers' commit order, including the retirement of the
    // OTHER sidecar family; rotated publishes pin rotation.size as the
    // width (the streamed prefixes were derived under that exact basis)
    if (rotation.isEmpty)
      graft.similarity.Cosine.commitPrefix(spark, p, idCol, servingDir)(
        FrameSegments.readLatest(spark, dir))
    else
      graft.similarity.Cosine.commitRotatedPrefix(spark, rotation, p, idCol,
        servingDir)(_ => FrameSegments.readLatest(spark, dir))
  }
}

/** Streaming maintenance for the SQ8 packed-code index (the x19/x21
  * serving form driven from a stream): each micro-batch of finalized
  * vectors is quantized map-side under the STORED per-dim range stats
  * (no retraining — the stats are the artifact's contract, pinned at
  * build like IVF's centroids above; out-of-range values saturate, the
  * [[graft.similarity.Cosine.sq8CodeExpr]] clamp) and its (id, pcode)
  * rows land as one immutable segment: per-document pure functions, so
  * unioned segments equal the one-pass coding of everything streamed
  * under the same stats (spec-pinned) and tombstone deletes are exact.
  * Serve with `Cosine.sq8SearchCodes(queries,
  * FrameSegments.readLatest(spark, dir), stats, …)`. */
object StreamingSq8Maintenance {

  def codeSink(spark: SparkSession, dir: String, idCol: String,
               vecCol: String, stats: DataFrame, dim: Int,
               maxSegments: Int = 8)(batch: DataFrame, batchId: Long): Unit =
    FrameSegments.fold(spark, dir, batchId, maxSegments)(
      graft.similarity.Cosine.sq8PackedCodes(batch, stats, idCol, vecCol, dim))
}

/** Streaming maintenance for the BINARY-QUANTIZED tier (the x29 serving
  * form driven from a stream — twin #18, and the simplest of all:
  * sign-bit words are parameter-free, so code rows are per-document
  * pure with NOTHING pinned — no stats, no book, no rotation. Segments
  * union exactly, tombstones are exact anti-joins, and [[publish]] is a
  * plain [[graft.similarity.Cosine.writeBqIndex]] over the live
  * vectors: rebuild ≡ streamed by construction, nothing to carry
  * forward). */
object StreamingBqMaintenance {

  def codeSink(spark: SparkSession, dir: String, idCol: String,
               vecCol: String, dim: Int,
               maxSegments: Int = 8)(batch: DataFrame, batchId: Long): Unit =
    FrameSegments.fold(spark, dir, batchId, maxSegments)(
      batch.select(col(idCol), graft.similarity.Cosine
        .bqCodes(graft.similarity.Cosine.toDouble(col(vecCol)), dim)
        .as("bwords")))

  /** PUBLISH the streamed store into the full stored BQ tier: live ids
    * select their vectors; codes are re-derived (pure function, no
    * pinned state — the spec pins published ≡ streamed word rows).
    * `servingDir` must not be the segment store itself. */
  def publish(spark: SparkSession, dir: String, vectors: DataFrame,
              idCol: String, vecCol: String, dim: Int,
              servingDir: String): Unit = {
    val live = FrameSegments.readLatest(spark, dir)
    val corpus = vectors.join(live.select(col(idCol)), Seq(idCol), "left_semi")
    graft.similarity.Cosine.writeBqIndex(corpus, idCol, vecCol, dim,
      servingDir)
  }
}
