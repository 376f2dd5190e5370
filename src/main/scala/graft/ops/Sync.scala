package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The `sync` orchestrator (reference §3.2, `cli.py:373-597`): hash both
  * snapshots, classify rows, and produce the frames each write mode needs.
  * The reference's driver-side dict loops become one full-outer join. */
object Sync {

  case class SyncResult(stats: Map[String, Long], standard: DataFrame, scd: DataFrame)

  /** Thrown when source and target schema revisions differ — syncing
    * across migrations corrupts the target, so the orchestrator refuses
    * up front (reference `cli.py:429-442`: "not risking the sync"). */
  final class SchemaRevisionMismatch(msg: String) extends IllegalStateException(msg)

  /** The metadata key carrying the schema revision (the engine's analogue
    * of the reference's alembic revision stamp). */
  val RevisionKey = "schema_revision"

  /** Read the schema revision out of a `_metadata` key/value frame; None
    * when the table has no revision row (pre-migration database). */
  def revisionOf(metadata: DataFrame): Option[String] =
    metadata.filter(col("key") === RevisionKey).select(col("value"))
      .collect().headOption.map(_.getString(0))

  /** The reference's pre-sync fence: both sides must report the SAME
    * revision, and both must report one at all. */
  def requireMatchingRevisions(source: Option[String], target: Option[String]): Unit =
    (source, target) match {
      case (Some(a), Some(b)) if a == b => ()
      case (a, b) => throw new SchemaRevisionMismatch(
        s"database revisions do NOT match (source=${a.getOrElse("<none>")}, " +
          s"target=${b.getOrElse("<none>")}), so not risking the sync — " +
          "upgrade the database(s) before trying again")
    }

  /** [[sync]] behind the revision fence (reference `cli.py:429-442`):
    * compares the two `_metadata` frames' `schema_revision` rows before
    * any hashing happens. */
  def syncGuarded(source: DataFrame, target: DataFrame, pks: Seq[String],
                  sourceMetadata: DataFrame, targetMetadata: DataFrame,
                  scdObservedAt: org.apache.spark.sql.Column = current_timestamp()): SyncResult = {
    requireMatchingRevisions(revisionOf(sourceMetadata), revisionOf(targetMetadata))
    sync(source, target, pks, scdObservedAt)
  }

  /** Compare source → target on `pks`.
    *  - `standard`: rows to upsert into the live table — new + updated
    *    source rows, plus target rows flipped inactive when deleted;
    *  - `scd`: the same change set for the `_scd` twin, with `observed_at`
    *    version-stamped so an append-style upsert keyed on
    *    (pks, observed_at) PRESERVES prior versions (reference
    *    `tables_scd.py:45-53`: the Scd base makes `observed_at` part of
    *    the PK with a now() default; `cli.py:535` stamps deletions with
    *    now() explicitly, and `cli.py:587-597` upserts new+update+deleted
    *    into the twin). Source rows keep their own `observed_at` when the
    *    column exists; rows without one — and every deletion — get
    *    `scdObservedAt`.
    */
  def sync(source: DataFrame, target: DataFrame, pks: Seq[String],
           scdObservedAt: org.apache.spark.sql.Column = current_timestamp()): SyncResult = {
    val s = CanonicalJson.tableHash(source, pks)
    val t = CanonicalJson.tableHash(target, pks)
    val changes = HashDiff.diff(s, t, pks)
    val stats = changes.groupBy(col("change")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val changedKeys = changes.filter(col("change").isin("new", "update"))
      .select(pks.map(col): _*)
    val upserts = source.join(changedKeys, pks, "left_semi")
    val deletedKeys = changes.filter(col("change") === "deleted").select(pks.map(col): _*)
    val deletions = target.join(deletedKeys, pks, "left_semi")
      .withColumn("status", lit("inactive"))
    val standard = upserts.unionByName(deletions)

    val stampedUpserts =
      if (upserts.columns.contains("observed_at"))
        upserts.withColumn("observed_at", coalesce(col("observed_at"), scdObservedAt))
      else upserts.withColumn("observed_at", scdObservedAt)
    val stampedDeletions = deletions.withColumn("observed_at", scdObservedAt)
    val scd = stampedUpserts.unionByName(stampedDeletions)
    SyncResult(stats, standard, scd)
  }

  /** Append a sync's `scd` rows into the history twin: upsert keyed on
    * (pks, observed_at) — a re-run of the same sync is idempotent (same
    * stamp replaces itself), a later sync appends a new version and never
    * touches prior ones. */
  def applyScd(history: DataFrame, scdRows: DataFrame, pks: Seq[String],
               observedCol: String = "observed_at"): DataFrame =
    Dedup.keepLast(
      history.unionByName(scdRows)
        .withColumn("__seq", monotonically_increasing_id()),
      pks :+ observedCol, Seq(col("__seq"))).drop("__seq")
}
