package graft.schema

import graft.ops.ParquetOpen
import graft.sinks.DdlGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned schema migrations over a parquet snapshot store — the
  * engine's analogue of the reference's alembic chain (`cli.py:124-239`
  * drives `alembic upgrade`; the `alembic/versions` dir holds the revisions).
  *
  * A store is a directory of per-table parquet dirs plus the `_metadata`
  * table whose `schema_revision` row is the revision stamp (the same row
  * [[graft.ops.Sync]]'s pre-sync fence compares). `upgrade` walks the
  * linear chain from the stamped revision to head, rewriting only the
  * tables each revision touches; each table rewrite is one distributed
  * read→transform→write job (write to a sibling temp dir, then swap —
  * never read and overwrite the same files), so a migration over a
  * 100 TB snapshot costs exactly one pass over the touched tables and
  * nothing over the rest.
  *
  * Changes are declared as data ([[Migrations.TableChange]]), not opaque
  * closures, so the SAME revision renders as `ALTER TABLE` statements for
  * the JDBC twin of the store (the reference generates dialect SQL via
  * `alembic upgrade --sql`; here [[Migrations.alterSql]]).
  */
object Migrations {

  /** One declarative schema change — applies to a frame AND renders as
    * dialect DDL (mirrors Spark's own catalog TableChange shape). */
  sealed trait TableChange {
    def apply(df: DataFrame): DataFrame
    def sql(table: String, d: DdlGen.Dialect): String
  }

  /** Add a column with a constant default (alembic `op.add_column`). */
  final case class AddColumn(name: String, dataType: DataType,
                             default: Option[Any] = None) extends TableChange {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(name, default.map(lit).getOrElse(lit(null)).cast(dataType))
    def sql(table: String, d: DdlGen.Dialect): String = {
      val defaultSql = default.map {
        case s: String => s" DEFAULT '${s.replace("'", "''")}'"
        case v => s" DEFAULT $v"
      }.getOrElse("")
      s"ALTER TABLE ${DdlGen.quote(table, d)} ADD COLUMN " +
        s"${DdlGen.quote(name, d)} ${DdlGen.sqlType(dataType, d)}$defaultSql"
    }
  }

  /** Change a column's type, keeping values (alembic `op.alter_column
    * type_=`; e.g. the reference's v0.3.4 gpu_count int→float). */
  final case class CastColumn(name: String, dataType: DataType) extends TableChange {
    def apply(df: DataFrame): DataFrame =
      df.withColumn(name, col(name).cast(dataType))
    def sql(table: String, d: DdlGen.Dialect): String =
      s"ALTER TABLE ${DdlGen.quote(table, d)} ALTER COLUMN " +
        s"${DdlGen.quote(name, d)} SET DATA TYPE ${DdlGen.sqlType(dataType, d)}"
  }

  final case class RenameColumn(from: String, to: String) extends TableChange {
    def apply(df: DataFrame): DataFrame = df.withColumnRenamed(from, to)
    def sql(table: String, d: DdlGen.Dialect): String =
      s"ALTER TABLE ${DdlGen.quote(table, d)} RENAME COLUMN " +
        s"${DdlGen.quote(from, d)} TO ${DdlGen.quote(to, d)}"
  }

  final case class DropColumn(name: String) extends TableChange {
    def apply(df: DataFrame): DataFrame = df.drop(name)
    def sql(table: String, d: DdlGen.Dialect): String =
      s"ALTER TABLE ${DdlGen.quote(table, d)} DROP COLUMN ${DdlGen.quote(name, d)}"
  }

  /** One revision: applies after `parent` (None = the chain's base). */
  final case class Migration(id: String, parent: Option[String], description: String,
                             changes: Map[String, Seq[TableChange]])

  /** The linear chain, oldest first. Ids carry the engine version they
    * shipped with, like the reference's `v0_3_4_*` revision files. The
    * concrete steps mirror reference revisions (cited per entry) so a
    * store created by an older engine build upgrades along the same
    * history a reference database would.
    */
  val chain: Seq[Migration] = Seq(
    Migration("v1_base", None, "baseline registry (DdlGen v1)", Map.empty),
    // reference aeae56af8ca6 (v0.3.4): gpu_count INTEGER → FLOAT on
    // server + server_scd (fractional GPUs exist)
    Migration("v2_gpu_count_float", Some("v1_base"),
      "server.gpu_count int -> double",
      Map(
        "server" -> Seq(CastColumn("gpu_count", DoubleType)),
        "server_scd" -> Seq(CastColumn("gpu_count", DoubleType)))),
    // reference 8c5bd4869b90 (v0.5.1): benchmark gains a category column
    Migration("v3_benchmark_category", Some("v2_gpu_count_float"),
      "benchmark.category added",
      Map(
        "benchmark" -> Seq(AddColumn("category", StringType)),
        "benchmark_scd" -> Seq(AddColumn("category", StringType)))),
    // reference c1287bd79bb4 (v0.5.0 shape): benchmark_score rows carry
    // an optional free-form note; keep the richer name for clarity
    Migration("v4_score_note", Some("v3_benchmark_category"),
      "benchmark_score.note added with empty default",
      Map(
        "benchmark_score" -> Seq(AddColumn("note", StringType, Some(""))))))
      .ensuring(isLinear(_), "migration chain must be linear and parent-linked")

  // parent links are trusted-but-verified at class init: each entry's
  // parent must be exactly the previous entry's id (a fork or gap would
  // otherwise only surface at upgrade time, on someone's real store)
  private def isLinear(c: Seq[Migration]): Boolean =
    c.zipWithIndex.forall { case (m, i) =>
      m.parent match {
        case None => i == 0
        case Some(p) => i > 0 && c(i - 1).id == p
      }
    }

  def head: String = chain.last.id

  // ------------------------------------------------------------- the store

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** The stamped revision of a store; None for a store that predates the
    * revision stamp (treated as the chain base, like an unstamped alembic
    * database). */
  def current(spark: SparkSession, dir: String): Option[String] = {
    val metaPath = s"$dir/_metadata"
    if (!exists(spark, metaPath)) None
    else graft.ops.Sync.revisionOf(ParquetOpen(spark, metaPath))
  }

  /** Stamp the store's revision without migrating (alembic `stamp`). */
  def stamp(spark: SparkSession, dir: String, revision: String): Unit = {
    val metaPath = s"$dir/_metadata"
    val existing =
      if (exists(spark, metaPath))
        ParquetOpen(spark, metaPath)
          .filter(col("key") =!= graft.ops.Sync.RevisionKey)
      else Validate.conform(
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Schemas.metadataTable), Schemas.metadataTable, Map.empty)
    val stampRow = Validate.conform(
      spark.createDataFrame(Seq((graft.ops.Sync.RevisionKey, revision)))
        .toDF("key", "value"), Schemas.metadataTable, Map("status" -> "active"))
    // writeSwapped stages into a temp dir before swapping, so the lazy
    // read of the existing metadata never races its own replacement
    writeSwapped(spark, existing.unionByName(stampRow, allowMissingColumns = true),
      metaPath)
  }

  /** Migrations still to apply to reach `to` from the stamped revision. */
  def pending(spark: SparkSession, dir: String, to: String = head): Seq[Migration] = {
    val target = chain.indexWhere(_.id == to)
    require(target >= 0, s"unknown target revision '$to' (chain: ${chain.map(_.id).mkString(" -> ")})")
    val from = current(spark, dir) match {
      case None => -1 // unstamped: the whole chain applies
      case Some(rev) =>
        val i = chain.indexWhere(_.id == rev)
        require(i >= 0, s"store at '$dir' is stamped with unknown revision '$rev' — " +
          "it was written by a NEWER engine; upgrade the engine, not the store")
        i
    }
    require(from <= target,
      s"store is at ${chain(from).id}, ahead of requested '$to'; downgrades are not supported")
    chain.slice(from + 1, target + 1)
  }

  /** Upgrade the store to `to` (default head), returning the applied
    * revision ids (alembic `upgrade`). Each touched table is rewritten
    * once per revision; untouched tables are never read. */
  def upgrade(spark: SparkSession, dir: String, to: String = head): Seq[String] = {
    pending(spark, dir, to).map { m =>
      m.changes.foreach { case (table, changes) =>
        val path = s"$dir/$table"
        if (exists(spark, path)) { // a store need not materialize every table
          val migrated = changes.foldLeft(ParquetOpen(spark, path))((df, c) => c(df))
          writeSwapped(spark, migrated, path)
        }
      }
      stamp(spark, dir, m.id)
      m.id
    }
  }

  /** The fence [[graft.ops.Sync.syncGuarded]] sits behind, as a
    * store-level check with the actionable message: refuse to operate on
    * a store that is not at head, and say what to run. */
  def requireHead(spark: SparkSession, dir: String): Unit = {
    val cur = current(spark, dir)
    if (!cur.contains(head))
      throw new graft.ops.Sync.SchemaRevisionMismatch(
        s"store at '$dir' is at revision ${cur.getOrElse("<none>")}, head is $head — " +
          s"run Migrations.upgrade (or `graft migrate up $dir`) first")
  }

  /** Render a revision range as ALTER statements for the JDBC twin
    * (alembic `upgrade --sql`). */
  def alterSql(d: DdlGen.Dialect, fromExclusive: Option[String] = None,
               to: String = head): Seq[String] = {
    val from = fromExclusive.map(f => chain.indexWhere(_.id == f)).getOrElse(-1)
    val target = chain.indexWhere(_.id == to)
    require(from >= -1 && target >= 0, s"unknown revision in range $fromExclusive..$to")
    chain.slice(from + 1, target + 1).flatMap { m =>
      m.changes.toSeq.sortBy(_._1).flatMap { case (table, changes) =>
        changes.map(_.sql(table, d))
      }
    }
  }

  /** Parquet can't be overwritten in place while being read from the same
    * location: write to a sibling temp dir, then swap via two renames.
    * The swap window is driver-local and metadata-only — no data copy. */
  private def writeSwapped(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val hfs = fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".__migrating")
    val old = new org.apache.hadoop.fs.Path(path + ".__replaced")
    if (hfs.exists(tmp)) hfs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    if (hfs.exists(p)) { hfs.delete(old, true); hfs.rename(p, old) }
    hfs.rename(tmp, p)
    hfs.delete(old, true)
  }
}
