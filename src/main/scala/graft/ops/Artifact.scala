package graft.ops

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, lit, pmod, sum, xxhash64}

/** The lifecycle every stored index family shares: write the data,
  * commit a sidecar, open once. Each family keeps its own codec, layout
  * and scorer; this object owns the one decision they have in common,
  * how a stored artifact proves it is not torn.
  *
  * A sidecar ([[ConfigFile]]) is one line of ints: values the readers
  * must serve under (a modulus, a width, a geometry), then CHECK slots
  * that fingerprint the data on disk. [[commit]] derives the checks from
  * disk after the data is written and writes the sidecar last, so a
  * crash mid-rewrite leaves the old sidecar disagreeing with whichever
  * store changed. [[open]] re-derives them and fails loudly on a
  * mismatch, once per (dir, sidecar name) while the sidecar's values
  * stay the same: a repeat open reads one small file and runs no Spark
  * job, and a re-commit under new values checks again. The writer and
  * the reader pass the same check list, so the two cannot drift. */
object Artifact {

  /** One check slot: `derive` reads the artifact from disk. */
  final case class Check(what: String, derive: SparkSession => Int)

  /** A family's sidecar file `name` with `arity` values, its check slots
    * starting at `checksAt`. `what` and `remedy` word a failed check.
    * A missing file opens as `orElse` (unchecked) when one is given. */
  final case class Sidecar(name: String, arity: Range, checksAt: Int = 0,
                           what: String = "stored artifact",
                           remedy: String = "torn artifact",
                           orElse: Option[Seq[Int]] = None)

  private val Mod = 1000000000L

  /** Order-free content fingerprint of the parquet at `path`: the sum of
    * the rows' xxhash64 of `cols`, each taken mod 1e9, mod 1e9. */
  def fingerprint(spark: SparkSession, path: String, cols: Column*): Int =
    (ParquetOpen(spark, path)
      .agg(coalesce(sum(pmod(xxhash64(cols: _*), lit(Mod))), lit(0L)))
      .head().getLong(0) % Mod).toInt

  def fingerprinted(what: String, path: String, cols: Column*): Check =
    Check(what, fingerprint(_, path, cols: _*))

  /** The count slot: rows of the parquet at `path`, mod 1e9. */
  def counted(what: String, path: String): Check =
    Check(what, s => (ParquetOpen(s, path).count() % Mod).toInt)

  /** Writes `dir`'s sidecar once its data is on disk: `pinned` with the
    * derived `checks` inserted at the sidecar's `checksAt`. */
  def commit(spark: SparkSession, dir: String, sidecar: Sidecar,
             pinned: Seq[Int], checks: Seq[Check] = Nil): Unit = {
    val values = pinned.patch(sidecar.checksAt, checks.map(_.derive(spark)), 0)
    require(sidecar.arity.contains(values.size),
      s"${sidecar.name} takes ${sidecar.arity} values, got $values")
    ConfigFile.writeAtomic(dir, sidecar.name, values)
  }

  def exists(dir: String, sidecar: Sidecar): Boolean =
    ConfigFile.exists(dir, sidecar.name)

  /** The sidecar's values, unchecked; `orElse` when it is missing. */
  def pinned(dir: String, sidecar: Sidecar): Seq[Int] =
    sidecar.orElse.filterNot(_ => exists(dir, sidecar)).getOrElse(
      ConfigFile.readIntsRange(dir, sidecar.name, sidecar.arity.min, sidecar.arity.max))

  /** Deletes the sidecar, so the artifact no longer opens as this family. */
  def retire(dir: String, sidecar: Sidecar): Unit = {
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, sidecar.name))
    opened.remove((dir, sidecar.name))
  }

  /** (dir, sidecar name) → the values last validated and what `load`
    * returned for them. */
  private final case class Opened(values: Seq[Int], loaded: Any)
  private val opened = new ConcurrentHashMap[(String, String), Opened]()

  private[graft] def openedEntries(dir: String): Int =
    opened.keySet.asScala.count(_._1 == dir)

  /** Opens `dir`: reads the sidecar and, unless these values were
    * validated before, runs `checks(values)` against its check slots.
    * Returns the values. */
  def open(spark: SparkSession, dir: String, sidecar: Sidecar,
           checks: Seq[Int] => Seq[Check]): Seq[Int] =
    openWith(spark, dir, sidecar, checks)(_ => ())._1

  /** [[open]], then `load(values)` once per validated values: a
    * per-directory [[guard]], or a driver-sized value to keep. Returns
    * the values and the loaded value. */
  def openWith[A](spark: SparkSession, dir: String, sidecar: Sidecar,
                  checks: Seq[Int] => Seq[Check] = (_: Seq[Int]) => Nil)(
      load: Seq[Int] => A): (Seq[Int], A) = {
    val values = pinned(dir, sidecar)
    val key = (dir, sidecar.name)
    Option(opened.get(key)).filter(_.values == values) match {
      case Some(hit) => (values, hit.loaded.asInstanceOf[A])
      case None =>
        if (exists(dir, sidecar)) {
          val cs = checks(values)
          val want = values.slice(sidecar.checksAt, sidecar.checksAt + cs.size)
          val got = cs.map(_.derive(spark))
          require(got == want, s"${sidecar.what} at $dir does not match its " +
            "commit sidecar (" + cs.indices.map(i =>
              s"${cs(i).what} ${got(i)} vs ${want(i)}").mkString(", ") +
            s") — ${sidecar.remedy}")
        }
        val loaded = load(values)
        opened.put(key, Opened(values, loaded))
        (values, loaded)
    }
  }

  /** The per-directory torn guard of a partitioned store: the first row
    * of every leaf directory `base/c1=v1/…/cn=vn` (of `base` itself for
    * no `partCols`) must project `derive` to `expect(v1…vn)`. A partial
    * in-place rewrite can re-bucket some directories and not others, so
    * one sampled row could wave the torn rest through; a row per
    * directory costs the directory count, not the store size. Run it
    * from an [[openWith]] `load`, so it is paid once per sidecar values. */
  def guard(spark: SparkSession, base: String, partCols: Seq[String],
            holds: String)(derive: Column, expect: Seq[String] => Int): Unit =
    PartitionSample.firstRows(spark, base, partCols)(_.select(derive))
      .foreach { case (vals, r) =>
        val dirs = partCols.zip(vals).map { case (c, v) => s"$c=$v" }
        require(r.getInt(0) == expect(vals),
          s"stored $base: directory ${dirs.mkString("/")} holds $holds " +
            s"${r.getInt(0)} but the sidecar pins ${expect(vals)} — torn " +
            "artifact, rewrite it")
      }

  /** Runs a serving-sized `probe` once on the driver and returns its rows
    * with a one-partition frame over them, so a stored search's literal
    * partition filters and its join side come from the same rows and
    * nothing upstream of the probe runs twice. */
  def collectOnce(spark: SparkSession, probe: DataFrame): (DataFrame, Array[Row]) = {
    val rows = probe.collect()
    (spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1),
      probe.schema), rows)
  }
}
