package graft.schema

import graft.SparkSpec
import graft.ops.Sync
import graft.sinks.DdlGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The alembic-analogue migration chain: a populated v1 store upgrades to
  * head with data preserved, untouched tables unread, the revision stamp
  * advanced, and the Sync fence recognizing both endpoints. */
class MigrationsSpec extends SparkSpec {

  /** A populated store at v1_base: server.gpu_count is still an int,
    * benchmark has no category, benchmark_score no note. */
  private def v1Store(): String = {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft-mig")
    Seq(("aws", "m5.large", 2, 0), ("aws", "p4d.24xlarge", 96, 8))
      .toDF("vendor_id", "server_id", "vcpus", "gpu_count")
      .write.parquet(s"$dir/server")
    Seq(("geekbench:score", "geekbench", "score"))
      .toDF("benchmark_id", "framework", "measurement")
      .write.parquet(s"$dir/benchmark")
    Seq(("aws", "m5.large", "geekbench:score", 1500.0))
      .toDF("vendor_id", "server_id", "benchmark_id", "score")
      .write.parquet(s"$dir/benchmark_score")
    // a table no revision touches — must never be rewritten
    Seq(("US", "North America")).toDF("country_id", "continent")
      .write.parquet(s"$dir/country")
    Migrations.stamp(spark, dir, "v1_base")
    dir
  }

  test("upgrade walks v1 -> head, migrating data in place") {
    val dir = v1Store()
    val countryModified = new java.io.File(s"$dir/country").lastModified

    val applied = Migrations.upgrade(spark, dir)
    assert(applied == Seq("v2_gpu_count_float", "v3_benchmark_category", "v4_score_note"))
    assert(Migrations.current(spark, dir).contains(Migrations.head))

    // v2: int -> double with values preserved
    val server = spark.read.parquet(s"$dir/server")
    assert(server.schema("gpu_count").dataType == DoubleType)
    assert(server.orderBy(col("server_id")).select("gpu_count")
      .collect().map(_.getDouble(0)).toSeq == Seq(0.0, 8.0))

    // v3: new nullable column, existing rows preserved
    val bench = spark.read.parquet(s"$dir/benchmark")
    assert(bench.columns.contains("category"))
    assert(bench.select("benchmark_id", "category").collect()
      .map(r => (r.getString(0), r.isNullAt(1))).toSeq == Seq(("geekbench:score", true)))

    // v4: default-filled column
    val score = spark.read.parquet(s"$dir/benchmark_score")
    assert(score.select("note").collect().map(_.getString(0)).toSeq == Seq(""))
    assert(score.select("score").collect().map(_.getDouble(0)).toSeq == Seq(1500.0))

    // untouched tables are not rewritten
    assert(new java.io.File(s"$dir/country").lastModified == countryModified)

    // idempotent: a second upgrade applies nothing
    assert(Migrations.upgrade(spark, dir).isEmpty)
  }

  test("an unstamped store applies the whole chain; partial targets work") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft-mig-unstamped")
    Seq(("aws", "m5.large", 0)).toDF("vendor_id", "server_id", "gpu_count")
      .write.parquet(s"$dir/server")
    // upgrade only part-way: the stamp must land on the requested revision
    val applied = Migrations.upgrade(spark, dir, to = "v2_gpu_count_float")
    assert(applied == Seq("v1_base", "v2_gpu_count_float"))
    assert(Migrations.current(spark, dir).contains("v2_gpu_count_float"))
    assert(spark.read.parquet(s"$dir/server").schema("gpu_count").dataType == DoubleType)
    // then to head
    assert(Migrations.upgrade(spark, dir) ==
      Seq("v3_benchmark_category", "v4_score_note"))
  }

  test("guard endpoints: mid-chain stores are refused with an upgrade hint") {
    val dir = v1Store()
    val e = intercept[Sync.SchemaRevisionMismatch] {
      Migrations.requireHead(spark, dir)
    }
    assert(e.getMessage.contains("v1_base") && e.getMessage.contains("upgrade"))
    Migrations.upgrade(spark, dir)
    Migrations.requireHead(spark, dir) // no throw at head

    // the Sync fence sees the same stamp: v1-vs-head metadata mismatches,
    // head-vs-head passes
    val headMeta = spark.read.parquet(s"$dir/_metadata")
    val v1Meta = headMeta.withColumn("value",
      when(col("key") === Sync.RevisionKey, lit("v1_base")).otherwise(col("value")))
    intercept[Sync.SchemaRevisionMismatch] {
      Sync.requireMatchingRevisions(Sync.revisionOf(v1Meta), Sync.revisionOf(headMeta))
    }
    Sync.requireMatchingRevisions(Sync.revisionOf(headMeta), Sync.revisionOf(headMeta))
  }

  test("unknown revisions and downgrades are refused") {
    val dir = v1Store()
    intercept[IllegalArgumentException] {
      Migrations.upgrade(spark, dir, to = "v99_nope")
    }
    Migrations.stamp(spark, dir, "v9_from_the_future")
    val e = intercept[IllegalArgumentException] { Migrations.upgrade(spark, dir) }
    assert(e.getMessage.contains("NEWER engine"))
    Migrations.stamp(spark, dir, Migrations.head)
    intercept[IllegalArgumentException] {
      Migrations.upgrade(spark, dir, to = "v1_base") // downgrade
    }
  }

  test("revisions render as ALTER statements for the JDBC twin") {
    val sql = Migrations.alterSql(DdlGen.Sqlite)
    assert(sql.exists(_.matches(
      "ALTER TABLE server ALTER COLUMN gpu_count SET DATA TYPE REAL")))
    assert(sql.contains("ALTER TABLE benchmark ADD COLUMN category TEXT"))
    assert(sql.contains("ALTER TABLE benchmark_score ADD COLUMN note TEXT DEFAULT ''"))
    // range rendering: only the steps after the given revision
    val tail = Migrations.alterSql(DdlGen.Sqlite, fromExclusive = Some("v3_benchmark_category"))
    assert(tail.size == 1 && tail.head.contains("benchmark_score"))
  }
}
