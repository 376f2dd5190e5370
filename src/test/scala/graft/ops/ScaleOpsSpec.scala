package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("bucketed join runs without a shuffle exchange") {
    val sp = spark; import sp.implicits._
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      val facts = (1L to 1000L).map(i => (i % 100, s"f$i")).toDF("k", "payload")
      val dims = (0L to 99L).map(i => (i, s"d$i")).toDF("k", "attr")
      Bucketing.writeBucketed(facts, "b_facts", "k", 8)
      Bucketing.writeBucketed(dims, "b_dims", "k", 8)
      val joined = Bucketing.bucketedJoin(sp, "b_facts", "b_dims", "k")
      assert(joined.count() == 1000L)
      assert(!Bucketing.hasShuffle(joined),
        "bucketed join should not shuffle:\n" + joined.queryExecution.executedPlan)
      // identical unbucketed join DOES shuffle — the comparison point
      val unbucketed = facts.join(dims, "k")
      assert(Bucketing.hasShuffle(unbucketed))
    } finally {
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      sp.sql("DROP TABLE IF EXISTS b_facts")
      sp.sql("DROP TABLE IF EXISTS b_dims")
    }
  }
}

class TopKPlanSpec extends SparkSpec {

  test("o3_global_topk plans as TakeOrderedAndProject, not a global-sort window") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft-topk")
    try {
      (1L to 500L).map(i => (i, (i * 37 % 499) * 1.0)).toDF("o_orderkey", "o_totalprice")
        .write.parquet(s"$dir/orders.parquet")
      val df = graft.queries.MiscQueries.queries("o3_global_topk")(sp, dir)
      assert(df.count() == 10)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), plan)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}

class SyncSpec extends SparkSpec {

  test("sync produces upserts plus inactive flips with stats") {
    val sp = spark; import sp.implicits._
    val target = Seq(("a", 1.0, "active"), ("b", 2.0, "active"), ("c", 3.0, "active"))
      .toDF("id", "v", "status")
    val source = Seq(("a", 1.0, "active"), ("b", 2.5, "active"), ("d", 4.0, "active"))
      .toDF("id", "v", "status")
    val r = Sync.sync(source, target, Seq("id"))
    assert(r.stats == Map("unchanged" -> 1L, "update" -> 1L, "new" -> 1L, "deleted" -> 1L))
    val rows = r.standard.collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getString(2))).toSet
    assert(rows == Set(("b", 2.5, "active"), ("d", 4.0, "active"), ("c", 3.0, "inactive")))
  }

  test("scd frame stamps versions and applyScd keeps prior ones, idempotently") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    val target = Seq(("a", 1.0, "active"), ("b", 2.0, "active"), ("c", 3.0, "active"))
      .toDF("id", "v", "status").withColumn("observed_at", lit(t1))
    val source = Seq(("b", 2.5, "active"), ("d", 4.0, "active"))
      .toDF("id", "v", "status").withColumn("observed_at", lit(t2))
    val r = Sync.sync(source, target, Seq("id"), lit(t2))
    // scd change set: updated b + new d at t2 (their own stamp), deleted
    // a and c flipped inactive at the sync stamp
    val scd = r.scd.collect()
      .map(x => (x.getAs[String]("id"), x.getAs[String]("status"),
        x.getAs[java.sql.Timestamp]("observed_at"))).toSet
    assert(scd == Set(("b", "active", t2), ("d", "active", t2),
      ("a", "inactive", t2), ("c", "inactive", t2)))
    val history = Sync.applyScd(target, r.scd, Seq("id"))
    assert(history.count() == 7) // 3 v1 rows + 4 v2 rows
    // re-applying the same sync changes nothing (same (pk, observed_at))
    assert(Sync.applyScd(history, r.scd, Seq("id")).count() == 7)
    // current view: latest version per key
    val current = Scd.currentView(history, Seq("id")).collect()
      .map(x => x.getAs[String]("id") ->
        ((x.getAs[Double]("v"), x.getAs[String]("status")))).toMap
    assert(current == Map("a" -> ((1.0, "inactive")), "b" -> ((2.5, "active")),
      "c" -> ((3.0, "inactive")), "d" -> ((4.0, "active"))))
  }

  test("revision guard: matching revisions sync, mismatch or absence refuse") {
    val sp = spark; import sp.implicits._
    def meta(rev: Option[String]) =
      (Seq("sc_version" -> "0.1.1") ++ rev.map(Sync.RevisionKey -> _))
        .toDF("key", "value")
    val target = Seq(("a", 1.0, "active")).toDF("id", "v", "status")
    val source = Seq(("a", 2.0, "active")).toDF("id", "v", "status")

    val ok = Sync.syncGuarded(source, target, Seq("id"),
      meta(Some("r7")), meta(Some("r7")))
    assert(ok.stats == Map("update" -> 1L))

    val mismatch = intercept[Sync.SchemaRevisionMismatch] {
      Sync.syncGuarded(source, target, Seq("id"), meta(Some("r7")), meta(Some("r8")))
    }
    assert(mismatch.getMessage.contains("r7") && mismatch.getMessage.contains("r8"))
    // an un-stamped side is as unsafe as a mismatched one
    intercept[Sync.SchemaRevisionMismatch] {
      Sync.syncGuarded(source, target, Seq("id"), meta(None), meta(Some("r8")))
    }
  }
}

class JsonDumpSpec extends SparkSpec {

  test("dump writes partitioned json with self-contained records and schema file") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft-dump")
    val df = Seq(("us", "NA", 1.5), ("de", "EU", 2.5)).toDF("id", "cont", "v")
    graft.sinks.JsonDump.dump(df, dir, "country", Seq("id"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/country/_schema.json")))
    val back = sp.read.json(s"$dir/country/__pk_id=us")
    val row = back.collect().head
    assert(row.getAs[String]("id") == "us") // pk embedded despite partitioning
    assert(row.getAs[Double]("v") == 1.5)
  }
}
