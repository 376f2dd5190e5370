package graft.plans

import graft.{SourceScan, SparkSpec}
import org.apache.spark.sql.functions._

class BloomSketchSpec extends SparkSpec {

  private def hashed(range: Range, tag: String = "tok") = {
    val sp = spark; import sp.implicits._
    range.map(i => s"$tag-$i").toDF("tok")
      .select(xxhash64(col("tok")).as("h"))
  }

  private val M = 1 << 16 // 64 Kbit state for the specs
  private val J = 7

  test("no false negatives: every inserted key probes true") {
    val state = hashed(1 to 2000)
      .agg(BloomSketchAgg.bloomState(col("h"), M, J)).head.getAs[Array[Byte]](0)
    val misses = hashed(1 to 2000)
      .filter(!BloomSketchAgg.bloomContains(lit(state), col("h")))
      .count()
    assert(misses == 0, s"$misses inserted keys probed false")
  }

  test("false-positive rate on disjoint keys stays near the design point") {
    val state = hashed(1 to 2000)
      .agg(BloomSketchAgg.bloomState(col("h"), M, J)).head.getAs[Array[Byte]](0)
    val fp = hashed(1 to 20000, "other")
      .filter(BloomSketchAgg.bloomContains(lit(state), col("h")))
      .count()
    // m/n ≈ 32.8 bits/key, j=7 → theoretical fp ≈ 2e-4; allow 10×
    assert(fp <= 40, s"$fp/20000 false positives — far above design rate")
  }

  test("state is independent of partitioning, and OR-merge of shard states equals the whole build") {
    val df = hashed(1 to 5000)
    val one = df.coalesce(1)
      .agg(BloomSketchAgg.bloomState(col("h"), M, J)).head.getAs[Array[Byte]](0)
    val many = df.repartition(13)
      .agg(BloomSketchAgg.bloomState(col("h"), M, J)).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, many), "partitioning changed the state")
    // shard by key range, store per-shard states, OR-union them back
    val sharded = df.withColumn("shard", pmod(col("h"), lit(4)))
      .groupBy(col("shard"))
      .agg(BloomSketchAgg.bloomState(col("h"), M, J).as("state"))
      .agg(BloomSketchAgg.bloomMerge(col("state"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, sharded),
      "sharded OR-union differs from the single build")
  }

  test("mismatched sketch shapes refuse to merge") {
    val a = hashed(1 to 10).agg(BloomSketchAgg.bloomState(col("h"), M, J).as("s"))
    val b = hashed(1 to 10).agg(BloomSketchAgg.bloomState(col("h"), M * 2, J).as("s"))
    val err = intercept[Exception] {
      a.unionAll(b).agg(BloomSketchAgg.bloomMerge(col("s"))).head
    }
    assert(err.getMessage != null)
  }

  test("SQL surface: bloom_state / bloom_merge / bloom_contains registered") {
    GraftExtensions.register(spark)
    hashed(1 to 500).createOrReplaceTempView("bloom_in")
    val row = spark.sql(
      """WITH st AS (SELECT bloom_state(h, 65536, 7) AS s FROM bloom_in)
        |SELECT sum(CASE WHEN bloom_contains(st.s, b.h) THEN 1 ELSE 0 END) AS hits,
        |       count(*) AS total
        |FROM bloom_in b CROSS JOIN st""".stripMargin).head
    assert(row.getLong(0) == row.getLong(1)) // all inserted keys probe true
    val merged = spark.sql(
      """WITH st AS (SELECT pmod(h, 3) AS g, bloom_state(h, 65536, 7) AS s
        |            FROM bloom_in GROUP BY pmod(h, 3))
        |SELECT bloom_merge(s) FROM st""".stripMargin).head.getAs[Array[Byte]](0)
    val whole = spark.sql("SELECT bloom_state(h, 65536, 7) FROM bloom_in")
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, whole))
  }

  test("probe works identically under codegen and interpreted eval") {
    val state = hashed(1 to 100)
      .agg(BloomSketchAgg.bloomState(col("h"), M, J)).head.getAs[Array[Byte]](0)
    val probe = hashed(1 to 200)
    val viaPlan = probe
      .withColumn("c", BloomSketchAgg.bloomContains(lit(state), col("h")))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    probe.collect().foreach { r =>
      val h = r.getLong(0)
      assert(viaPlan(h) == BloomBits.contains(state, h))
    }
  }

  test("the Bloom prefilter is the only scalar subquery a program builds") {
    // the c5 rule (sketch state reaches a probe as a runtime constant,
    // never through a join column) is kept in BloomSketchAgg.prefilter
    val offenders = SourceScan.offenders("""ScalarSubquery\(""".r,
      "graft/plans/BloomSketchAgg.scala")
    assert(offenders.isEmpty,
      s"a scalar subquery built outside BloomSketchAgg.prefilter: $offenders")
  }
}
