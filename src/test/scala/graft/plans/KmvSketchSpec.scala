package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmvSketchSpec extends SparkSpec {

  private def hashed(n: Int) = {
    val sp = spark; import sp.implicits._
    (1 to n).map(i => s"tok-$i").toDF("tok")
      .select(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
  }

  test("below k the sketch is the exact distinct count") {
    val est = hashed(100).agg(KmvSketchAgg.kmvDistinct(col("h"), 256)).head.getDouble(0)
    assert(est == 100.0)
    // duplicates don't inflate it
    val dup = hashed(100).unionAll(hashed(100))
      .agg(KmvSketchAgg.kmvDistinct(col("h"), 256)).head.getDouble(0)
    assert(dup == 100.0)
  }

  test("above k the estimate lands within the ~1/sqrt(k) error band") {
    val n = 20000
    val est = hashed(n).agg(KmvSketchAgg.kmvDistinct(col("h"), 256)).head.getDouble(0)
    assert(math.abs(est - n) / n < 0.25, s"estimate $est too far from $n")
  }

  test("estimate is independent of partitioning (merge correctness)") {
    val df = hashed(5000)
    val one = df.coalesce(1).agg(KmvSketchAgg.kmvDistinct(col("h"), 64)).head.getDouble(0)
    val many = df.repartition(13).agg(KmvSketchAgg.kmvDistinct(col("h"), 64)).head.getDouble(0)
    val grouped = df.withColumn("g", pmod(col("h"), lit(7)))
      .repartition(5, col("g"))
      .agg(KmvSketchAgg.kmvDistinct(col("h"), 64)).head.getDouble(0)
    assert(one == many && one == grouped,
      s"partitioning changed the sketch: $one / $many / $grouped")
  }

  test("estimate stays in band across random cardinalities and k") {
    val next = seededInts(7L)
    var exactSeen = 0
    var bandSeen = 0
    (1 to 10).foreach { _ =>
      val n = 20 + next(800)
      val k = 128 << next(2) // 128, 256 → both branches get drawn
      val est = hashed(n).agg(KmvSketchAgg.kmvDistinct(col("h"), k)).head.getDouble(0)
      // eval is exact strictly BELOW k; at n == k the (k-1)·2^60/h_k
      // estimator already runs and is not exactly n
      if (n < k) { exactSeen += 1; assert(est == n.toDouble, s"n=$n k=$k est=$est") }
      else {
        bandSeen += 1
        // 5/sqrt(k) ≈ 5-sigma band: deterministic data, so a failure
        // means a real estimator bug, not sampling bad luck
        val tol = 5.0 / math.sqrt(k)
        assert(math.abs(est - n) / n < tol, s"n=$n k=$k est=$est tol=$tol")
      }
    }
    assert(exactSeen > 0 && bandSeen > 0,
      s"both branches must be exercised: exact=$exactSeen band=$bandSeen")
  }

  test("stored per-shard sketches merge to the direct whole-corpus estimate") {
    val sp = spark; import sp.implicits._
    val df = (1 to 3000).map(i => (i % 7, i.toLong * 1000003L)).toDF("day", "h")
    // one stored sketch per "day" (what an incremental pipeline persists)...
    val daily = df.groupBy("day").agg(KmvSketchAgg.kmvState(col("h"), 64).as("sketch"))
    assert(daily.schema("sketch").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(daily.select(length(col("sketch"))).collect().forall(_.getInt(0) <= 64 * 8))
    // ...merged later across days == sketching the union directly, exactly
    val merged = daily.agg(KmvSketchAgg.kmvMerge(col("sketch"), 64)).head.getDouble(0)
    val direct = df.agg(KmvSketchAgg.kmvDistinct(col("h"), 64)).head.getDouble(0)
    assert(merged == direct, s"merged=$merged direct=$direct")
    // and a sketch round-tripped through parquet still merges identically
    val dir = graft.TestDir("kmv") + "/s"
    daily.write.parquet(dir)
    val reread = sp.read.parquet(dir)
      .agg(KmvSketchAgg.kmvMerge(col("sketch"), 64)).head.getDouble(0)
    assert(reread == direct)
  }

  test("nulls are ignored; works per group") {
    val sp = spark; import sp.implicits._
    val df = Seq(("a", Some(10L)), ("a", None), ("a", Some(20L)), ("b", Some(10L)))
      .toDF("g", "h")
    val out = df.groupBy("g").agg(KmvSketchAgg.kmvDistinct(col("h"), 8).as("est"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(out.toSeq == Seq(("a", 2.0), ("b", 1.0)))
  }
}
