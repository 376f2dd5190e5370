package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BottomKAggSpec extends SparkSpec {

  private def frame(n: Int, parts: Int) = {
    val sp = spark; import sp.implicits._
    (0 until n).map(i => (s"g${i % 3}", (i * 2654435761L) % 100000L, i.toLong))
      .toDF("g", "h", "v").repartition(parts)
  }

  test("native agg equals the window row_number form, any partitioning") {
    val sp = spark
    for (parts <- Seq(1, 7)) {
      val df = frame(5000, parts)
      val agg = BottomKAgg.bottomKValues(col("h"), col("v"), 16)
      val viaAgg = df.groupBy(col("g")).agg(agg.as("vs"))
        .select(col("g"), explode(col("vs")).as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("h"))
      val viaWindow = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 16)
        .collect().map(r => r.getString(0) -> r.getLong(2)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      assert(viaAgg == viaWindow, s"parts=$parts: $viaAgg vs $viaWindow")
    }
  }

  test("values come back ordered by hash; k bounds the group sample") {
    val df = frame(1000, 4)
    val out = df.groupBy(col("g"))
      .agg(BottomKAgg.bottomKValues(col("h"), col("v"), 8).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out.values.forall(_.size == 8))
    // re-derive the hash of each sampled value and check ascending
    val hOf = (0 until 1000).map(i => i.toLong -> (i * 2654435761L) % 100000L).toMap
    out.values.foreach { vs =>
      val hs = vs.map(hOf)
      assert(hs == hs.sorted, s"not hash-ordered: $hs")
    }
  }

  test("state/merge round trip: merged shard samples == the direct sample") {
    val sp = spark; import sp.implicits._
    val df = frame(3000, 5).withColumn("shard", col("v") % 4)
    val direct = df.groupBy(col("g"))
      .agg(BottomKAgg.bottomKValues(col("h"), col("v"), 16).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // states per (g, shard) THROUGH A PARQUET ROUND TRIP, then merged
    val dir = graft.TestDir("graft_bk_states")
    df.groupBy(col("g"), col("shard"))
      .agg(BottomKAgg.bottomKState(col("h"), col("v"), 16).as("st"))
      .write.mode("overwrite").parquet(dir)
    val merged = sp.read.parquet(dir).groupBy(col("g"))
      .agg(BottomKAgg.bottomKMerge(col("st"), 16).as("vs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(merged == direct, s"merge path diverged:\n$merged\nvs\n$direct")
  }

  test("SQL registration: bottom_k_values callable from spark.sql") {
    val sp = spark
    GraftExtensions.register(sp)
    frame(200, 3).createOrReplaceTempView("bk_in")
    val out = sp.sql(
      "SELECT g, bottom_k_values(h, v, 4) AS vs FROM bk_in GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out.size == 3 && out.values.forall(_.size == 4))
  }
}
