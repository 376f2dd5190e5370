package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ShardingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sharded write round-trips: partition dirs, membership, manifest parity") {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
    val out = graft.TestDir("shards")
    Sharding.shardedWrite(docs, "doc_id", out, nShards = 4)
    // one partition directory per shard
    val subdirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).sorted
    assert(subdirs.sameElements((0 until 4).map(i => s"shard=$i")),
      subdirs.mkString(","))
    // reload: no rows lost or duplicated, membership matches the shard rule
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    val misplaced = back.filter(
      col("shard") =!= Sharding.shardCol(col("doc_id"), 4)).count()
    assert(misplaced == 0, s"$misplaced docs in the wrong shard")
    // manifest agrees with what was actually written, shard by shard
    val manifest = Sharding.manifest(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4), r.getLong(5)))
      .toMap
    // partition-column read-back infers INT — normalize to long
    val measured = back.groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo"),
        max(col("doc_id")).as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(manifest == measured, s"manifest=$manifest measured=$measured")
    // the checksum is partition-merge invariant: recompute under a hostile
    // repartitioning and it must not move
    val a = Sharding.manifest(docs, "doc_id", "text", 4)
      .select(col("shard"), col("checksum"))
    val b = Sharding.manifest(docs.repartition(17), "doc_id", "text", 4)
      .select(col("shard"), col("checksum"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
