package graft.streaming

import graft.SparkSpec
import graft.similarity.Cosine
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twin #11: semantic decontamination of a train-doc stream
  * against the stored eval-split SRP index must equal the batch run over
  * everything streamed — row-for-row, because the per-doc decision is a
  * pure function of (doc, fixed index, threshold) and batches never
  * interact — and re-delivered batches must rewrite identical rows. */
object StreamingDecontaminateSpec {
  case class Vec(vec_id: Long, embedding: Array[Float])
}

class StreamingDecontaminateSpec extends SparkSpec {
  import StreamingDecontaminateSpec.Vec

  test("streamed decisions over 3 waves == batch decisions over the union") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val bucket = graft.text.TextAnalysis.splitBucket(col("vec_id"))
    val idxDir = graft.TestDir("graft_sdec_idx")
    Cosine.writeSrpIndex(emb.filter(bucket >= 90), "vec_id", "embedding",
      nPlanes = 3, dim = 64, nTables = 2, dir = idxDir)
    val outDir = graft.TestDir("graft_sdec_out")

    val train = emb.filter(bucket < 90)
      .select(col("vec_id"), col("embedding"))
      .as[Vec].collect().toSeq
    val waves = train.grouped(math.max(1, train.size / 3 + 1)).toSeq
    val mem = MemoryStream[Vec]
    val sink = StreamingDecontaminate.sink(sp, idxDir, outDir,
      "vec_id", "embedding", threshold = 0.34) _
    val q = mem.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[Vec], id: Long) =>
        sink(ds.toDF(), id))
      .outputMode("append").start()
    for (w <- waves) { mem.addData(w: _*); q.processAllAvailable() }
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)), r.getBoolean(2))).toSet
    val streamed = canon(sp.read.parquet(s"$outDir/b*")
      .select(col("vec_id"), col("max_test_sim"), col("kept")))
    val batch = canon(Cosine.semanticDecontaminateStored(sp,
      emb.filter(bucket < 90), idxDir, "vec_id", "embedding", 0.34))
    assert(streamed == batch,
      s"streamed ${streamed.size} rows != batch ${batch.size}")
    assert(streamed.exists(!_._3) && streamed.exists(_._3))

    // re-delivery: replaying wave 0 rewrites b0 with identical rows
    sink(waves.head.toDF(), 0L)
    assert(canon(sp.read.parquet(s"$outDir/b*")
      .select(col("vec_id"), col("max_test_sim"), col("kept"))) == batch)
  }
}
