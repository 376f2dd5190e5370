package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ANN SERVING shape: an IVF index (trained centroids + cell-assigned
  * corpus) persisted as parquet when the corpus shard is finalized, then
  * queries probe the STORED index — no centroid recompute, no corpus
  * re-assignment. Pins the x-family round trip the way IndexRoundTripSpec
  * pins the d10 LSH index: decisions identical from the stored form. */
class IvfIndexSpec extends SparkSpec {

  test("ivf search from a parquet-persisted index is decision-identical") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // "train": centroids from the label init + one assignment pass
    val cents = Cosine.cellCentroids(emb.select(col("label"),
      Cosine.toDouble(col("embedding")).as("v")), "label", "v")
    val assigned = Cosine.assignToCentroids(emb, "vec_id", "embedding", cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("cell"))
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
    // persist both index halves, reload
    val dir = graft.TestDir("ivfidx")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    assigned.write.mode("overwrite").parquet(s"$dir/corpus")
    val storedCents = spark.read.parquet(s"$dir/centroids")
    val storedCorpus = spark.read.parquet(s"$dir/corpus")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    // live path: same index computed in-plan
    val live = Cosine.ivfTopKMultiprobe(queries, assigned, "vec_id", "embedding",
      "cell", k = 5, nProbe = 2)
    // served path: everything read back from parquet
    val served = Cosine.ivfTopKMultiprobe(queries, storedCorpus, "vec_id",
      "embedding", "cell", k = 5, nProbe = 2)
    assert(served.exceptAll(live).isEmpty && live.exceptAll(served).isEmpty)
    // the stored centroid table alone also reproduces assignment exactly
    val reassign = Cosine.assignToCentroids(emb, "vec_id", "embedding",
      storedCents, "label")
    val liveassign = Cosine.assignToCentroids(emb, "vec_id", "embedding",
      cents, "label")
    assert(reassign.exceptAll(liveassign).isEmpty
      && liveassign.exceptAll(reassign).isEmpty)
    assert(live.count() > 0)
  }

  test("ivfAppendCells from a stored index == one-pass assignment of the union") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val old = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 =!= 0)
    val cents = Cosine.cellCentroids(old.select(col("label"),
      Cosine.toDouble(col("embedding")).as("v")), "label", "v")
    val dir = graft.TestDir("ivfapp")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    Cosine.assignToCentroids(old, "vec_id", "embedding", cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
      .write.mode("overwrite").parquet(s"$dir/cells")
    val storedCents = spark.read.parquet(s"$dir/centroids")
    // append the batch against the STORED centroids/cells — no old re-read
    val appended = Cosine.ivfAppendCells(batch, "vec_id", "embedding",
      storedCents, spark.read.parquet(s"$dir/cells"), "label")
    // assignment is per-row: the appended cells must equal assigning the
    // whole corpus in one pass under the same centroid table
    val onePass = Cosine.assignToCentroids(emb, "vec_id", "embedding",
        storedCents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    assert(appended.exceptAll(onePass).isEmpty && onePass.exceptAll(appended).isEmpty)
    // and searching the appended index returns full ranked rows
    val out = Cosine.ivfSearchIndex(emb.filter(col("vec_id") < 5),
      emb.select(col("vec_id"), col("embedding")), appended, storedCents,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    assert(out.count() == 15)
  }

  test("ivfDeleteCells == one-pass assignment of the corpus minus the deleted") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Cosine.cellCentroids(emb.select(col("label"),
      Cosine.toDouble(col("embedding")).as("v")), "label", "v")
    val cells = Cosine.assignToCentroids(emb, "vec_id", "embedding", cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    val tomb = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    val afterDel = Cosine.ivfDeleteCells(tomb, cells, "vec_id")
    val onePass = Cosine.assignToCentroids(
        emb.filter(col("vec_id") % 7 =!= 0), "vec_id", "embedding", cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    assert(afterDel.exceptAll(onePass).isEmpty && onePass.exceptAll(afterDel).isEmpty)
    // deleted vectors vanish from search; survivors still rank
    val out = Cosine.ivfSearchIndex(emb.filter(col("vec_id") < 5),
      emb.select(col("vec_id"), col("embedding")), afterDel, cents,
      "vec_id", "embedding", "label", k = 5, nProbe = 2)
    assert(out.count() > 0)
    assert(out.filter(col("neighbor_id") % 7 === 0).count() == 0)
    // delete + append re-indexes a moved vector against the SAME centroids
    val moved = emb.filter(col("vec_id") === 7L)
      .select(col("vec_id"), col("embedding"))
    val reIdx = Cosine.ivfAppendCells(moved, "vec_id", "embedding",
      cents, afterDel, "label")
    val want = Cosine.assignToCentroids(
        emb.filter(col("vec_id") % 7 =!= 0 || col("vec_id") === 7L),
        "vec_id", "embedding", cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    assert(reIdx.exceptAll(want).isEmpty && want.exceptAll(reIdx).isEmpty)
  }

  test("ivfSearchIndex over the in-plan index == ivfTopKMultiprobe (refactor guard)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val viaIndex = Cosine.ivfSearchIndex(queries,
      emb.select(col("vec_id"), col("embedding")),
      emb.select(col("vec_id"), col("label")),
      Cosine.cellCentroids(emb.select(col("label"),
        Cosine.toDouble(col("embedding")).as("v")), "label", "v"),
      "vec_id", "embedding", "label", k = 5, nProbe = 3)
    val direct = Cosine.ivfTopKMultiprobe(queries, emb, "vec_id", "embedding",
      "label", k = 5, nProbe = 3)
    assert(viaIndex.exceptAll(direct).isEmpty && direct.exceptAll(viaIndex).isEmpty)
  }

  test("k alternating appends/deletes: one-leaf cells, == one-pass assignment at every k") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Cosine.cellCentroids(emb.select(col("label"),
      Cosine.toDouble(col("embedding")).as("v")), "label", "v")
    def assign(pred: org.apache.spark.sql.Column) =
      Cosine.assignToCentroids(emb.filter(pred), "vec_id", "embedding", cents, "label")
        .select(col("vec_id"), col("assigned_cell").as("label"))
    val id = col("vec_id")
    var live = id % 3 === 0
    val dir = graft.TestDir("ivffold")
    assign(live).write.mode("overwrite").parquet(s"$dir/cells")
    var cells = spark.read.parquet(s"$dir/cells")
    val ops: Seq[Either[org.apache.spark.sql.Column, org.apache.spark.sql.Column]] = Seq(
      Left(id % 3 === 1),
      Right(id % 2 === 0),
      Left(id % 3 === 2),
      Right(id % 5 === 0 || id === 100000L), // an absent id is ignored
      Left(id % 2 === 0 && id % 3 =!= 2))   // deleted ids re-appended
    val queries = emb.filter(id < 6)
    val vectors = emb.select(col("vec_id"), col("embedding"))
    def search(c: org.apache.spark.sql.DataFrame) =
      Cosine.ivfSearchIndex(queries, vectors, c, cents, "vec_id", "embedding",
        "label", k = 5, nProbe = 2)
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val MaxNodes = 4
    val searchNodes = ops.zipWithIndex.map { case (op, i) =>
      val next = op match {
        case Left(batch) =>
          live = live || batch
          Cosine.ivfAppendCells(emb.filter(batch), "vec_id", "embedding",
            cents, cells, "label")
        case Right(tomb) =>
          live = live && !tomb
          Cosine.ivfDeleteCells(emb.filter(tomb).select(id), cells, "vec_id")
      }
      graft.ops.Checkpoint.releaseLeaves(cells) // superseded by `next`
      cells = next
      val k = i + 1
      val n = cells.queryExecution.analyzed.collect { case p => p }.size
      assert(n <= MaxNodes, s"op $k: cells plan over $n analyzed nodes")
      assert(same(cells, assign(live)), s"op $k: cells")
      assert(same(search(cells), search(assign(live))), s"op $k: search")
      search(cells).queryExecution.analyzed.collect { case p => p }.size
    }
    assert(searchNodes.distinct.size == 1, searchNodes.toString)
    graft.ops.Checkpoint.releaseLeaves(cells)
  }
}
