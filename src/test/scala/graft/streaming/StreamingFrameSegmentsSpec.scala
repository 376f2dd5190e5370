package graft.streaming

import graft.SparkSpec
import graft.dedup.MinHash
import graft.similarity.Cosine
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming maintenance twins for the OTHER two index families (BM25's
  * is StreamingIndexMaintenanceSpec): three streamed waves must equal
  * the batch rebuild exactly — LSH dedup decisions and IVF cell rows —
  * with re-delivery idempotent and per-batch segments holding only
  * their batch. */
object StreamingFrameSegmentsSpec {
  case class Doc(doc_id: Long, text: String)
}

class StreamingFrameSegmentsSpec extends SparkSpec {
  import StreamingFrameSegmentsSpec.Doc

  private val wave1 = Seq(
    Doc(1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    Doc(2L, "an entirely different sentence about catalyst plans and shuffles here"))
  private val wave2 = Seq(
    Doc(3L, "one more unrelated document talking about parquet files and buckets"),
    Doc(4L, "the quick brown fox jumps over the lazy dog near the river bank soon"))
  private val wave3 = Seq(
    Doc(5L, "the quick brown fox jumps over the lazy dog near the river bank forever"))

  test("LSH: streamed segments == fresh full snapshot index, decisions included") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val dir = graft.TestDir("graft_slsh")
    val mem = MemoryStream[Doc]
    val sink = StreamingLshMaintenance.indexSink(sp, dir, "doc_id", "text") _
    val q = mem.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[Doc], id: Long) =>
        sink(ds.toDF(), id))
      .outputMode("append").start()
    for (w <- Seq(wave1, wave2, wave3)) { mem.addData(w: _*); q.processAllAvailable() }
    q.stop()
    assert(Segments.highWater(dir) == 2L)
    // each segment holds only its batch (write volume pin)
    assert(sp.read.parquet(s"$dir/seg2").select("doc_id").distinct().count() == 1L)
    val all = (wave1 ++ wave2 ++ wave3).toDF()
    val batch = Seq(Doc(10L,
      "the quick brown fox jumps over the lazy dog near the river bank sometimes")).toDF()
    val got = MinHash.nearDuplicatesAgainstIndex(batch,
        FrameSegments.readLatest(sp, dir), "doc_id", "text",
        n = 2, threshold = 0.5)
      .orderBy("id_new", "id_old").collect().toSeq
    val want = MinHash.nearDuplicatesAgainst(batch, all, "doc_id", "text",
        n = 2, threshold = 0.5)
      .orderBy("id_new", "id_old").collect().toSeq
    assert(got == want, s"streamed LSH index diverged: $got vs $want")
    // matches span waves — the stream really contributed every segment
    assert(got.map(_.getLong(1)).toSet == Set(1L, 4L, 5L), got.toString)
    // re-delivery is a no-op
    sink((wave3: Seq[Doc]).toDF(), 2L)
    assert(FrameSegments.readLatest(sp, dir).count() ==
      MinHash.snapshotIndex(
        MinHash.hashedShingleArray(all, "doc_id", "text", 2), "doc_id").count())
  }

  test("LSH delete segments: tombstones vanish on read, compaction resolves, re-append after") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_slsh_del")
    val sink = StreamingLshMaintenance
      .indexSink(sp, dir, "doc_id", "text", maxSegments = 3) _
    val del = FrameSegments.deleteFold(sp, dir, "doc_id",
      maxSegments = 3) _
    val probe = Seq(Doc(10L,
      "the quick brown fox jumps over the lazy dog near the river bank sometimes")).toDF()
    def hits(): Set[Long] = MinHash.nearDuplicatesAgainstIndex(probe,
        FrameSegments.readLatest(sp, dir), "doc_id", "text",
        n = 2, threshold = 0.5)
      .collect().map(_.getLong(1)).toSet
    sink(wave1.toDF(), 0L); sink(wave2.toDF(), 1L)
    assert(hits() == Set(1L, 4L))
    // tombstone doc 1 THROUGH the protocol: gone from the served index
    // (rows anti-joined — per-doc pure, so exact), stored segments intact
    del(Seq(1L).map(Tuple1(_)).toDF("doc_id"), 2L)
    assert(hits() == Set(4L))
    // appends continue while the tombstone is live; the 4th segment
    // trips compaction, which RESOLVES the tombstone
    sink(wave3.toDF(), 3L)
    assert(Segments.latest(dir).get.segments == Seq("cmp3"))
    assert(hits() == Set(4L, 5L))
    // post-compaction the id may re-enter (the documented contract)
    sink(Seq(Doc(1L,
      "the quick brown fox jumps over the lazy dog near the river bank today")).toDF(), 4L)
    assert(hits() == Set(1L, 4L, 5L))
    // re-delivered delete batch: below the high water, no-op
    del(Seq(1L).map(Tuple1(_)).toDF("doc_id"), 2L)
    assert(hits() == Set(1L, 4L, 5L))
  }

  test("IVF delete segments share the fold: tombstoned vector leaves the cell rows") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val cents = Cosine.cellCentroids(emb.select(col("label"),
      Cosine.toDouble(col("embedding")).as("v")), "label", "v")
    val dir = graft.TestDir("graft_sivf_del")
    val sink = StreamingIvfMaintenance.cellSink(sp, dir, "vec_id", "embedding",
      cents, "label") _
    sink(emb.filter(col("vec_id") < 100), 0L)
    assert(FrameSegments.readLatest(sp, dir)
      .filter(col("vec_id") === 7).count() == 1)
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(7L).map(Tuple1(_)).toDF("vec_id"), 1L)
    val live = FrameSegments.readLatest(sp, dir)
    assert(live.filter(col("vec_id") === 7).count() == 0)
    assert(live.count() == emb.filter(col("vec_id") < 100).count() - 1)
  }

  test("SQ8: streamed code segments == one-pass coding under pinned stats; saturation live; deletes exact") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    // stats pinned on an 80% base — the streamed waves INCLUDE the other
    // 20%, so out-of-trained-range values flow through the sink and must
    // saturate (the sq8CodeExpr clamp), never corrupt a packed word
    val stats = Cosine.sq8Stats(emb.filter(col("vec_id") % 5 =!= 4), "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dir = graft.TestDir("graft_ssq8")
    val sink = StreamingSq8Maintenance.codeSink(sp, dir, "vec_id", "embedding",
      stats, 64, maxSegments = 2) _
    sink(emb.filter(col("vec_id") % 3 === 0), 0L)
    sink(emb.filter(col("vec_id") % 3 === 1), 1L)
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(Segments.highWater(dir) == 2L)
    val got = FrameSegments.readLatest(sp, dir)
    val want = Cosine.sq8PackedCodes(emb, stats, "vec_id", "embedding", 64)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed SQ8 codes != one-pass coding under the same stats")
    // third wave tripped compaction (3 > 2); re-delivery stays a no-op
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    // every unpacked code in [0, 255] — saturation held for the
    // out-of-range 20%
    val codes = got.select(explode(Cosine.sq8Unpack(col("pcode"), 64)).as("c"))
    assert(codes.filter(col("c") < 0 || col("c") > 255).isEmpty)
    // tombstone through the protocol: exact (per-doc-pure rows)
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(3L).map(Tuple1(_)).toDF("vec_id"), 3L)
    val live = FrameSegments.readLatest(sp, dir)
    assert(live.filter(col("vec_id") === 3).count() == 0)
    assert(live.count() == emb.count() - 1)
    // the served quantized search ranks k rows per query from the
    // streamed + tombstoned frame
    val out = Cosine.sq8SearchCodes(emb.filter(col("vec_id") < 3), live,
      stats, "vec_id", "embedding", 64, k = 3)
    assert(out.count() == 9)
    stats.unpersist()
  }

  test("IVF: streamed cell segments == one-pass assignment; compaction exact") {
    val sp = spark
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val cents = Cosine.cellCentroids(emb.select(col("label"),
      Cosine.toDouble(col("embedding")).as("v")), "label", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dir = graft.TestDir("graft_sivf")
    // maxSegments = 2 so the third wave trips compaction
    val sink = StreamingIvfMaintenance.cellSink(sp, dir, "vec_id", "embedding",
      cents, "label", maxSegments = 2) _
    sink(emb.filter(col("vec_id") % 3 === 0), 0L)
    sink(emb.filter(col("vec_id") % 3 === 1), 1L)
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(Segments.highWater(dir) == 2L)
    val got = FrameSegments.readLatest(sp, dir)
    val want = Cosine.assignToCentroids(emb, "vec_id", "embedding", cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed cells != one-pass assignment")
    // compaction happened (3 > 2): one cmp segment serves
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    // re-delivery after compaction is still a no-op
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    // the served search returns ranked rows from the streamed index
    val out = Cosine.ivfSearchIndex(emb.filter(col("vec_id") < 3),
      emb.select(col("vec_id"), col("embedding")), got, cents,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    assert(out.count() == 9)
    cents.unpersist()
  }

  test("PQ: streamed code segments == one-pass derivation; publish serves the stored tier") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dir = graft.TestDir("graft_spq")
    val sink = StreamingPqMaintenance.codeSink(sp, dir, "vec_id",
      "embedding", cents, "label", maxSegments = 2) _
    sink(emb.filter(col("vec_id") % 3 === 0), 0L)
    sink(emb.filter(col("vec_id") % 3 === 1), 1L)
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(Segments.highWater(dir) == 2L)
    val got = FrameSegments.readLatest(sp, dir)
    val want = Cosine.pqCodes(emb, "vec_id", "embedding")
      .join(Cosine.assignToCentroids(emb, "vec_id", "embedding", cents, "label")
        .select(col("vec_id"), col("assigned_cell").as("label")), Seq("vec_id"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed PQ code rows != one-pass derivation")
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    // tombstone, then publish into the FULL stored tier
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(7L).map(Tuple1(_)).toDF("vec_id"), 3L)
    val serving = graft.TestDir("graft_spq_s")
    StreamingPqMaintenance.publish(sp, dir, emb, cents,
      "vec_id", "embedding", "label", serving,
      centroidFn = Cosine.cellCentroidsSorted)
    assert(new java.io.File(s"$serving/codes").listFiles()
      .exists(_.getName.startsWith("pcell=")), "publish must lay out the cell tree")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val pruned = Cosine.ivfAdcMultiprobeStored(sp, queries, serving,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    val liveEmb = emb.filter(col("vec_id") =!= 7L)
    // the twin's cells must be the ASSIGNED cells (the sink assigns
    // against the stored centroids), not the fixture's raw labels
    val liveCells = Cosine.assignToCentroids(liveEmb, "vec_id", "embedding",
        cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    val inplan = Cosine.ivfAdcTopKMultiprobe(queries, liveEmb,
      liveCells, cents,
      "vec_id", "embedding", "label", k = 3, nProbe = 2,
      centroidFn = Cosine.cellCentroidsSorted)
    assert(pruned.count() > 0)
    assert(pruned.collect().toSet == inplan.collect().toSet)
    assert(pruned.filter(col("neighbor_id") === 7L).count() == 0)
    cents.unpersist()
  }

  test("trained PQ: streamed codes pure under the PINNED book; publish carries the book verbatim") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the pinned book comes from a stored trained artifact (the
    // documented flow: batch re-train refreshes it, the sink pins it)
    val trainDir = graft.TestDir("graft_tpq_t")
    val cells = Cosine.assignToCentroids(emb, "vec_id", "embedding",
        cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    Cosine.writeTrainedPqIndex(emb, cells, "vec_id", "embedding", "label",
      trainDir, iters = 2, centroidFn = Cosine.cellCentroidsSorted,
      centroids = Some(cents))
    val book = sp.read.parquet(s"$trainDir/codebook")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dir = graft.TestDir("graft_tpq")
    val sink = StreamingTrainedPqMaintenance.codeSink(sp, dir, "vec_id",
      "embedding", book, cents, "label", maxSegments = 2) _
    sink(emb.filter(col("vec_id") % 3 === 0), 0L)
    sink(emb.filter(col("vec_id") % 3 === 1), 1L)
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    val got = FrameSegments.readLatest(sp, dir)
    val want = Cosine.pqCodesFromBook(emb, "vec_id", "embedding", book)
      .join(cells, Seq("vec_id"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed trained-PQ code rows != one-pass derivation under the book")
    // tombstone, publish, and pin the CONTRACT: published store ==
    // batch writeTrainedPqIndexWith over the live corpus with the SAME
    // book (streamed ≡ rebuild, the twin's whole point) — and the book
    // itself landed verbatim, never retrained on publish
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(7L).map(Tuple1(_)).toDF("vec_id"), 3L)
    val serving = graft.TestDir("graft_tpq_s")
    StreamingTrainedPqMaintenance.publish(sp, dir, emb, book, cents,
      "vec_id", "embedding", "label", serving)
    val publishedBook = sp.read.parquet(s"$serving/codebook")
    assert(publishedBook.exceptAll(book).isEmpty
        && book.exceptAll(publishedBook).isEmpty,
      "publish must carry the pinned book verbatim")
    val liveEmb = emb.filter(col("vec_id") =!= 7L)
    val batchDir = graft.TestDir("graft_tpq_b")
    Cosine.writeTrainedPqIndexWith(liveEmb,
      cells.filter(col("vec_id") =!= 7L), "vec_id", "embedding", "label",
      book, batchDir, centroids = Some(cents))
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val published = Cosine.ivfAdcMultiprobeStored(sp, queries, serving,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    val rebuilt = Cosine.ivfAdcMultiprobeStored(sp, queries, batchDir,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    assert(published.count() > 0)
    assert(published.collect().toSet == rebuilt.collect().toSet)
    assert(published.filter(col("neighbor_id") === 7L).count() == 0)
    // the two-stage exact-rerank path serves the published store too
    val twoStage = Cosine.pqTopKStored(sp, queries, serving,
      "vec_id", "embedding", k = 3, kShort = 10)
    val twoStageB = Cosine.pqTopKStored(sp, queries, batchDir,
      "vec_id", "embedding", k = 3, kShort = 10)
    assert(twoStage.collect().toSet == twoStageB.collect().toSet)
    book.unpersist()
    cents.unpersist()
  }

  test("BQ: parameter-free streamed sign words == one-pass coding; publish rebuilds the stored tier") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val dir = graft.TestDir("graft_bqs")
    val sink = StreamingBqMaintenance.codeSink(sp, dir, "vec_id",
      "embedding", dim = 64, maxSegments = 2) _
    sink(emb.filter(col("vec_id") % 3 === 0), 0L)
    sink(emb.filter(col("vec_id") % 3 === 1), 1L)
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    val got = FrameSegments.readLatest(sp, dir)
    val want = emb.select(col("vec_id"),
      Cosine.bqCodes(Cosine.toDouble(col("embedding")), 64).as("bwords"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed BQ word rows != one-pass derivation")
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(7L).map(Tuple1(_)).toDF("vec_id"), 3L)
    val serving = graft.TestDir("graft_bqs_s")
    StreamingBqMaintenance.publish(sp, dir, emb, "vec_id", "embedding",
      64, serving)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val published = Cosine.bqTopKStored(sp, queries, serving,
      "vec_id", "embedding", k = 3, kShort = 10)
    val liveEmb = emb.filter(col("vec_id") =!= 7L)
    val inline = Cosine.bqTopK(queries, liveEmb, "vec_id", "embedding",
      dim = 64, k = 3, kShort = 10)
    assert(published.count() > 0)
    assert(published.collect().toSet == inline.collect().toSet,
      "published BQ store != inline search over the live corpus")
    assert(published.filter(col("neighbor_id") === 7L).count() == 0)
  }

  test("residual PQ: streamed codes pure under the pinned (book, centroids) pair; publish carries both verbatim") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    // the pinned pair comes from a stored residual artifact (the
    // documented flow: batch re-train refreshes it, the sink pins it)
    val cents0 = Cosine.cellCentroidsSorted(emb, "label", "embedding")
    val cells = Cosine.assignToCentroids(emb, "vec_id", "embedding",
        cents0, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    val trainDir = graft.TestDir("graft_rpq_t")
    Cosine.writeResidualPqIndex(emb, cells, "vec_id", "embedding", "label",
      cents0, trainDir, iters = 2, centroidFn = Cosine.cellCentroidsSorted)
    val book = sp.read.parquet(s"$trainDir/codebook")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = sp.read.parquet(s"$trainDir/centroids")
      .withColumnRenamed("cell", "label")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dir = graft.TestDir("graft_rpq")
    val sink = StreamingResidualPqMaintenance.codeSink(sp, dir, "vec_id",
      "embedding", book, cents, "label", maxSegments = 2) _
    sink(emb.filter(col("vec_id") % 3 === 0), 0L)
    sink(emb.filter(col("vec_id") % 3 === 1), 1L)
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    val got = FrameSegments.readLatest(sp, dir)
    val wantCells = Cosine.assignToCentroids(emb, "vec_id", "embedding",
        cents, "label")
      .select(col("vec_id"), col("assigned_cell").as("label"))
    val want = Cosine.pqCodesFromBook(
        Cosine.residualFrame(emb, wantCells, cents, "vec_id", "embedding",
          "label"),
        "vec_id", "resv", book)
      .join(wantCells, Seq("vec_id"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed residual code rows != one-pass derivation under the pair")
    // tombstone, publish, pin: published store == batch
    // writeResidualPqIndexWith over the live corpus with the SAME pair,
    // and both halves of the pair landed verbatim
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(7L).map(Tuple1(_)).toDF("vec_id"), 3L)
    val serving = graft.TestDir("graft_rpq_s")
    StreamingResidualPqMaintenance.publish(sp, dir, emb, book, cents,
      "vec_id", "embedding", "label", serving)
    val pubBook = sp.read.parquet(s"$serving/codebook")
    assert(pubBook.exceptAll(book).isEmpty && book.exceptAll(pubBook).isEmpty,
      "publish must carry the pinned book verbatim")
    val pubCents = sp.read.parquet(s"$serving/centroids")
      .withColumnRenamed("cell", "label")
    assert(pubCents.exceptAll(cents).isEmpty && cents.exceptAll(pubCents).isEmpty,
      "publish must carry the pinned centroids verbatim")
    val liveEmb = emb.filter(col("vec_id") =!= 7L)
    val batchDir = graft.TestDir("graft_rpq_b")
    Cosine.writeResidualPqIndexWith(liveEmb,
      wantCells.filter(col("vec_id") =!= 7L), "vec_id", "embedding", "label",
      book, cents, batchDir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val published = Cosine.ivfAdcMultiprobeStored(sp, queries, serving,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    val rebuilt = Cosine.ivfAdcMultiprobeStored(sp, queries, batchDir,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    assert(published.count() > 0)
    assert(published.collect().toSet == rebuilt.collect().toSet)
    assert(published.filter(col("neighbor_id") === 7L).count() == 0)
    val twoStage = Cosine.pqTopKStored(sp, queries, serving,
      "vec_id", "embedding", k = 3, kShort = 10)
    val twoStageB = Cosine.pqTopKStored(sp, queries, batchDir,
      "vec_id", "embedding", k = 3, kShort = 10)
    assert(twoStage.collect().toSet == twoStageB.collect().toSet)
    book.unpersist()
    cents.unpersist()
  }

  test("prefix: streamed rotated segments == one-pass derivation; publish serves pruned") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    // rotation pinned from an 80% base — the streamed waves include the
    // rest, proving the sink derives under the PINNED basis, never
    // retrains per batch (the SQ8 stats contract)
    val rot = Cosine.moment2Rotation(emb.filter(col("vec_id") % 5 =!= 4),
      "embedding", p = 16)
    val dir = graft.TestDir("graft_spref")
    val sink = StreamingPrefixMaintenance.rowSink(sp, dir, "vec_id",
      "embedding", p = 16, rotation = rot, maxSegments = 2) _
    sink(emb.filter(col("vec_id") % 3 === 0), 0L)
    sink(emb.filter(col("vec_id") % 3 === 1), 1L)
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(Segments.highWater(dir) == 2L)
    val got = FrameSegments.readLatest(sp, dir)
    val want = emb.select(col("vec_id"),
      Cosine.rotatedPrefix(Cosine.toDouble(col("embedding")), rot).as("prefix"),
      col("embedding").as("full"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed prefix rows != one-pass derivation under the pinned rotation")
    // compaction tripped (3 > 2); re-delivery stays a no-op
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    sink(emb.filter(col("vec_id") % 3 === 2), 2L)
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    // tombstone, then PUBLISH into the pruned serving layout
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(7L).map(Tuple1(_)).toDF("vec_id"), 3L)
    val serving = graft.TestDir("graft_spref_s")
    StreamingPrefixMaintenance.publish(sp, dir, "vec_id", p = 16, serving,
      rotation = rot)
    assert(new java.io.File(s"$serving/vectors").listFiles()
      .exists(_.getName.startsWith("pbucket=")), "publish must lay out the bucket tree")
    val queries = emb.filter(col("vec_id") < 3)
    val pruned = Cosine.prefixTopKStored(sp, queries, serving,
      "vec_id", "embedding", k = 3, kShort = 8)
    val live = Cosine.prefixTopKRotated(queries,
      emb.filter(col("vec_id") =!= 7L), "vec_id", "embedding", rot,
      k = 3, kShort = 8)
    assert(pruned.count() > 0)
    assert(pruned.collect().toSet == live.collect().toSet)
    assert(pruned.filter(col("neighbor_id") === 7L).count() == 0)
  }

  test("IVF publish: streamed cells -> pruned per-cell serving artifact, search-identical") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val cents = Cosine.cellCentroidsSorted(emb, "label", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dir = graft.TestDir("graft_sivf_pub")
    val sink = StreamingIvfMaintenance.cellSink(sp, dir, "vec_id", "embedding",
      cents, "label") _
    sink(emb.filter(col("vec_id") % 2 === 0), 0L)
    sink(emb.filter(col("vec_id") % 2 === 1), 1L)
    FrameSegments.deleteFold(sp, dir, "vec_id")(
      Seq(7L).map(Tuple1(_)).toDF("vec_id"), 2L)
    val serving = graft.TestDir("graft_sivf_pub_s")
    StreamingIvfMaintenance.publish(sp, dir,
      emb.select(col("vec_id"), col("embedding")), cents,
      "vec_id", "embedding", "label", serving)
    assert(new java.io.File(s"$serving/lists").listFiles()
      .exists(_.getName.startsWith("pcell=")), "publish must lay out the cell tree")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
    val pruned = Cosine.ivfSearchStored(sp, queries, serving,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    val live = Cosine.ivfSearchIndex(queries,
      emb.select(col("vec_id"), col("embedding")),
      FrameSegments.readLatest(sp, dir), cents,
      "vec_id", "embedding", "label", k = 3, nProbe = 2)
    assert(pruned.collect().toSet == live.collect().toSet)
    assert(pruned.count() > 0)
    // the tombstoned vector is gone from the published artifact
    assert(pruned.filter(col("neighbor_id") === 7L).count() == 0
      && sp.read.parquet(s"$serving/lists")
           .filter(col("vec_id") === 7L).count() == 0)
    cents.unpersist()
  }
}
