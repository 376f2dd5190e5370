package graft.streaming

import graft.SparkSpec
import graft.text.Bm25
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twin #7: a BM25 serving index maintained from a document
  * stream must equal the batch rebuild over everything streamed —
  * exactly, scores included — and re-delivered batches must be no-ops
  * (the idempotence restarts rely on).
  *
  * Segment-form pins (the round-10 rewrite of the versioned sink):
  * batch k writes O(|batch k|) rows — NOT a full index rewrite — so a
  * long-lived stream's total write volume is linear in what it ingested
  * plus amortized compactions, and compaction (segments > maxSegments)
  * collapses the live set to one merged segment that still equals the
  * rebuild. */
object StreamingIndexMaintenanceSpec {
  case class Doc(doc_id: Long, text: String)
}

class StreamingIndexMaintenanceSpec extends SparkSpec {
  import StreamingIndexMaintenanceSpec.Doc

  private val wave1 = Seq(
    Doc(1L, "quick brown fox jumps over lazy dog"),
    Doc(2L, "spark shuffles partition data across executors"))
  private val wave2 = Seq(
    Doc(3L, "quick brown fox jumps over sleepy dog"),
    Doc(4L, "entirely unrelated cooking recipe with butter and flour"))
  private val wave3 = Seq(
    Doc(5L, "the fox appears once here among other words"))

  test("streamed index after 3 micro-batches == batch rebuild, scores included") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val dir = graft.TestDir("graft_sidx")
    val mem = MemoryStream[Doc]
    val sink = StreamingIndexMaintenance.indexSink(sp, dir, "doc_id", "text") _
    val q = mem.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[Doc], id: Long) =>
        sink(ds.toDF(), id))
      .outputMode("append").start()
    for (w <- Seq(wave1, wave2, wave3)) {
      mem.addData(w: _*); q.processAllAvailable()
    }
    q.stop()
    assert(Segments.highWater(dir) == 2L)
    assert(Segments.live(dir)
      == Seq("seg0", "seg1", "seg2"))
    val all = (wave1 ++ wave2 ++ wave3).toDF()
    val probes = all.filter(col("doc_id") === 1)
    val served = Bm25.searchIndex(probes,
        StreamingIndexMaintenance.readLatest(sp, dir), "doc_id", "text", k = 5,
        minIdfMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val rebuilt = Bm25.topK(probes, all, "doc_id", "text", k = 5,
        minIdfMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(served == rebuilt, s"streamed index diverged:\n$served\nvs\n$rebuilt")
    assert(served.nonEmpty)
  }

  test("batch k writes O(|batch k|) rows: a segment holds ONLY its batch") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_sidx_w")
    val sink = StreamingIndexMaintenance.indexSink(sp, dir, "doc_id", "text") _
    sink(wave1.toDF(), 0L); sink(wave2.toDF(), 1L); sink(wave3.toDF(), 2L)
    // the write-amplification pin: the versioned sink this replaced wrote
    // n_docs = 2, 4, 5 at batches 0, 1, 2 (full rewrites); segments write
    // exactly the batch
    for ((seg, n) <- Seq(("seg0", 2L), ("seg1", 2L), ("seg2", 1L))) {
      val stats = sp.read.parquet(s"$dir/$seg/stats").collect().head
      assert(stats.getLong(0) == n, s"$seg holds ${stats.getLong(0)} docs, want $n")
      assert(sp.read.parquet(s"$dir/$seg/doclen").count() == n)
    }
    // and the multi-segment serving read still aggregates stats exactly
    val stats = StreamingIndexMaintenance.readLatest(sp, dir)
      .stats.collect().head
    assert(stats.getLong(0) == 5L, s"union stats n_docs ${stats.getLong(0)}")
  }

  test("compaction collapses live segments to one, rebuild identity holds") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_sidx_c")
    // maxSegments = 2: the third append trips compaction
    val sink = StreamingIndexMaintenance
      .indexSink(sp, dir, "doc_id", "text", maxSegments = 2) _
    sink(wave1.toDF(), 0L); sink(wave2.toDF(), 1L); sink(wave3.toDF(), 2L)
    assert(Segments.live(dir) == Seq("cmp2"),
      Segments.live(dir))
    // the high-water mark survives compaction retiring seg2
    assert(Segments.highWater(dir) == 2L)
    // re-delivery of a compacted-away batch is still a no-op
    sink(wave3.toDF(), 2L)
    assert(Segments.live(dir) == Seq("cmp2"))
    val all = (wave1 ++ wave2 ++ wave3).toDF()
    val probes = all.filter(col("doc_id") === 1)
    val served = Bm25.searchIndex(probes,
        StreamingIndexMaintenance.readLatest(sp, dir), "doc_id", "text", k = 5,
        minIdfMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val rebuilt = Bm25.topK(probes, all, "doc_id", "text", k = 5,
        minIdfMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(served == rebuilt, s"compacted index diverged:\n$served\nvs\n$rebuilt")
  }

  test("prune sweeps retired + unreferenced segments, keeps the serving pair") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_sidx3")
    val sink = StreamingIndexMaintenance
      .indexSink(sp, dir, "doc_id", "text", maxSegments = 2) _
    sink(wave1.toDF(), 0L); sink(wave2.toDF(), 1L); sink(wave3.toDF(), 2L)
    // compaction retired seg0..seg2 but they stay on disk for readers of
    // the previous manifest until prune
    val before = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(before.contains("seg0") && before.contains("cmp2"), before)
    // a crashed partial COMPACTION write (unreferenced, BELOW the kept
    // high-water mark — safe to sweep), a possible in-flight writer's
    // directory (above the mark — must survive), and a foreign dir
    new java.io.File(s"$dir/cmp1").mkdirs()
    new java.io.File(s"$dir/seg99").mkdirs()
    new java.io.File(s"$dir/vacuum").mkdirs()
    // keepManifests = 2: the pre-compaction manifest still references
    // seg0..seg2, so they survive; the crashed cmp1 does not
    Segments.prune(dir, keepManifests = 2)
    val kept2 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(kept2.contains("seg0") && !kept2.contains("cmp1"), kept2)
    assert(kept2.contains("seg99"), kept2) // writer-race guard: above high-water
    assert(kept2.contains("vacuum"), kept2) // never touches foreign dirs
    new java.io.File(s"$dir/seg99").delete() // tidy the fixture
    // keepManifests = 1: only the compacted segment is live
    Segments.prune(dir, keepManifests = 1)
    val kept1 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!kept1.exists(_.startsWith("seg")), kept1)
    assert(kept1.contains("cmp2"), kept1)
    // the served search still works from the kept manifest
    val served = Bm25.searchIndex((wave1 ++ wave2 ++ wave3).toDF()
        .filter(col("doc_id") === 1),
      StreamingIndexMaintenance.readLatest(sp, dir), "doc_id", "text", k = 3,
      minIdfMicro = 0L)
    assert(served.count() > 0)
  }

  test("prune never races a mid-flight writer; torn manifests are skipped") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_sidx4")
    val sink = StreamingIndexMaintenance.indexSink(sp, dir, "doc_id", "text") _
    sink(wave1.toDF(), 0L); sink(wave2.toDF(), 1L)
    // a sink mid-flight on batch 2: seg2 written, manifest NOT yet
    // committed — prune must leave it alone (its id is above the kept
    // high-water mark), while a stale below-high-water straggler goes
    Bm25.writeIndexPlain(Bm25.buildIndex(wave3.toDF(), "doc_id", "text"), s"$dir/seg2")
    new java.io.File(s"$dir/seg0_tmp").mkdirs() // non-matching: ignored
    Segments.prune(dir, keepManifests = 1)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("seg2"), s"prune raced the in-flight writer: $names")
    assert(names.contains("seg0") && names.contains("seg1"), names)
    // the in-flight batch now commits and serves
    sink(wave3.toDF(), 2L)
    assert(Segments.highWater(dir) == 2L)
    assert(StreamingIndexMaintenance.readLatest(sp, dir)
      .stats.collect().head.getLong(0) == 5L)
    // an IN-FLIGHT COMPACTION's directory: fold commits maxBatch = 2
    // FIRST, then writes cmp2 — so an unreferenced cmp dir at id ==
    // high-water may be mid-write by a live fold and must survive prune;
    // it becomes a sweepable crashed compaction only once a later batch
    // raises the mark
    new java.io.File(s"$dir/cmp2").mkdirs()
    Segments.prune(dir, keepManifests = 1)
    assert(new java.io.File(s"$dir/cmp2").exists(),
      "prune raced an in-flight compaction at the high-water mark")
    Segments.commit(dir, 3L,
      Segments.latest(dir).get.segments) // a later batch raises the mark
    Segments.prune(dir, keepManifests = 1)
    assert(!new java.io.File(s"$dir/cmp2").exists(),
      "crashed compaction below the mark was not swept")
    // a torn (empty) newest manifest must not brick reads or folds: the
    // store falls back to the previous commit, exactly the pre-rename
    // crash state
    val md = new java.io.File(s"$dir/manifest")
    val seqs = md.listFiles().map(_.getName.drop(1).toLong)
    java.nio.file.Files.write(
      new java.io.File(md, s"m${seqs.max + 1}").toPath, Array.emptyByteArray)
    assert(Segments.highWater(dir) == 3L)
    assert(StreamingIndexMaintenance.readLatest(sp, dir)
      .stats.collect().head.getLong(0) == 5L)
  }

  test("delete segments: gone on read, rebuild-exact, resolved by compaction, re-append after") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_sidx_del")
    val sink = StreamingIndexMaintenance
      .indexSink(sp, dir, "doc_id", "text", maxSegments = 3) _
    val del = StreamingIndexMaintenance
      .deleteSink(sp, dir, "doc_id", maxSegments = 3) _
    def served(): Set[(Long, Long)] = Bm25.searchIndex(
        Seq(Doc(999L, "quick brown fox")).toDF(),
        StreamingIndexMaintenance.readLatest(sp, dir), "doc_id", "text",
        k = 5, minIdfMicro = 0L)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    sink(wave1.toDF(), 0L); sink(wave2.toDF(), 1L)
    assert(served().map(_._1).contains(1L))

    // the delete event flows through the SAME protocol: one tombstone
    // segment, atomically visible, and the served index equals the
    // batch rebuild over the corpus WITHOUT the deleted doc — scores
    // included (the r7 algebra applied to the merged segments)
    del(Seq(1L).toDF("doc_id"), 2L)
    val after = served()
    assert(!after.map(_._1).contains(1L), s"tombstoned doc still served: $after")
    val rebuilt = Bm25.topK(Seq(Doc(999L, "quick brown fox")).toDF(),
        (wave1.filter(_.doc_id != 1L) ++ wave2).toDF(), "doc_id", "text",
        k = 5, minIdfMicro = 0L)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(after == rebuilt, s"$after vs rebuild-without-deleted $rebuilt")
    assert(StreamingIndexMaintenance.readLatest(sp, dir)
      .stats.collect().head.getLong(0) == 3L) // 4 docs - 1 tombstoned

    // appending MORE docs while the tombstone is live keeps it dead
    sink(wave3.toDF(), 3L) // live would be 4 > maxSegments → compacts
    assert(Segments.latest(dir).get.segments == Seq("cmp3"))
    assert(!served().map(_._1).contains(1L))

    // the compaction resolved the tombstone, so re-appending the id is
    // now legal (the documented contract) and it serves again
    sink(Seq(Doc(1L, "quick brown fox jumps over lazy dog")).toDF(), 4L)
    assert(served().map(_._1).contains(1L))

    // re-delivered delete batch id is a no-op (below the high water)
    del(Seq(1L).toDF("doc_id"), 2L)
    assert(served().map(_._1).contains(1L))
  }

  test("a re-delivered batch id is a no-op (restart idempotence)") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_sidx2")
    val sink = StreamingIndexMaintenance.indexSink(sp, dir, "doc_id", "text") _
    sink(wave1.toDF(), 0L)
    sink(wave2.toDF(), 1L)
    val before = StreamingIndexMaintenance.readLatest(sp, dir)
      .stats.collect().toSeq
    // crash-replay: batch 1 delivered again — must not double-count
    sink(wave2.toDF(), 1L)
    assert(Segments.highWater(dir) == 1L)
    assert(Segments.live(dir) == Seq("seg0", "seg1"))
    val after = StreamingIndexMaintenance.readLatest(sp, dir)
      .stats.collect().toSeq
    assert(after == before, s"re-delivery changed the index: $after vs $before")
    assert(after.head.getLong(0) == 4L) // 4 docs, not 6
  }

  test("publish: streamed store -> pruned serving artifact, search-identical") {
    val sp = spark; import sp.implicits._
    val docs = graft.Tables.documents(sp, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val dir = graft.TestDir("graft_sidx_pub")
    val sink = StreamingIndexMaintenance.indexSink(sp, dir, "doc_id", "text") _
    sink(docs.filter(col("doc_id") % 3 === 0), 0L)
    sink(docs.filter(col("doc_id") % 3 === 1), 1L)
    sink(docs.filter(col("doc_id") % 3 === 2), 2L)
    // a tombstone wave too: the published artifact must be the LIVE view
    StreamingIndexMaintenance.deleteSink(sp, dir, "doc_id")(
      Seq(3L, 6L).map(Tuple1(_)).toDF("doc_id"), 3L)
    val serving = graft.TestDir("graft_sidx_pub_s")
    StreamingIndexMaintenance.publish(sp, dir, serving)
    // the published artifact carries the partitioned serving layout
    assert(new java.io.File(s"$serving/postings").listFiles()
      .exists(_.getName.startsWith("tbucket=")), "publish must lay out the serving tree")
    val queries = docs.filter(col("doc_id") < 5)
    val pruned = Bm25.searchStored(sp, queries, serving, "doc_id", "text",
      k = 5, minIdfMicro = 0L)
    val live = Bm25.searchIndex(queries,
      StreamingIndexMaintenance.readLatest(sp, dir), "doc_id", "text",
      k = 5, minIdfMicro = 0L)
    assert(pruned.collect().toSet == live.collect().toSet)
    assert(pruned.count() > 0)
    // tombstoned docs are really gone from the published artifact
    assert(pruned.filter(col("doc_id").isin(3L, 6L)).count() == 0)
  }
}
