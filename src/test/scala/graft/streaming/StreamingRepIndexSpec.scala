package graft.streaming

import graft.SparkSpec
import graft.dedup.{MinHash, RepIndex}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twin #10: the representative-only serving index maintained
  * from a document stream must equal the batch build/append path state
  * EXACTLY — labels, live rep set, band rows — with O(delta) segments
  * (write-volume pinned), monotone rep retirement across waves,
  * re-delivery idempotence, and compaction-resolved reads. */
object StreamingRepIndexSpec {
  case class Doc(doc_id: Long, text: String)
}

class StreamingRepIndexSpec extends SparkSpec {
  import StreamingRepIndexSpec.Doc

  private val groupA = "alpha beta gamma delta epsilon zeta eta theta"
  private val groupB = "one two three four five six seven eight nine"
  private val loner  = "completely unrelated text about parquet file formats"
  private val novelT = "fresh never before seen tokens entirely new cluster"

  // wave 2's doc 1 merges into group A under a NEW minimum (rep 5
  // retires); wave 3's doc 0 takes the minimum again (rep 1 retires)
  private val wave1 = Seq(Doc(5L, groupA), Doc(7L, groupA), Doc(9L, groupB))
  private val wave2 = Seq(Doc(1L, groupA), Doc(3L, novelT))
  private val wave3 = Seq(Doc(0L, groupA), Doc(2L, groupB))

  private def labelMap(st: RepIndex.State): Map[Long, Long] =
    st.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def repIds(st: RepIndex.State): Set[Long] =
    st.sharr.collect().map(_.getLong(0)).toSet

  test("3 streamed waves == the batch build/append path, retirement included") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val dir = graft.TestDir("graft_srep")
    val mem = MemoryStream[Doc]
    val sink = StreamingRepIndexMaintenance.sink(sp, dir, "doc_id", "text") _
    val q = mem.toDS().writeStream
      .foreachBatch((ds: org.apache.spark.sql.Dataset[Doc], id: Long) =>
        sink(ds.toDF(), id))
      .outputMode("append").start()
    for (w <- Seq(wave1, wave2, wave3)) { mem.addData(w: _*); q.processAllAvailable() }
    q.stop()
    assert(Segments.highWater(dir) == 2L)
    val got = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    // the batch path over the same waves
    def sharrOf(rows: Seq[Doc]) =
      MinHash.hashedShingleArray(rows.toDF(), "doc_id", "text", 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val want = RepIndex.append(sharrOf(wave3),
      RepIndex.append(sharrOf(wave2), RepIndex.build(sharrOf(wave1), "doc_id"),
        "doc_id"), "doc_id")
    assert(labelMap(got) == labelMap(want), s"${labelMap(got)} vs ${labelMap(want)}")
    // group A collapsed to min 0 through two rep retirements (5, then 1)
    assert(labelMap(got)(7L) == 0L && labelMap(got)(5L) == 0L
      && labelMap(got)(1L) == 0L)
    assert(repIds(got) == repIds(want))
    assert(repIds(got) == Set(0L, 2L, 3L)) // reps: A→0, B→2, novel 3... and loner? none here
    // band rows identical too
    val gb = got.bands.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val wb = want.bands.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gb == wb)
    // O(delta) write volume: wave 2's segment carries only the changed
    // labels (1, 3 new; 5, 7 re-rooted to 1) and only the new reps (1, 3)
    val seg1Labels = sp.read.parquet(s"$dir/seg1/labels")
      .collect().map(r => r.getLong(0)).toSet
    assert(seg1Labels == Set(1L, 3L, 5L, 7L), seg1Labels)
    val seg1Reps = sp.read.parquet(s"$dir/seg1/sharr")
      .collect().map(_.getLong(0)).toSet
    assert(seg1Reps == Set(1L, 3L), seg1Reps)
    val seg1Retired = sp.read.parquet(s"$dir/seg1/retired")
      .collect().map(_.getLong(0)).toSet
    assert(seg1Retired == Set(5L), seg1Retired)
    // re-delivery is a no-op
    sink(wave3.toDF(), 2L)
    assert(StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
      .labels.count() == want.labels.count())
    // serving search from the streamed state finds the current rep
    val hits = RepIndex.search(sharrOf(Seq(Doc(100L, groupA))), got, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((100L, 0L)), hits.toString)
    // cold member store (delete-time promotion source) matches the batch
    // path id-for-id: batch non-reps + retired reps, never a current rep
    assert(got.marr.collect().map(_.getLong(0)).toSet ==
      want.marr.collect().map(_.getLong(0)).toSet)
    // a batch delete over the STREAMED state promotes from that store:
    // tombstoning rep 0 re-roots group A at 1 (array recovered from marr)
    val del = RepIndex.delete(Seq(0L).map(Tuple1(_)).toDF("doc_id"),
      StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id"), "doc_id")
    assert(labelMap(del)(1L) == 1L && labelMap(del)(5L) == 1L
      && labelMap(del)(7L) == 1L)
    val hits2 = RepIndex.search(sharrOf(Seq(Doc(101L, groupA))), del, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 == Set((101L, 1L)), hits2.toString)

    // the IN-PROTOCOL delete: commits an o(state) `del` segment — a full
    // re-rooted LABELS BASE (the one store the min-merge invariant
    // forces to compact; 2 longs/doc) plus ONLY the promoted rep's
    // band/array rows and the tombstone ids. The member-array stores are
    // NOT rewritten.
    StreamingRepIndexMaintenance.deleteSink(sp, dir, "doc_id")(
      Seq(0L).map(Tuple1(_)).toDF("doc_id"), 3L)
    assert(Segments.latest(dir).get.segments.last == "del3")
    // o(state) write shape: no marr rewrite; sharr/bands hold only the
    // PROMOTED rep (1 doc of the 7 indexed), deleted holds the tombstone
    assert(!new java.io.File(s"$dir/del3/marr").exists())
    assert(sp.read.parquet(s"$dir/del3/sharr")
      .collect().map(_.getLong(0)).toSet == Set(1L))
    assert(sp.read.parquet(s"$dir/del3/deleted")
      .collect().map(_.getLong(0)).toSet == Set(0L))
    assert(sp.read.parquet(s"$dir/del3/labels").count() == 6L) // all survivors
    val got2 = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(labelMap(got2) == labelMap(del))
    assert(repIds(got2) == Set(1L, 2L, 3L))
    val hits3 = RepIndex.search(sharrOf(Seq(Doc(102L, groupA))), got2, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits3 == Set((102L, 1L)), hits3.toString)
    StreamingRepIndexMaintenance.deleteSink(sp, dir, "doc_id")(
      Seq(1L).map(Tuple1(_)).toDF("doc_id"), 3L) // re-delivery: skipped
    assert(labelMap(StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id"))
      == labelMap(del))
    // appends continue with the tombstone live: a NEW doc joins group A
    // under the promoted rep (labels min-merge from the del base onward)
    sink(Seq(Doc(11L, groupA)).toDF(), 4L)
    val got3 = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(labelMap(got3)(11L) == 1L && labelMap(got3)(5L) == 1L,
      labelMap(got3).toString)
    assert(!labelMap(got3).contains(0L)) // the deleted root did not resurrect
    // a tombstoned id re-appends only AFTER a compaction resolves its
    // tombstone (the BM25/LSH/IVF segment contract)
    StreamingRepIndexMaintenance.compact(sp, dir, "doc_id")
    assert(Segments.latest(dir).get.segments == Seq("cmp4"))
    StreamingRepIndexMaintenance.compact(sp, dir, "doc_id") // no-op when compacted
    assert(Segments.latest(dir).get.segments == Seq("cmp4"))
    sink(Seq(Doc(0L, groupA)).toDF(), 5L)
    val got4 = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(labelMap(got4)(0L) == 0L && labelMap(got4)(1L) == 0L,
      labelMap(got4).toString) // 0 re-enters and re-takes the min root
  }

  test("delete re-promotes a RETIRED rep: older retirement tombstones spare newer promotion rows") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_srep_p")
    val sink = StreamingRepIndexMaintenance.sink(sp, dir, "doc_id", "text") _
    val del = StreamingRepIndexMaintenance.deleteSink(sp, dir, "doc_id") _
    def sharrOf(rows: Seq[Doc]) =
      MinHash.hashedShingleArray(rows.toDF(), "doc_id", "text", 2)
    // batch 0: {5, 7} in group A (rep 5); batch 1: {1} joins A — rep 5
    // RETIRES (retired tombstone in seg1, 5's array moves to marr)
    sink(Seq(Doc(5L, groupA), Doc(7L, groupA)).toDF(), 0L)
    sink(Seq(Doc(1L, groupA)).toDF(), 1L)
    // delete 1 (del2): A re-roots at 5 — the RETIRED rep is PROMOTED
    // back; seg1's retired={5} must kill only seg0's row for 5, not
    // del2's fresh promotion row
    del(Seq(1L).map(Tuple1(_)).toDF("doc_id"), 2L)
    val st2 = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(repIds(st2) == Set(5L), repIds(st2))
    assert(labelMap(st2) == Map(5L -> 5L, 7L -> 5L), labelMap(st2))
    val hits = RepIndex.search(sharrOf(Seq(Doc(100L, groupA))), st2, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((100L, 5L)), hits.toString)
    // batch 3: {0} takes the min — 5 retires a SECOND time; its array
    // re-enters marr (duplicate addition rows, deduped on read)
    sink(Seq(Doc(0L, groupA)).toDF(), 3L)
    val st3 = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(repIds(st3) == Set(0L))
    assert(st3.marr.filter(col("doc_id") === 5L).count() == 1L) // deduped
    // delete 0 (del4): 5 promotes AGAIN — retired@1 and retired@3 both
    // precede del4, so neither kills the newest promotion row
    del(Seq(0L).map(Tuple1(_)).toDF("doc_id"), 4L)
    val st4 = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(repIds(st4) == Set(5L), repIds(st4))
    assert(labelMap(st4) == Map(5L -> 5L, 7L -> 5L), labelMap(st4))
    // the streamed state equals the batch path over the same lifecycle
    val want = RepIndex.delete(Seq(0L).map(Tuple1(_)).toDF("doc_id"),
      RepIndex.append(sharrOf(Seq(Doc(0L, groupA))),
        RepIndex.delete(Seq(1L).map(Tuple1(_)).toDF("doc_id"),
          RepIndex.append(sharrOf(Seq(Doc(1L, groupA))),
            RepIndex.build(sharrOf(Seq(Doc(5L, groupA), Doc(7L, groupA))),
              "doc_id"), "doc_id"), "doc_id"), "doc_id"), "doc_id")
    assert(labelMap(st4) == labelMap(want))
    val gb = st4.bands.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val wb = want.bands.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gb == wb)
    assert(st4.marr.collect().map(_.getLong(0)).toSet ==
      want.marr.collect().map(_.getLong(0)).toSet)
  }

  test("compaction resolves tombstones and keeps the state identical") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_srep_c")
    val sink = StreamingRepIndexMaintenance
      .sink(sp, dir, "doc_id", "text", maxSegments = 2) _
    sink(wave1.toDF(), 0L); sink(wave2.toDF(), 1L); sink(wave3.toDF(), 2L)
    assert(Segments.latest(dir).get.segments == Seq("cmp2"))
    assert(Segments.highWater(dir) == 2L)
    val got = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(repIds(got) == Set(0L, 2L, 3L))
    assert(labelMap(got)(9L) == 2L) // wave-1 node re-rooted by wave 3, resolved
    // compacted tombstones are empty; retired reps are gone from the rows
    assert(sp.read.parquet(s"$dir/cmp2/retired").count() == 0)
    assert(sp.read.parquet(s"$dir/cmp2/sharr")
      .collect().map(_.getLong(0)).toSet == Set(0L, 2L, 3L))
    // folding after compaction still works
    sink(Seq(Doc(50L, loner)).toDF(), 3L)
    val got2 = StreamingRepIndexMaintenance.readLatest(sp, dir, "doc_id")
    assert(repIds(got2) == Set(0L, 2L, 3L, 50L))
  }
}
