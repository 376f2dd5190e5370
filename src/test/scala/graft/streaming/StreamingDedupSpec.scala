package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingDedupSpec extends SparkSpec {

  test("exact streaming dedup: first doc per fingerprint wins across batches") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.exactDecisions(mem.toDS(), _.trim.toLowerCase)
      .writeStream.format("memory").queryName("sd_exact").outputMode("append").start()
    mem.addData(
      StreamingDedup.Doc(1L, "Hello World"),
      StreamingDedup.Doc(2L, "  hello world  "), // same normalized content
      StreamingDedup.Doc(3L, "something else"))
    q.processAllAvailable()
    mem.addData(StreamingDedup.Doc(9L, "HELLO WORLD")) // later batch, same content
    q.processAllAvailable()
    val out = sp.sql("SELECT * FROM sd_exact ORDER BY doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep"),
        Option(r.getAs[Any]("dup_of")).map(_.asInstanceOf[Long])))
    q.stop()
    assert(out.toSeq == Seq(
      (1L, true, None), (2L, false, Some(1L)), (3L, true, None),
      (9L, false, Some(1L)))) // cross-batch: state remembered the keeper
  }

  test("simhash streaming near-dups: pigeonhole buckets find dist<=3 only") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    // simhash = the text parsed as a long — lets the test pin exact distances
    val h1 = 0x00000000L
    val h2 = h1 ^ 0x7L          // 3 bits flipped, all in block 0 → dist 3
    val h3 = h1 ^ 0x01010101L   // 1 bit in each of the 4 blocks → dist 4
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.nearDupCandidates(mem.toDS(), _.toLong, maxDist = 3)
      .writeStream.format("memory").queryName("sd_near").outputMode("append").start()
    mem.addData(StreamingDedup.Doc(1L, h1.toString))
    q.processAllAvailable()
    mem.addData(
      StreamingDedup.Doc(2L, h2.toString), // matches doc 1 at dist 3
      StreamingDedup.Doc(3L, h3.toString)) // dist 4 from doc 1 → no row
    q.processAllAvailable()
    // a pair can surface from several shared buckets → compare distinct
    val out = sp.sql("SELECT DISTINCT doc_id, match_id, hamming FROM sd_near")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    q.stop()
    assert(out == Set((2L, 1L, 3)), s"got $out")
  }

  test("streaming near-dup agrees with the batch pigeonhole operator") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    // deterministic pseudo-corpus: hashes with planted near-pairs
    val hashes = (0 until 40).map { i =>
      val base = (i.toLong * 2654435761L) & 0xffffffffL
      if (i % 5 == 0) base ^ 0x3L else base // every 5th is a planted variant...
    } :+ 0x12345678L :+ (0x12345678L ^ 0x6L) // ...plus one guaranteed pair
    val docs = hashes.zipWithIndex.map { case (h, i) =>
      StreamingDedup.Doc(i.toLong, h.toString)
    }
    // batch truth: all-pairs exact Hamming
    val expected = (for {
      a <- docs; b <- docs if a.doc_id > b.doc_id
      d = java.lang.Long.bitCount(a.text.toLong ^ b.text.toLong) if d <= 3
    } yield (a.doc_id, b.doc_id, d)).toSet
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.nearDupCandidates(mem.toDS(), _.toLong, maxDist = 3)
      .writeStream.format("memory").queryName("sd_parity").outputMode("append").start()
    docs.grouped(7).foreach { batch => mem.addData(batch: _*); q.processAllAvailable() }
    val got = sp.sql("SELECT DISTINCT doc_id, match_id, hamming FROM sd_parity")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    q.stop()
    assert(got == expected, s"streaming=$got batch=$expected")
  }

  test("streaming minhash-LSH dedup equals the batch d3 pipeline on real docs") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val docsDf = graft.Tables.documents(sp, "/root/testdata/sf0.001")
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => StreamingDedup.Doc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    // batch truth on the same corpus and threshold
    val batch = graft.dedup.MinHash.nearDuplicates(docsDf, "doc_id", "text",
        n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "corpus must contain near-dup pairs at 0.5")
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.minhashCandidates(mem.toDS(), n = 2, threshold = 0.5)
      .writeStream.format("memory").queryName("sd_lsh").outputMode("append").start()
    docs.grouped(20).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    // docs arrive in id order, so (match_id, doc_id) is (id_a < id_b);
    // multi-bucket repeats collapse under DISTINCT like the batch
    // candidate frame
    val got = sp.sql("SELECT DISTINCT match_id, doc_id, jaccard FROM sd_lsh")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(got == batch, s"streaming=${got.size} pairs, batch=${batch.size}: " +
      s"diff=${(got diff batch) ++ (batch diff got)}")
  }

  test("streaming LSH equals batch d3 on randomized corpora (property sweep)") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    Seq(3L, 17L, 101L).foreach { seed =>
      val next = seededInts(seed)
      // ~50 docs over a small vocabulary with planted near-copies: every
      // 4th doc is a 1-token mutation of the previous one
      val docs = scala.collection.mutable.ArrayBuffer.empty[StreamingDedup.Doc]
      (0 until 50).foreach { i =>
        val text =
          if (i % 4 == 1 && docs.nonEmpty) {
            val prev = docs(i - 1).text.split(" ")
            prev.updated(next(prev.length), s"mut${next(100)}").mkString(" ")
          } else (0 until (6 + next(8))).map(_ => s"w${next(30)}").mkString(" ")
        docs += StreamingDedup.Doc(i.toLong, text)
      }
      val batch = graft.dedup.MinHash.nearDuplicates(
          docs.toSeq.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          "doc_id", "text", n = 2, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val mem = MemoryStream[StreamingDedup.Doc]
      val q = StreamingDedup.minhashCandidates(mem.toDS(), n = 2, threshold = 0.5)
        .writeStream.format("memory").queryName(s"sd_prop_$seed")
        .outputMode("append").start()
      docs.grouped(11).foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
      val got = sp.sql(s"SELECT DISTINCT match_id, doc_id, jaccard FROM sd_prop_$seed")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      q.stop()
      assert(batch.nonEmpty, s"seed $seed produced no near-dups")
      assert(got == batch, s"seed $seed: streaming ${got.size} vs batch ${batch.size}")
    }
  }

  test("streaming SRP embedding dedup equals the batch x3 pair scan on real vectors") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val embDf = graft.Tables.embeddings(sp, "/root/testdata/sf0.001")
    val batch = graft.similarity.Cosine.srpPairs(embDf, "vec_id", "embedding",
        threshold = 0.3, nPlanes = 4, dim = 64)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty, "corpus must contain SRP near-dup pairs at 0.3")
    val vecs = embDf.select("vec_id", "embedding").collect()
      .map(r => StreamingDedup.Vec(r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    val mem = MemoryStream[StreamingDedup.Vec]
    val q = StreamingDedup.srpCandidates(mem.toDS(), threshold = 0.3,
        nPlanes = 4, dim = 64)
      .writeStream.format("memory").queryName("sd_srp").outputMode("append").start()
    vecs.grouped(17).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    // ids arrive in order, so (match_id, vec_id) is the batch's (id_a < id_b)
    val got = sp.sql("SELECT match_id, vec_id, sim FROM sd_srp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(got == batch, s"streaming=${got.size} batch=${batch.size} " +
      s"diff=${(got diff batch) ++ (batch diff got)}")
  }

  test("LSH bucket state survives a checkpointed restart and matches batch truth") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val chk = graft.TestDir.path("graft-lsh-chk")
    try {
      val mem = MemoryStream[StreamingDedup.Doc]
      var emitted = Vector.empty[(Long, Long, Double)]
      def start() =
        StreamingDedup.minhashCandidates(mem.toDS(), n = 2, threshold = 0.5)
          .writeStream.outputMode("append")
          .option("checkpointLocation", chk.toString)
          .foreachBatch {
            (df: org.apache.spark.sql.Dataset[StreamingDedup.NearDupJ], _: Long) =>
              emitted = emitted ++ df.collect()
                .map(p => (p.doc_id, p.match_id, p.jaccard))
          }.start()
      val b1 = Seq(
        StreamingDedup.Doc(1L, "the quick brown fox jumps over the lazy dog near the river today"),
        StreamingDedup.Doc(2L, "completely different content about spark plans and shuffles here"))
      val b2 = Seq(
        StreamingDedup.Doc(10L, "the quick brown fox jumps over the lazy dog near the river forever"),
        StreamingDedup.Doc(11L, "nothing else here resembles anything sent in an earlier batch"))
      val q1 = start()
      mem.addData(b1: _*); q1.processAllAvailable(); q1.stop()
      emitted = Vector.empty // isolate the restarted run
      val q2 = start()
      mem.addData(b2: _*); q2.processAllAvailable(); q2.stop()
      // doc 10 pairs with doc 1 from BATCH 1 — possible only if the
      // bucket state (including doc 1's shingle set) was recovered from
      // the checkpoint: the restarted query never re-reads batch 1
      val got = emitted.map { case (a, b, j) => (math.min(a, b), math.max(a, b), j) }.toSet
      val batch = graft.dedup.MinHash.nearDuplicates(
          (b1 ++ b2).map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          "doc_id", "text", n = 2, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batch.exists { case (a, _, _) => a == 1L }, "fixture needs a cross-batch pair")
      assert(got == batch, s"restarted stream=$got batch=$batch")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(chk.toFile)
  }

  test("snapshot-seeded streaming state reproduces batch cross-snapshot dedup") {
    val sp = spark; import sp.implicits._
    implicit val sc = sp.sqlContext
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "an entirely different sentence about catalyst plans and shuffles here"),
      (3L, "one more unrelated document talking about parquet files and buckets"))
      .toDF("doc_id", "text")
    val batchDocs = Seq(
      StreamingDedup.Doc(10L, "the quick brown fox jumps over the lazy dog near the river bank forever"),
      StreamingDedup.Doc(11L, "novel content with no counterpart in the prior snapshot whatsoever"),
      StreamingDedup.Doc(12L, "second novel item also unlike anything stored before this moment"))
    // batch truth: the d10 operator over the same split
    val expected = graft.dedup.MinHash.nearDuplicatesAgainst(
        batchDocs.toDS().toDF("doc_id", "text"), old, "doc_id", "text",
        n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty)
    // the stored index seeds the stream's initial state
    val idx = graft.dedup.MinHash.snapshotIndex(
        graft.dedup.MinHash.hashedShingleArray(old, "doc_id", "text", 2), "doc_id")
      .as[(Long, Array[Long], Int, Long)]
    val mem = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.minhashCandidates(mem.toDS(), n = 2, threshold = 0.5,
        initialIndex = Some(idx))
      .writeStream.format("memory").queryName("sd_seeded").outputMode("append").start()
    mem.addData(batchDocs: _*)
    q.processAllAvailable()
    val got = sp.sql("SELECT DISTINCT doc_id, match_id, jaccard FROM sd_seeded WHERE match_id < 10")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(got == expected, s"streaming=$got batch=$expected")
  }
}
