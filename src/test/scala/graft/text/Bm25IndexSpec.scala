package graft.text

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lexical serving path: search decisions from a parquet-stored
  * index must be IDENTICAL to the direct corpus pipeline (the
  * IvfIndexSpec contract for BM25). */
class Bm25IndexSpec extends SparkSpec {

  private def corpus = {
    val sp = spark; import sp.implicits._
    Seq(
      (1L, "quick brown fox jumps over lazy dog"),
      (10L, "quick brown fox jumps over sleepy dog"),
      (11L, "spark shuffles partition data across executors"),
      (12L, "entirely unrelated cooking recipe with butter and flour"),
      (13L, "the fox appears once here among other words"),
      (14L, "dog dog dog dog dog dog dog dog"))
      .toDF("doc_id", "text")
  }

  private def analyzedNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case n => n }.size

  /** (CacheManager entries, ids of the persistent RDDs) alive in the
    * session. The entry count is Spark-internal API, read reflectively;
    * ids, not a count, because Spark drops garbage-collected RDDs from
    * its persistent set whenever a collection runs. */
  private def blocksAlive: (Int, Set[Int]) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    (cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int],
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  private def storedIndex(docs: DataFrame): String = {
    val dir = graft.TestDir("graft_bm25_st")
    val built = Bm25.buildIndex(docs, "doc_id", "text")
    Bm25.writeIndex(built, dir)
    built.postings.unpersist()
    dir
  }

  test("search from a parquet round-tripped index == direct topK, scores included") {
    val dir = graft.TestDir("graft_bm25_idx")
    Bm25.writeIndex(Bm25.buildIndex(corpus, "doc_id", "text"), dir)
    val stored = Bm25.searchIndex(corpus.filter(col("doc_id") === 1),
        Bm25.readIndex(spark, dir), "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val direct = Bm25.topK(corpus.filter(col("doc_id") === 1), corpus,
        "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(stored == direct, s"stored-index search diverged:\n$stored\nvs\n$direct")
    assert(stored.nonEmpty)
  }

  test("appendToIndex on a parquet-stored index == full rebuild, scores included") {
    val dir = graft.TestDir("graft_bm25_app")
    // index the first half, store it, fold the second half in from the
    // stored form — the daily-batch workflow r4 gates
    Bm25.writeIndex(Bm25.buildIndex(corpus.filter(col("doc_id") <= 10),
      "doc_id", "text"), dir)
    val appended = Bm25.appendToIndex(corpus.filter(col("doc_id") > 10),
      Bm25.readIndex(spark, dir), "doc_id", "text")
    val probes = corpus.filter(col("doc_id") === 1)
    for (cutoff <- Seq(0L, Bm25.DefaultMinIdfMicro)) {
      val inc = Bm25.searchIndex(probes, appended, "doc_id", "text", k = 5,
          minIdfMicro = cutoff)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val full = Bm25.topK(probes, corpus, "doc_id", "text", k = 5,
          minIdfMicro = cutoff)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(inc == full, s"append != rebuild at cutoff $cutoff:\n$inc\nvs\n$full")
      assert(inc.nonEmpty)
    }
  }

  test("deleteFromIndex == rebuild without the deleted docs, scores included") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_bm25_del")
    Bm25.writeIndex(Bm25.buildIndex(corpus, "doc_id", "text"), dir)
    // delete the two heaviest dog docs from the STORED form; 999 is
    // absent (idempotent-delete contract: ignored)
    val tomb = Seq(10L, 14L, 999L).toDF("doc_id")
    val deleted = Bm25.deleteFromIndex(tomb, Bm25.readIndex(sp, dir), "doc_id")
    val probes = corpus.filter(col("doc_id") === 1)
    def run(idx: Bm25.Index) =
      Bm25.searchIndex(probes, idx, "doc_id", "text", k = 5, minIdfMicro = 0L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val got = run(deleted)
    val want = run(Bm25.buildIndex(corpus.filter(!col("doc_id").isin(10L, 14L)),
      "doc_id", "text"))
    assert(got == want, s"delete != rebuild-without:\n$got\nvs\n$want")
    assert(got.nonEmpty && !got.exists(r => r._3 == 10L || r._3 == 14L))
    // the deletion must shift survivors' SCORES too (df/avgdl moved),
    // not just drop rows — otherwise the stats subtraction is untested
    val before = run(Bm25.readIndex(sp, dir))
      .filter(r => r._3 != 10L && r._3 != 14L).map(r => (r._3, r._4)).toMap
    val after = got.map(r => (r._3, r._4)).toMap
    assert(before.keySet.intersect(after.keySet).exists(k => before(k) != after(k)),
      s"no surviving score moved: $before vs $after")
  }

  test("delete + re-append re-indexes a changed doc (the documented contract)") {
    val sp = spark; import sp.implicits._
    val idx0 = Bm25.buildIndex(corpus, "doc_id", "text")
    val newText = Seq((10L, "completely rewritten fox article about dogs"))
      .toDF("doc_id", "text")
    val reIdx = Bm25.appendToIndex(newText,
      Bm25.deleteFromIndex(Seq(10L).toDF("doc_id"), idx0, "doc_id"),
      "doc_id", "text")
    val rebuilt = Bm25.buildIndex(
      corpus.filter(col("doc_id") =!= 10L).unionByName(newText), "doc_id", "text")
    val probes = corpus.filter(col("doc_id") === 1)
    def run(idx: Bm25.Index) =
      Bm25.searchIndex(probes, idx, "doc_id", "text", k = 6, minIdfMicro = 0L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(run(reIdx) == run(rebuilt))
    assert(run(reIdx).exists(_._3 == 10L), "re-indexed doc should match 'fox'")
  }

  test("queries unseen at index time search the stored index") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft_bm25_idx2")
    Bm25.writeIndex(Bm25.buildIndex(corpus, "doc_id", "text"), dir)
    val fresh = Seq((99L, "fox dog")).toDF("doc_id", "text")
    val out = Bm25.searchIndex(fresh, Bm25.readIndex(spark, dir),
        "doc_id", "text", k = 3)
      .orderBy(col("rank")).collect()
    assert(out.nonEmpty, "unseen query found nothing")
    // only fox/dog docs can match at all
    assert(out.map(_.getLong(2)).toSet.subsetOf(Set(1L, 10L, 13L, 14L)),
      out.toSeq.toString)
  }

  test("appendToIndex then release leaves no cache entry and no persistent RDD") {
    val dir = storedIndex(corpus.filter(col("doc_id") <= 11))
    val before = blocksAlive
    // a batch plan no other case builds: persisting a plan already cached
    // adds no entry, so a leak from another case would hide this one
    val appended = Bm25.appendToIndex(corpus.filter(col("doc_id") >= 12),
      Bm25.readIndex(spark, dir), "doc_id", "text")
    assert(Bm25.searchIndex(corpus.filter(col("doc_id") === 1), appended,
      "doc_id", "text", k = 5).count() > 0)
    Bm25.release(appended)
    val (entries, rdds) = blocksAlive
    assert(entries == before._1,
      s"cache entries: ${before._1} before the append, $entries after release")
    assert(rdds.diff(before._2).isEmpty,
      s"persistent RDDs left behind: ${rdds.diff(before._2)}")
  }

  test("k alternating appends/deletes: constant-size plans, == fresh build at every k") {
    val sp = spark; import sp.implicits._
    val text = corpus.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var live = text.filter(_._1 <= 11)
    var idx = Bm25.readIndex(sp, storedIndex(live.toSeq.toDF("doc_id", "text")))
    val ops: Seq[Either[Seq[(Long, String)], Seq[Long]]] = Seq(
      Left(Seq(12L -> text(12L), 13L -> text(13L))),
      Right(Seq(10L, 12L)),
      Left(Seq(10L -> "completely rewritten fox article about dogs",
        14L -> text(14L))),
      Right(Seq(1L, 999L)), // 999 was never indexed: ignored
      Left(Seq(1L -> text(1L), 12L -> text(12L))))
    val probes = Seq((100L, "quick brown fox dog"), (101L, "spark data butter"))
      .toDF("doc_id", "text")
    def search(i: Bm25.Index, cutoff: Long) =
      Bm25.searchIndex(probes, i, "doc_id", "text", k = 5, minIdfMicro = cutoff)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val MaxNodes = 4 // per component, at every k
    val searchNodes = ops.zipWithIndex.map { case (op, i) =>
      val next = op match {
        case Left(batch) =>
          live ++= batch
          Bm25.appendToIndex(batch.toDF("doc_id", "text"), idx, "doc_id", "text")
        case Right(ids) =>
          live --= ids
          Bm25.deleteFromIndex(ids.toDF("doc_id"), idx, "doc_id")
      }
      Bm25.release(idx) // superseded: `next` holds blocks of its own
      idx = next
      val k = i + 1
      val fresh = Bm25.buildIndex(live.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      Seq("postings" -> ((_: Bm25.Index).postings), "doclen" -> ((_: Bm25.Index).doclen),
          "dfreq" -> ((_: Bm25.Index).dfreq), "stats" -> ((_: Bm25.Index).stats))
        .foreach { case (name, part) =>
          val n = analyzedNodes(part(idx))
          assert(n <= MaxNodes, s"op $k: $name plans over $n analyzed nodes")
          assert(rows(part(idx)) == rows(part(fresh)), s"op $k: $name")
        }
      for (cutoff <- Seq(0L, Bm25.DefaultMinIdfMicro))
        assert(rows(search(idx, cutoff)) == rows(search(fresh, cutoff)),
          s"op $k: search at cutoff $cutoff")
      fresh.postings.unpersist()
      analyzedNodes(search(idx, 0L))
    }
    // the search after the op plans over the same tree at every k
    assert(searchNodes.distinct.size == 1, searchNodes.toString)
    Bm25.release(idx)
  }
}
