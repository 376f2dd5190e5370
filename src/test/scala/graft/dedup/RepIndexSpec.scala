package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Representative-only LSH serving index (RepIndex): the d15-blowup
  * mitigation in code. Pins (1) the maintained index (normalized bands
  * + arrays) always equals the fresh rep index over the current
  * representatives — including rep RETIREMENT when clusters merge
  * under a smaller minimum; (2) on a
  * corpus of mutually-similar duplicate groups (where rep-mediated
  * discovery sees everything), the incremental append equals the
  * one-shot build over the union; (3) the parquet round trip is
  * decision-identical; (4) the honest rep-mediated recall semantics: a
  * batch doc similar ONLY to a non-representative member is not linked
  * (the documented cost of indexing one doc per cluster); (5) every
  * maintained state's plan stays constant-size over any number of
  * appends and deletes. */
class RepIndexSpec extends SparkSpec {

  private def sharrOf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark; import sp.implicits._
    MinHash.hashedShingleArray(rows.toDF("doc_id", "text"), "doc_id", "text", 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def labelMap(st: RepIndex.State): Map[Long, Long] =
    st.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bandRowsOf(st: RepIndex.State): Set[(Long, Int, Long)] =
    st.bands.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def sharrOfState(st: RepIndex.State): Set[(Long, Seq[Long])] =
    st.sharr.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet

  private def marrOfState(st: RepIndex.State): Set[(Long, Seq[Long])] =
    sharrOfState(st.copy(sharr = st.marr))

  private def analyzedNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case n => n }.size

  private val groupA = "alpha beta gamma delta epsilon zeta eta theta"
  private val groupB = "one two three four five six seven eight nine"
  private val loner  = "completely unrelated text about parquet file formats"
  private val novelT = "fresh never before seen tokens entirely new cluster"

  test("append folds a batch exactly: merge retires the old rep, novel docs enter") {
    val old = sharrOf(Seq(5L -> groupA, 7L -> groupA, 2L -> groupB, 9L -> groupB,
      11L -> loner))
    val st0 = RepIndex.build(old, "doc_id")
    assert(labelMap(st0) == Map(5L -> 5L, 7L -> 5L, 2L -> 2L, 9L -> 2L, 11L -> 11L))
    assert(sharrOfState(st0).map(_._1) == Set(5L, 2L, 11L))
    assert(bandRowsOf(st0).map(_._1) == Set(5L, 2L, 11L))

    // batch: doc 1 joins group A (new minimum: rep 5 retires), doc 3 novel
    val batch = sharrOf(Seq(1L -> groupA, 3L -> novelT))
    val st1 = RepIndex.append(batch, st0, "doc_id")
    assert(labelMap(st1) == Map(1L -> 1L, 5L -> 1L, 7L -> 1L, 2L -> 2L,
      9L -> 2L, 11L -> 11L, 3L -> 3L))
    assert(sharrOfState(st1).map(_._1) == Set(1L, 2L, 11L, 3L))

    // the maintained index IS the fresh rep index over the current reps
    // — row-for-row (bands AND arrays), not just the same id set
    val union = sharrOf(Seq(5L -> groupA, 7L -> groupA, 2L -> groupB,
      9L -> groupB, 11L -> loner, 1L -> groupA, 3L -> novelT))
    val reps = st1.labels.filter(col("id") === col("cluster_id"))
      .select(col("id").as("doc_id"))
    val repSharr = union.join(reps, Seq("doc_id"), "left_semi")
    val rebuilt = RepIndex.State(st1.labels,
      MinHash.bandRows(MinHash.signaturesFromArray(repSharr, "doc_id"), "doc_id"),
      repSharr,
      union.join(reps, Seq("doc_id"), "left_anti"))
    assert(bandRowsOf(st1) == bandRowsOf(rebuilt))
    assert(sharrOfState(st1) == sharrOfState(rebuilt))

    // mutually-similar groups: rep-mediated discovery sees everything,
    // so append ≡ one-shot build over the union
    val full = RepIndex.build(union, "doc_id")
    assert(labelMap(st1) == labelMap(full))
    assert(bandRowsOf(st1) == bandRowsOf(full))
    assert(sharrOfState(st1) == sharrOfState(full))
  }

  test("parquet round trip is decision-identical") {
    val sp = spark
    val old = sharrOf(Seq(5L -> groupA, 7L -> groupA, 11L -> loner))
    val st0 = RepIndex.build(old, "doc_id")
    val dir = graft.TestDir("graft_repidx")
    RepIndex.write(st0, dir)
    val back = RepIndex.read(sp, dir)
    assert(labelMap(back) == labelMap(st0))
    assert(bandRowsOf(back) == bandRowsOf(st0))
    assert(sharrOfState(back) == sharrOfState(st0))
    // a batch folded into the read-back state still searches correctly
    val st1 = RepIndex.append(sharrOf(Seq(1L -> groupA)), back, "doc_id")
    val hits = RepIndex.search(sharrOf(Seq(100L -> groupA)), st1, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((100L, 1L)), s"expected the merged cluster's rep, got $hits")
  }

  test("rep-mediated semantics: a doc similar only to a NON-rep member is not linked") {
    // chain cluster 5—6—7 (adjacent Jaccard 10/12 ≈ 0.833, ends 9/13 ≈
    // 0.692 < 0.7): rep is 5; a batch copy of doc 7's text matches doc 7
    // at J=1 but the index only holds doc 5, against which it scores
    // 0.692 — below threshold, so it is (by design) a novel cluster
    val t = (1 to 14).map(i => s"w$i")
    def txt(from: Int, to: Int) = t.slice(from - 1, to).mkString(" ")
    val old = sharrOf(Seq(5L -> txt(1, 12), 6L -> txt(2, 13), 7L -> txt(3, 14)))
    val st0 = RepIndex.build(old, "doc_id")
    assert(labelMap(st0) == Map(5L -> 5L, 6L -> 5L, 7L -> 5L),
      s"chain cluster did not form: ${labelMap(st0)}")
    val batch = sharrOf(Seq(20L -> txt(3, 14)))
    val st1 = RepIndex.append(batch, st0, "doc_id")
    assert(labelMap(st1)(20L) == 20L, s"rep-mediated miss expected: ${labelMap(st1)}")
    assert(sharrOfState(st1).map(_._1) == Set(5L, 20L))
  }

  test("delete: tombstoned rep promotes next-min member from the cold store; re-append round-trips") {
    val sp = spark; import sp.implicits._
    val old = sharrOf(Seq(5L -> groupA, 7L -> groupA, 2L -> groupB, 9L -> groupB,
      11L -> loner))
    val st0 = RepIndex.build(old, "doc_id")
    val st1 = RepIndex.append(sharrOf(Seq(1L -> groupA, 3L -> novelT)), st0, "doc_id")
    // state: clusters {1,5,7} {2,9} {11} {3}; reps 1,2,11,3; cold 5,7,9
    assert(st1.marr.collect().map(_.getLong(0)).toSet == Set(5L, 7L, 9L))

    // tombstone the {1,5,7} rep AND the whole {3} cluster
    val st2 = RepIndex.delete(Seq(1L, 3L).toDF("doc_id"), st1, "doc_id")
    assert(labelMap(st2) == Map(5L -> 5L, 7L -> 5L, 2L -> 2L, 9L -> 2L, 11L -> 11L))
    // doc 5 promoted (its array came from the cold store, never the corpus);
    // maintained index ≡ fresh-over-surviving-reps — st0 IS that fresh
    // index (same reps 5,2,11), so row-for-row equality against it
    assert(bandRowsOf(st2) == bandRowsOf(st0))
    assert(sharrOfState(st2) == sharrOfState(st0))
    assert(st2.marr.collect().map(_.getLong(0)).toSet == Set(7L, 9L))

    // served results: the deleted rep vanishes, the promoted rep answers
    val hits = RepIndex.search(sharrOf(Seq(100L -> groupA)), st2, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((100L, 5L)), s"expected promoted rep 5, got $hits")

    // idempotent: re-deleting the same ids is a no-op
    val st2b = RepIndex.delete(Seq(1L, 3L).toDF("doc_id"), st2, "doc_id")
    assert(labelMap(st2b) == labelMap(st2))
    assert(bandRowsOf(st2b) == bandRowsOf(st2))
    assert(sharrOfState(st2b) == sharrOfState(st2))

    // delete + re-append round trip: doc 1 returns (legal — no longer
    // indexed), re-takes the rep slot, and 5 retires back to the cold store
    val st3 = RepIndex.append(sharrOf(Seq(1L -> groupA)), st2, "doc_id")
    assert(labelMap(st3) == Map(1L -> 1L, 5L -> 1L, 7L -> 1L, 2L -> 2L,
      9L -> 2L, 11L -> 11L))
    assert(sharrOfState(st3).map(_._1) == Set(1L, 2L, 11L))
    assert(st3.marr.collect().map(_.getLong(0)).toSet == Set(5L, 7L, 9L))
  }

  test("k alternating appends/deletes: constant-size plans, each state ≡ a fresh build") {
    val sp = spark; import sp.implicits._
    // group members share their text, so rep-mediated discovery sees every
    // pair and a delete cannot split a cluster: a fresh build over the
    // surviving docs is the exact oracle after every op
    var live = Map(5L -> groupA, 7L -> groupA, 2L -> groupB, 9L -> groupB,
      11L -> loner)
    var st = RepIndex.build(sharrOf(live.toSeq), "doc_id")
    val ops: Seq[Either[Seq[(Long, String)], Seq[Long]]] = Seq(
      Left(Seq(1L -> groupA, 3L -> novelT)), // 1 takes A's rep slot from 5
      Right(Seq(1L, 3L)),                    // 5 promoted back, {3} gone
      Left(Seq(0L -> groupB, 6L -> groupA)), // 0 takes B's rep slot from 2
      Right(Seq(0L, 5L)),                    // 2 and 6 promoted
      Left(Seq(1L -> groupA, 3L -> novelT))) // deleted ids re-appended
    val probe = sharrOf(Seq(100L -> groupA))
    val MaxNodes = 4 // per frame, at every k
    val searchNodes = ops.zipWithIndex.map { case (op, i) =>
      st = op match {
        case Left(batch) =>
          live ++= batch
          RepIndex.append(sharrOf(batch), st, "doc_id")
        case Right(ids) =>
          live --= ids
          RepIndex.delete(ids.toDF("doc_id"), st, "doc_id")
      }
      val k = i + 1
      Seq("labels" -> st.labels, "bands" -> st.bands, "sharr" -> st.sharr,
          "marr" -> st.marr).foreach { case (name, df) =>
        val n = analyzedNodes(df)
        assert(n <= MaxNodes, s"op $k: $name plans over $n analyzed nodes")
      }
      val fresh = RepIndex.build(sharrOf(live.toSeq), "doc_id")
      assert(labelMap(st) == labelMap(fresh), s"op $k: labels")
      assert(bandRowsOf(st) == bandRowsOf(fresh), s"op $k: bands")
      assert(sharrOfState(st) == sharrOfState(fresh), s"op $k: rep arrays")
      assert(marrOfState(st) == marrOfState(fresh), s"op $k: cold store")
      analyzedNodes(RepIndex.search(probe, st, "doc_id"))
    }
    // the search after the op plans over the same tree at every k
    assert(searchNodes.distinct.size == 1, searchNodes.toString)
  }

  test("append leaves its input intact: a maintained input state still collects") {
    val old = sharrOf(Seq(5L -> groupA, 7L -> groupA, 2L -> groupB, 9L -> groupB))
    val st1 = RepIndex.append(sharrOf(Seq(1L -> groupA, 3L -> novelT)),
      RepIndex.build(old, "doc_id"), "doc_id")
    val want = (labelMap(st1), bandRowsOf(st1), sharrOfState(st1), marrOfState(st1))
    // st1's frames are checkpointed leaves; the next append releases its
    // own fixpoint checkpoint, never the blocks of the state it folded
    val st2 = RepIndex.append(sharrOf(Seq(0L -> groupB)), st1, "doc_id")
    assert(labelMap(st2)(9L) == 0L)
    assert((labelMap(st1), bandRowsOf(st1), sharrOfState(st1),
      marrOfState(st1)) == want)
    RepIndex.release(st2)
    assert(labelMap(st1) == want._1)
  }

  test("emptied index round-trips: delete every doc, write, read, search") {
    val sp = spark; import sp.implicits._
    val st0 = RepIndex.build(sharrOf(Seq(5L -> groupA, 7L -> groupA)), "doc_id")
    val st1 = RepIndex.delete(Seq(5L, 7L).toDF("doc_id"), st0, "doc_id")
    // partitionBy writes no directories for zero rows — the empty state
    // must still round-trip (plain-layout fallback) and serve nothing
    val dir = graft.TestDir("graft_repidx_e")
    RepIndex.write(st1, dir)
    val back = RepIndex.read(sp, dir)
    assert(back.labels.count() == 0 && back.bands.count() == 0
      && back.sharr.count() == 0 && back.marr.count() == 0)
    val probe = sharrOf(Seq(100L -> groupA))
    assert(RepIndex.search(probe, back, "doc_id").count() == 0)
    assert(RepIndex.searchStored(sp, probe, dir, "doc_id").count() == 0)
  }

  test("torn guard fires on a PARTIALLY re-bucketed band tree") {
    val sp = spark
    val st0 = RepIndex.build(sharrOf(Seq(5L -> groupA, 7L -> groupA,
      11L -> loner, 13L -> groupB, 17L -> groupB, 23L -> novelT)), "doc_id")
    val dir = graft.TestDir("graft_reptorn")
    RepIndex.write(st0, dir)
    // simulate a crashed in-place rewrite: ONE leaf directory lands under
    // a wrong pbucket while every other directory stays consistent — the
    // single-sample guard this test retires passes whenever its one row
    // comes from any of the untouched directories; the per-directory
    // guard must fire regardless of which leaf the sample lands in
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      sp.sparkContext.hadoopConfiguration)
    val leaves = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/bands"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("band="))
      .flatMap(b => fs.listStatus(b.getPath))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("pbucket="))
    assert(leaves.length > 1, s"fixture too small: ${leaves.length} leaf dirs")
    val victim = leaves.head.getPath
    val present = fs.listStatus(victim.getParent).map(_.getPath.getName).toSet
    val free = (0 until MinHash.ProbeBuckets)
      .find(p => !present.contains(s"pbucket=$p")).get
    assert(fs.rename(victim,
      new org.apache.hadoop.fs.Path(victim.getParent, s"pbucket=$free")),
      "test setup: rename failed")
    val e = intercept[IllegalArgumentException] {
      RepIndex.searchStored(sp, sharrOf(Seq(100L -> groupA)), dir, "doc_id")
        .collect()
    }
    assert(e.getMessage.contains("torn artifact"), e.getMessage)
  }

  test("over-cap probe: geometry-bounded pairs on the driver, identical hits") {
    val sp = spark
    val st0 = RepIndex.build(sharrOf(Seq(5L -> groupA, 7L -> groupA,
      2L -> groupB, 9L -> groupB, 11L -> loner)), "doc_id")
    val dir = graft.TestDir("graft_repidx_cap")
    RepIndex.write(st0, dir)
    val probe = sharrOf(Seq(100L -> groupA, 101L -> groupB, 102L -> novelT))
    val point = RepIndex.searchStored(sp, probe, dir, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probeCollectCap = 0 forces the batch branch: only the distinct
    // (band, pbucket) pairs reach the driver, the probe stays in-plan —
    // and the served hits must be identical to the collect-once path
    // AND to the unpruned read+search
    val capped = RepIndex.searchStored(sp, probe, dir, "doc_id",
        probeCollectCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unpruned = RepIndex.search(probe, RepIndex.read(sp, dir), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(point.nonEmpty, "vacuous fixture: no hits")
    assert(capped == point && capped == unpruned,
      s"over-cap branch drifted: capped=$capped point=$point unpruned=$unpruned")
  }

  test("appendLabels guard: non-min-rooted stored labels fail loudly") {
    val sp = spark; import sp.implicits._
    val bad = Seq((5L, 9L), (9L, 9L)).toDF("id", "cluster_id") // rooted at MAX
    val pairs = Seq((20L, 5L)).toDF("id_a", "id_b")
    val e = intercept[Exception] {
      Clusters.appendLabels(bad, pairs).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("not min-rooted")), e.getMessage)
  }

  test("appendLabels: self-loop-only new nodes become singletons (both algorithms)") {
    val sp = spark; import sp.implicits._
    val stored = Seq((5L, 5L)).toDF("id", "cluster_id")
    val pairs = Seq((42L, 42L), (7L, 5L)).toDF("id_a", "id_b")
    val out = Clusters.appendLabels(stored, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(5L -> 5L, 7L -> 5L, 42L -> 42L), out.toString)
  }

  test("appendQualityKeep equals the full-rebuild quality plan across a boundary") {
    val sp = spark; import sp.implicits._
    // two old clusters + one old singleton; batch doc 1 bridges into the
    // {5,7} cluster carrying the new best score; batch doc 30 is novel
    val scores = Seq(5L -> 0.4, 7L -> 0.9, 2L -> 0.6, 9L -> 0.6, 11L -> 0.5,
      1L -> 0.95, 30L -> 0.2)
    val scored = scores.toDF("doc_id", "quality")
    val allPairs = Seq((5L, 7L), (2L, 9L), (1L, 5L)).toDF("id_a", "id_b")
    val oldIds = Set(5L, 7L, 2L, 9L, 11L)
    val storedLabels = Seq(5L -> 5L, 7L -> 5L, 2L -> 2L, 9L -> 2L, 11L -> 11L)
      .toDF("id", "cluster_id")
    val storedBests = Clusters.qualityBests(storedLabels,
      scored.filter(col("doc_id").isin(oldIds.toSeq: _*)), "doc_id", "quality")
    val newPairs = Seq((1L, 5L)).toDF("id_a", "id_b") // the cross-boundary pair
    val (labels, bests) = Clusters.appendQualityKeep(storedLabels, storedBests,
      scored.filter(!col("doc_id").isin(oldIds.toSeq: _*)),
      newPairs, "doc_id", "quality")
    val got = labels.join(bests, "cluster_id")
      .select(col("id"), col("cluster_id"), col("rep_id"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val want = Clusters.dedupPlanByQuality(scored, "doc_id", "quality", allPairs)
      .select(col("doc_id"), col("cluster_id"), col("rep_id"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"incremental $got\nvs rebuild $want")
    // the merged {1,5,7} cluster keeps doc 1 (q=0.95 beats 7's 0.9)
    assert(want(5L) == (1L, 1L))
  }
}
