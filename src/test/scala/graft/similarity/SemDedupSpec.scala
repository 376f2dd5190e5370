package graft.similarity

import graft.SparkSpec
import graft.dedup.Clusters
import org.apache.spark.sql.functions._

/** Pins SemDeDup's keep rule (Abbas et al. 2023: the member LEAST similar
  * to its cluster centroid survives) against [[Clusters.dedupPlan]]'s
  * min-id rule: identical clustering, different representative. */
class SemDedupSpec extends SparkSpec {

  // one cell, one 3-member cluster: v3 is the off-axis (least-central)
  // member but has the LARGEST id, so the two keep rules must disagree
  private def corpus = {
    val sp = spark; import sp.implicits._
    Seq(
      (1L, "cellA", Array(1.0f, 0.0f)),
      (2L, "cellA", Array(0.95f, 0.31225f)),
      (3L, "cellA", Array(0.7f, 0.714f)),
      (9L, "cellB", Array(0.0f, 1.0f))          // singleton, keeps itself
    ).toDF("vec_id", "label", "embedding")
  }

  test("semDedup keeps the least-central member; dedupPlan keeps min id; clusters agree") {
    val sem = Cosine.semDedup(corpus, "vec_id", "embedding", "label", 0.4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    val plain = Clusters.dedupPlan(corpus.select(col("vec_id")), "vec_id",
        Cosine.cellPairs(corpus, "vec_id", "embedding", "label", 0.4))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

    // identical cluster assignment on every member
    assert(sem.view.mapValues(_._1).toMap == plain.view.mapValues(_._1).toMap)
    assert(sem(1L)._1 == 1L && sem(2L)._1 == 1L && sem(3L)._1 == 1L)
    // representative differs exactly as the rules say: least-central (3)
    // vs min id (1); exactly one keep per cluster either way
    assert(sem.filter(_._2._2).keySet == Set(3L, 9L))
    assert(plain.filter(_._2._2).keySet == Set(1L, 9L))
  }

  test("zero-norm member: NULL centroid_sim never outranks real members") {
    val sp = spark; import sp.implicits._
    // cellA's centroid is nonzero; the zero vector's centroid_sim is NULL.
    // It cannot pair (cosine with anything is NULL), so it is a singleton
    // cluster — but the window must still rank it AFTER real sims, which
    // asc_nulls_last guarantees even if a future pair detector (SRP at
    // 100 TB) ever places a zero-norm member inside a multi-member cluster.
    val withZero = corpus.union(
      Seq((4L, "cellA", Array(0.0f, 0.0f))).toDF("vec_id", "label", "embedding"))
    val out = Cosine.semDedup(withZero, "vec_id", "embedding", "label", 0.4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)), r.getBoolean(3))).toMap
    assert(out(4L)._2.isEmpty, "zero-norm member must have NULL centroid_sim")
    assert(out(4L)._1 == 4L && out(4L)._3, "zero-norm singleton keeps itself")
    // the real cluster's representative is unchanged by the degenerate row
    assert(out(3L)._3 && !out(1L)._3 && !out(2L)._3)
  }

  test("SRP-pair path equals cell-pair path on a corpus whose cells ARE its buckets") {
    // the scaladoc'd 100 TB swap (cellPairs → srpPairs) as a tested
    // configuration: relabel the real sf0.001 embeddings with their own
    // SRP bucket, so same-cell pairs and same-bucket pairs are the same
    // set and the two entry points must produce identical decisions.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val planes = Cosine.hyperplanes(4, 64)
    val bucket = planes.zipWithIndex.map { case (h, i) =>
      when(Cosine.dot(Cosine.toDouble(col("embedding")),
        array(h.map(lit): _*)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val relabeled = emb.withColumn("label", bucket)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val viaCells = rows(Cosine.semDedup(
      relabeled, "vec_id", "embedding", "label", 0.4))
    val viaSrp = rows(Cosine.semDedupFromPairs(
      relabeled, "vec_id", "embedding", "label",
      Cosine.srpPairs(relabeled, "vec_id", "embedding", 0.4, nPlanes = 4, dim = 64)))
    assert(viaCells.nonEmpty && viaCells == viaSrp)
    // non-vacuity: real multi-member clusters participated (a corpus with
    // only singletons would make the parity trivially true)
    val multi = Cosine.semDedup(relabeled, "vec_id", "embedding", "label", 0.4)
      .groupBy(col("cluster_id")).count().filter(col("count") > 1).count()
    assert(multi > 0, "no multi-member cluster — SRP-parity test is vacuous")
  }

  test("auto-scaled SRP config: occupancy-derived planes, capped tables, table-0 compat") {
    // bucket count tracks the corpus: 2^planes ≈ n/targetOccupancy
    assert(Cosine.autoPlanes(500) == 2)      // sf0.01-scale
    assert(Cosine.autoPlanes(5000) == 6)     // sf0.1-scale
    assert(Cosine.autoPlanes(50000) == 9)    // sf1-scale
    assert(Cosine.autoPlanes(100000000000L) == 30)  // 100 TB-scale: still tiny
    assert(Cosine.autoPlanes(100) == 1, "n below target floors at 1 plane")
    // OR-amplification grows with planes, capped at 4 corpus passes
    assert(Cosine.autoTables(2) == 1 && Cosine.autoTables(6) == 3 &&
      Cosine.autoTables(9) == 4 && Cosine.autoTables(30) == 4)
    // table 0 reproduces the legacy plane set bit-for-bit (x3 oracle pin)
    assert(Cosine.hyperplanesSeeded(0, 4, 64) == Cosine.hyperplanes(4, 64))
    assert(Cosine.hyperplanesSeeded(1, 4, 64) != Cosine.hyperplanes(4, 64))
  }

  test("multi-table SRP recall ≥ 0.95 on planted near-dups at the derived config") {
    val sp = spark; import sp.implicits._
    val next = seededInts(77L)
    // 2000 base vectors + 200 planted near-dups (cosine ≈ 0.9999)
    val base = (0 until 2000).map { id =>
      (id.toLong, Array.fill(64)((next(2001) - 1000) / 1000.0f))
    }
    val dups = (0 until 200).map { i =>
      val (id, v) = base(i * 7)
      (10000L + id, v.map(x => x + (next(21) - 10) / 10000.0f))
    }
    val docs = (base ++ dups).toDF("vec_id", "embedding")
    val nPlanes = Cosine.autoPlanes(docs.count())   // 2200 → 5 planes
    val nTables = Cosine.autoTables(nPlanes)        // → 3 tables
    assert(nPlanes == 5 && nTables == 3)
    val pairs = Cosine.srpPairsMulti(docs, "vec_id", "embedding",
        threshold = 0.9, nPlanes = nPlanes, dim = 64, nTables = nTables)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = dups.map { case (dupId, _) => (dupId - 10000L, dupId) }.toSet
    val found = planted.count(pairs.contains)
    assert(found >= 190, s"recall ${found / 200.0} below 0.95 at $nPlanes planes / $nTables tables")
    // each surviving pair is scored once (DISTINCT before the sim join)
    assert(pairs.size == pairs.toSeq.distinct.size)
  }

  test("default plain-avg centroid path and sorted-fold path agree on decisions") {
    val sem = Cosine.semDedup(corpus, "vec_id", "embedding", "label", 0.4)
      .select(col("vec_id"), col("cluster_id"), col("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val sorted = Cosine.semDedup(corpus, "vec_id", "embedding", "label", 0.4,
        centroidFn = Cosine.cellCentroidsSorted)
      .select(col("vec_id"), col("cluster_id"), col("keep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(sem == sorted)
  }
}
