package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KmeansSpec extends SparkSpec {

  // 3 tight clusters on orthogonal axes, deliberately MIS-labeled so the
  // initialization is bad: one member of each cluster carries another
  // cluster's label
  private def clustered = {
    val sp = spark; import sp.implicits._
    val rows = for {
      c <- 0 until 3
      m <- 0 until 8
    } yield {
      val v = Array.fill(12)(0.0f)
      v(c * 4) = 10.0f
      v(c * 4 + 1) = 0.1f * m
      val label = if (m == 7) (c + 1) % 3 else c // plant a bad seed
      (c * 100L + m, v.toSeq, label)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("two Lloyd rounds recover the true clusters from a corrupted init") {
    val out = Cosine.lloydIterations(clustered, "vec_id", "embedding", "label",
        iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // all members of a true cluster end in the SAME cell, including the
    // mislabeled member the initialization put elsewhere
    (0 until 3).foreach { c =>
      val cells = (0 until 8).map(m => out(c * 100L + m)).distinct
      assert(cells.size == 1, s"cluster $c split across cells $cells")
    }
    // and distinct true clusters stay apart
    assert((0 until 3).map(c => out(c * 100L)).distinct.size == 3)
  }

  test("mean squared distance is non-increasing across rounds") {
    def sse(iters: Int): Double =
      Cosine.lloydIterations(clustered, "vec_id", "embedding", "label", iters)
        .agg(sum(col("dist_sq"))).head.getDouble(0)
    val s1 = sse(1); val s2 = sse(2); val s3 = sse(3)
    assert(s2 <= s1 + 1e-9 && s3 <= s2 + 1e-9, s"SSE rose: $s1 -> $s2 -> $s3")
  }

  test("deep iteration keeps the plan bounded (per-round localCheckpoint)") {
    // Without the per-round checkpoint, every extra round chains the full
    // lineage of all prior rounds and the optimized plan grows without
    // bound (the Clusters.scala label-propagation failure mode). With it,
    // a 12-round plan must stay the size of a 2-round plan.
    val p2 = Cosine.lloydIterations(clustered, "vec_id", "embedding", "label",
      iters = 2).queryExecution.optimizedPlan.toString.length
    val p12 = Cosine.lloydIterations(clustered, "vec_id", "embedding", "label",
      iters = 12).queryExecution.optimizedPlan.toString.length
    assert(p12 <= p2 * 2, s"plan grew with iteration count: 2-round=$p2 chars, " +
      s"12-round=$p12 chars")
    // and the deep run still lands on the converged clustering
    val out = Cosine.lloydIterations(clustered, "vec_id", "embedding", "label",
        iters = 12)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 3).foreach { c =>
      assert((0 until 8).map(m => out(c * 100L + m)).distinct.size == 1)
    }
  }

  test("an already-converged init is a fixed point") {
    val sp = spark; import sp.implicits._
    val clean = clustered.withColumn("label",
      (col("vec_id") / 100).cast("int")) // the true clustering
    val a1 = Cosine.lloydIterations(clean, "vec_id", "embedding", "label", 1)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val a2 = Cosine.lloydIterations(clean, "vec_id", "embedding", "label", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a1 == a2, "a converged clustering must not move")
  }
}
