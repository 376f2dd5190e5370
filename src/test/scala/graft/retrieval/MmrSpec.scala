package graft.retrieval

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** MMR behavior pins: diversity actually reorders (the near-duplicate
  * of the first pick is deferred in favor of a less-similar but novel
  * candidate), λ=10 degenerates to pure relevance, and the selection
  * is deterministic integer arithmetic. */
class MmrSpec extends SparkSpec {

  // one query; candidates: a and a2 nearly identical (sim ≈ 1), both
  // highly relevant; b relevant but orthogonal to a/a2
  private def cand = {
    val sp = spark; import sp.implicits._
    Seq(
      (1L, 101L, 990000L, Seq(1.0, 0.01, 0.0)),  // a
      (1L, 102L, 980000L, Seq(1.0, 0.02, 0.0)),  // a2 ≈ a
      (1L, 103L, 800000L, Seq(0.0, 0.0, 1.0)))   // b ⟂ a
      .toDF("query_id", "doc_id", "qsim_micro", "v")
  }

  test("the near-duplicate of pick 1 is deferred; the novel candidate rises") {
    val out = Mmr.rerank(cand, k = 3, lambdaTenths = 7)
      .orderBy(col("mmr_rank")).collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(101L, 103L, 102L),
      s"expected a, b, a2; got ${out.toSeq}")
  }

  test("lambda = 10 is pure relevance order") {
    val out = Mmr.rerank(cand, k = 3, lambdaTenths = 10)
      .orderBy(col("mmr_rank")).collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(101L, 102L, 103L), out.toSeq)
  }

  test("fewer candidates than k: every candidate is ranked once, none invented") {
    val out = Mmr.rerank(cand, k = 5, lambdaTenths = 7).collect()
    assert(out.length == 3)
    assert(out.map(_.getLong(2)).toSet == Set(101L, 102L, 103L))
    assert(out.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
  }
}
