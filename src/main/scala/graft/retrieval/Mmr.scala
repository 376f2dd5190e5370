package graft.retrieval

import scala.util.Using

import graft.ops.Checkpoint.Releasables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
  * diversify a retrieval candidate list by iteratively selecting
  *   argmax_{d ∉ S}  λ·sim(q,d) − (1−λ)·max_{s ∈ S} sim(d,s),
  * the standard serving-side step between recall ([[Fusion.rrf]], the
  * x/r top-k families) and generation: near-duplicate passages crowd
  * out coverage if the top-k is taken by relevance alone.
  *
  * ENGINE-EXACT selection (the t18/r1 integer recipe applied to an
  * iterative algorithm): query and pairwise similarities are fixed to
  * integer MICRO units first, and with λ expressed in tenths the MMR
  * score is the INTEGER `λ₁₀·qsim_micro − (10−λ₁₀)·maxpair_micro`
  * (deci-micro units) — every argmax compares integers with a
  * (score desc, id asc) tie, so the selected sequence is reproducible
  * by any engine (r6's DuckDB oracle unrolls the same k steps).
  *
  * Scale shape: everything here is SERVING-scale, not corpus-scale —
  * candidates are |queries|·N rows and pair similarities |queries|·N²,
  * both broadcast-sized for any sane N; the corpus appears only in the
  * upstream candidate stage (x1/x4/r2). The k-step loop is k dataframe
  * iterations over those tiny frames; at k·N of real serving size this
  * would run inside one task, but the dataframe form keeps it gated by
  * the same oracle machinery as everything else. */
object Mmr {

  /** Re-rank `cand` — one row per (query, candidate) carrying the
    * query-similarity in integer micro units and the candidate's
    * vector — to the top `k` MMR selections per query.
    * Output: (query_id, mmr_rank, doc_id, score) with score in
    * deci-micro units (λ₁₀·10⁶·sim-scale integers).
    * `lambdaTenths` ∈ [0, 10]: 10 = pure relevance, 0 = pure
    * diversity. */
  def rerank(cand: DataFrame, k: Int, lambdaTenths: Int = 7,
             queryCol: String = "query_id", docCol: String = "doc_id",
             simMicroCol: String = "qsim_micro",
             vecCol: String = "v"): DataFrame = {
    require(k >= 1 && lambdaTenths >= 0 && lambdaTenths <= 10)
    val lam = lambdaTenths.toLong
    Using.Manager { use =>
      val c = use(cand.select(col(queryCol).as("query_id"), col(docCol).as("doc_id"),
        col(simMicroCol).as("qsim"), col(vecCol).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // candidate-pair similarities in micro units (N² per query — tiny);
      // not built at all for k = 1, where no diversity term exists
      val pairs = if (k == 1) None else Some(use {
        val a = c.select(col("query_id"), col("doc_id").as("id_a"), col("v").as("va"))
        val b = c.select(col("query_id"), col("doc_id").as("id_b"), col("v").as("vb"))
        a.join(b, Seq("query_id")).filter(col("id_a") =!= col("id_b"))
          .select(col("query_id"), col("id_a"), col("id_b"),
            round(graft.similarity.Cosine.cosine(col("va"), col("vb"),
              graft.similarity.Cosine.normSq(col("va")),
              graft.similarity.Cosine.normSq(col("vb"))) * 1000000, 0)
              .cast("long").as("psim"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      })
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      // step 1: pure relevance (S is empty). localCheckpoint every step
      // (including this one): `selected` feeds THREE consumers per round
      // (max-pair join, anti join, union), so a lazy chain re-expands the
      // whole prior plan 3× per step — ~3^k plan growth, the
      // lloydIterations lesson at serving scale. The frames are k rows
      // per query; the checkpoint jobs are trivial — and the eager final
      // checkpoint is what makes releasing the caches on return safe.
      var selected = c
        .select(col("query_id"), col("doc_id"), (lit(lam) * col("qsim")).as("score"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id"), col("doc_id"), lit(1).as("mmr_rank"), col("score"))
        .localCheckpoint()
      (2 to k).foreach { i =>
        val maxp = pairs.get
          .join(selected.select(col("query_id"), col("doc_id").as("id_b")),
            Seq("query_id", "id_b"))
          .groupBy(col("query_id"), col("id_a").as("doc_id"))
          .agg(max(col("psim")).as("maxp"))
        val pick = c.join(selected.select(col("query_id"), col("doc_id")),
            Seq("query_id", "doc_id"), "left_anti")
          .join(maxp, Seq("query_id", "doc_id"))
          .select(col("query_id"), col("doc_id"),
            (lit(lam) * col("qsim") - lit(10L - lam) * col("maxp")).as("score"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("query_id"), col("doc_id"), lit(i).as("mmr_rank"), col("score"))
        selected = selected.unionByName(pick).localCheckpoint()
      }
      selected.select(col("query_id"), col("mmr_rank"), col("doc_id"), col("score"))
    }.get
  }
}
