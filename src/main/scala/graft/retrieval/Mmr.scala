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

  /** SINGLE-TASK kernel — the serving-scale form of [[rerank]]: one
    * query's N candidates fit trivially in a task, so the k-step argmax
    * runs as plain Scala inside `flatMapGroups` (one shuffle on the query
    * key, zero driver round-trips, no k-job loop). VALUE-IDENTICAL to
    * the dataframe form by construction: the pairwise cosine is the same
    * sequential-accumulation dot / √·√ chain, fixed to integer micro
    * units with the same HALF_UP rounding, and every argmax compares the
    * same integers under the same (score desc, nulls last, doc_id asc)
    * order — MmrSpec pins the two forms row-for-row on real embeddings,
    * which transitively puts this kernel under r6's oracle gate. Use
    * this in a serving loop; use [[rerank]] where the oracle machinery
    * must see the plan. Ids must be LongType here (the dataframe form
    * accepts any orderable id). */
  def rerankLocal(cand: DataFrame, k: Int, lambdaTenths: Int = 7,
                  queryCol: String = "query_id", docCol: String = "doc_id",
                  simMicroCol: String = "qsim_micro",
                  vecCol: String = "v"): DataFrame = {
    require(k >= 1 && lambdaTenths >= 0 && lambdaTenths <= 10)
    val lam = lambdaTenths.toLong
    val sp = cand.sparkSession
    import sp.implicits._
    cand.select(col(queryCol).cast("long"), col(docCol).cast("long"),
        col(simMicroCol).cast("long"), col(vecCol))
      .as[(Long, Long, Option[Long], Option[Seq[Double]])]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long,
                        it: Iterator[(Long, Long, Option[Long], Option[Seq[Double]])]) =>
        // ascending doc_id: ties resolve to the smallest id by first-wins.
        // qsim/vector ride as Options: a zero-norm candidate reaches here
        // with a NULL qsim (cosine's nullif semantics) and must score
        // null-last exactly like the dataframe loop, not crash the
        // encoder on a non-nullable primitive
        val cs = it.toArray.sortBy(_._2)
        val vs = cs.map(_._4.map(_.toArray))
        val norms = vs.map(_.map(v => dotSeq(v, v)))
        // pair sim in micro units; None when either vector is null or has
        // norm 0 (the Column form's nullif → null semantics)
        def psim(i: Int, j: Int): Option[Long] =
          for {
            vi <- vs(i); vj <- vs(j)
            d = math.sqrt(norms(i).get) * math.sqrt(norms(j).get)
            if d != 0.0
          } yield roundMicro(dotSeq(vi, vj) / d)
        // the standard MMR kernel shape: a boolean selected array (O(1)
        // membership) and a per-candidate RUNNING max pair-sim updated
        // once per new selection — O(k·n·dim) total, not O(k²·n·dim).
        // maxSim(i) = max of the non-null psims against the selected set
        // (None while every psim was null), exactly the value the old
        // per-step rescan computed: max over the same integers is
        // order-free, so the scores cannot drift
        val selected = new Array[Boolean](cs.length)
        val maxSim = Array.fill[Option[Long]](cs.length)(None)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Option[Long])]
        val steps = math.min(k, cs.length)
        for (step <- 1 to steps) {
          var bestIdx = -1
          var bestScore: Option[Long] = None
          for (i <- cs.indices if !selected(i)) {
            val score: Option[Long] =
              if (step == 1) cs(i)._3.map(lam * _)
              else maxSim(i) match {
                case None    => None
                case Some(m) => cs(i)._3.map(q => lam * q - (10L - lam) * m)
              }
            val wins = bestIdx < 0 || ((score, bestScore) match {
              case (Some(a), Some(b)) => a > b // tie → earlier (smaller) id
              case (Some(_), None)    => true  // nulls sort last under desc
              case _                  => false
            })
            if (wins) { bestIdx = i; bestScore = score }
          }
          selected(bestIdx) = true
          out += ((qid, step, cs(bestIdx)._2, bestScore))
          if (step < steps)
            for (i <- cs.indices if !selected(i))
              psim(i, bestIdx).foreach { p =>
                maxSim(i) = Some(maxSim(i).fold(p)(math.max(_, p)))
              }
        }
        out.iterator
      }
      .toDF("query_id", "mmr_rank", "doc_id", "score")
  }

  /** Sequential left-to-right double accumulation — the scalar twin of
    * the codegen'd dot_product expression (identical IEEE op order). */
  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Scalar twin of `round(x * 1000000, 0).cast("long")`: Spark's Round
    * on DoubleType goes through BigDecimal.valueOf (shortest-repr) with
    * HALF_UP — replicated exactly so the kernel's integers cannot drift
    * from the Column form's. */
  private def roundMicro(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1000000.0d)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
}
