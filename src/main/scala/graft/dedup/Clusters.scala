package graft.dedup

import scala.util.Using

import graft.ops.Checkpoint.Releasables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTER dedup: pair detection (Jaccard/LSH/SimHash)
  * yields edges; true dedup keeps ONE representative per connected
  * component of the near-dup graph, not one per pair. Components are
  * computed by min-label propagation to a fixpoint — near-dup clusters
  * have tiny diameters, so convergence takes a couple of iterations; the
  * driver loop only checks a changed-count per round (the data stays
  * distributed). For adversarially-deep graphs at extreme scale the same
  * loop structure hosts the large-star/small-star variant.
  *
  * Each round's frontier is truncated with an EAGER `localCheckpoint`, not
  * `persist`: an iterative plan that only persists keeps its full logical
  * lineage, so every later action re-canonicalizes (and the cache manager
  * re-matches) a tree that grows with the iteration count — measured as
  * multi-second driver stalls per round on millisecond-sized data. The
  * checkpoint materializes the round's rows and restarts the lineage at a
  * LogicalRDD, keeping round N's planning cost independent of N (the same
  * reason GraphFrames checkpoints its CC iterations). */
object Clusters {

  /** (id, cluster_id) for every node appearing in `pairs`; cluster_id is
    * the minimum id in the node's connected component. The seeded first
    * round is not a loop round, so `maxIterations` bounds propagation
    * depth − 1. */
  def connectedComponents(pairs: DataFrame, colA: String = "id_a", colB: String = "id_b",
                          maxIterations: Int = 50): DataFrame = {
    // materialized once; truncates the (possibly very expensive) pair-
    // detection lineage out of every round's plan. Both edge directions
    // come from ONE pass over `pairs` (a union of pairs with its swap
    // would evaluate the whole pair-detection pipeline twice)
    val edges = pairs.select(explode(array(
        struct(col(colA).as("src"), col(colB).as("dst")),
        struct(col(colB).as("src"), col(colA).as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .distinct()
      .localCheckpoint(true)
    // SEEDED first round (optimization round 14, guide §2.4 "remove
    // shuffles outright"): starting from identity labels, round 1 always
    // computes least(id, min(neighbor id)) — exactly one groupBy over the
    // checkpointed edges. Seed the labels with that value directly, so
    // the fixpoint loop starts at what used to be round 1's output and
    // every run saves one full round (join + checkpoint + convergence
    // count — worth 3-4 jobs per fixpoint across the d5/d6/d8/d14/d16/
    // d18/x7/x8/c1/c7/c11 family). Symmetric edges put every node in the
    // dst column, so coverage is identical to the old distinct(src) seed,
    // and the fixpoint (hence every label) is unchanged.
    var labels = edges.groupBy(col("dst")).agg(min(col("src")).as("__mn"))
      .select(col("dst").as("id"),
        least(col("__mn"), col("dst")).as("cluster_id"))
    var converged = false
    var i = 0
    var lastChanged = 0L
    // the round's materialized frontier; superseded (and released) as soon
    // as the NEXT round's checkpoint exists — peak storage is 2 frontiers
    // regardless of iteration count, not `iterations` frontiers
    var prevRound: DataFrame = null
    while (!converged && i < maxIterations) {
      // each node adopts the min label among itself and its neighbors; the
      // old label rides along so convergence detection is a filter-count
      // on the checkpointed rows, not a second pass over the join
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst")).agg(min(col("cluster_id")).as("nbr"))
        .withColumnRenamed("dst", "id")
      val next = labels.withColumnRenamed("cluster_id", "old")
        .join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("nbr"), col("old"))).as("cluster_id"),
          col("old"))
        .localCheckpoint(true)
      val changed = next.filter(col("cluster_id") =!= col("old")).count()
      if (prevRound != null) graft.ops.Checkpoint.release(prevRound)
      prevRound = next
      labels = next.drop("old")
      lastChanged = changed
      converged = changed == 0
      i += 1
    }
    // the returned labels ride the LAST checkpoint (stays persisted, the
    // caller consumes it); the edge index is dead weight from here on
    graft.ops.Checkpoint.release(edges)
    // min-label propagation needs ~diameter rounds; a silently-unconverged
    // exit would keep multiple representatives of one cluster with no
    // signal. Fail loudly — the caller can raise maxIterations (per-round
    // cost stays bounded by the localCheckpoint).
    if (!converged) {
      // the abandoned frontier's blocks must not outlive the failure
      // (the adaptive fallback would otherwise leak one frontier per run)
      if (prevRound != null) graft.ops.Checkpoint.release(prevRound)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIterations iterations " +
          s"($lastChanged labels still changing); raise maxIterations")
    }
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): the scale
    * path for ADVERSARIALLY DEEP graphs. Min-label propagation
    * ([[connectedComponents]]) needs ~diameter rounds — a 10k-link chain
    * of near-dup docs means 10k shuffles; star contraction converges in
    * O(log² n) alternating rounds regardless of diameter, because each
    * round rewires whole neighborhoods to their minimum, halving tree
    * heights instead of walking them.
    *
    * Per round (both steps are one groupBy + one join over the edge set,
    * map-side-combined, with the same per-round `localCheckpoint` lineage
    * truncation):
    *  - large-star: for every node u, connect each STRICTLY LARGER
    *    neighbor to min(N(u) ∪ u);
    *  - small-star: for every node u, connect each neighbor ≤ u (and u)
    *    to that minimum.
    * Fixpoint: the edge set stops changing; every surviving edge is then
    * (node → component-minimum), i.e. exactly the propagation labels. */
  def connectedComponentsLSS(pairs: DataFrame, colA: String = "id_a", colB: String = "id_b",
                             maxIterations: Int = 50): DataFrame = {
    var edges = pairs.select(col(colA).as("u"), col(colB).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    val allNodes = edges.select(explode(array(col("u"), col("v"))).as("id"))
      .distinct().localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // large-star over the symmetric view: center c, neighbor n
      val sym = edges.select(col("u").as("c"), col("v").as("n"))
        .unionAll(edges.select(col("v").as("c"), col("u").as("n")))
      val mins = sym.groupBy(col("c"))
        .agg(least(min(col("n")), first(col("c"))).as("m"))
      // every undirected edge {a<b} is seen exactly once with n > c (from
      // center a), so the emitted set alone carries the whole graph
      val large = sym.join(mins, "c")
        .filter(col("n") > col("c")) // strictly larger neighbors re-hang on the min
        .select(col("m").as("u"), col("n").as("v")) // m ≤ c < n, already oriented
        .distinct()
      // small-star on the (v ≥ u)-oriented edges: center v, smaller nbr u
      val sMins = large.groupBy(col("v"))
        .agg(least(min(col("u")), first(col("v"))).as("m"))
      val small = large.join(sMins, "v")
        .select(least(col("u"), col("m")).as("nu"), greatest(col("u"), col("m")).as("nv"))
        .filter(col("nu") =!= col("nv"))
        .unionAll(large.join(sMins, "v") // re-hang the center itself
          .select(col("m").as("nu"), col("v").as("nv"))
          .filter(col("nu") =!= col("nv")))
        .distinct()
        .select(col("nu").as("u"), col("nv").as("v"))
        .localCheckpoint(true)
      val changed = small.unionAll(edges).distinct().count() != edges.count() ||
        small.count() != edges.count()
      // the convergence counts just materialized both frames — the old
      // round's edge checkpoint is superseded; release it (same 2-frontier
      // storage bound as the min-label loop)
      graft.ops.Checkpoint.release(edges)
      edges = small
      converged = !changed
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsLSS did not converge after $maxIterations rounds")
    // at fixpoint every edge is (root=u, member=v); roots label themselves
    val members = edges.select(col("v").as("id"), col("u").as("cluster_id"))
    allNodes.join(members, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Diameter-adaptive components: min-label propagation (cheapest per
    * round; near-dup clusters usually have tiny diameters) with an
    * automatic switch to large-star/small-star when the graph turns out
    * to be DEEP — the first sparse-candidate corpus that produced a
    * >50-link chain (x8's occupancy-scaled SRP config at sf1) made the
    * fixed-algorithm choice a correctness hazard: min-label either burns
    * a shuffle per link or throws. The pair-detection lineage is
    * materialized ONCE up front, so a fallback never re-runs the (much
    * more expensive) candidate-pair stage. Labels are identical either
    * way (cluster_id = component minimum is algorithm-independent). */
  def connectedComponentsAdaptive(pairs: DataFrame,
                                  colA: String = "id_a", colB: String = "id_b",
                                  switchAfter: Int = 8,
                                  maxIterations: Int = 50): DataFrame =
    // both algorithms build exclusively on EAGER checkpoints seeded from
    // p, so p's blocks are dead as soon as the inner call returns
    Using.resource(pairs.select(col(colA), col(colB)).localCheckpoint(true)) { p =>
      try connectedComponents(p, colA, colB, switchAfter)
      catch {
        case _: IllegalStateException =>
          connectedComponentsLSS(p, colA, colB, maxIterations)
      }
    }

  /** INCREMENTAL cluster-label maintenance — the connected-components
    * member of the append family (r4 = BM25 postings, x18 = IVF cells,
    * d15 = LSH band index): fold a new wave of near-dup pairs into STORED
    * labels without re-reading the old corpus or re-running its pair
    * detection.
    *
    * Why append ≡ rebuild exactly: each stored (id, cluster_id) row is a
    * STAR EDGE to its component's minimum, so the stored rows preserve old
    * connectivity as a depth-1 forest. Components of (star edges ∪ new
    * pairs) are therefore exactly the components of (old pairs ∪ new
    * pairs), and `cluster_id = component minimum` is history-free — the
    * minimum of a merged component is the least of its members' ids, all
    * of which appear in the union graph. No other representative rule
    * survives appends this way (a "first seen" or quality rule would need
    * the old scores); minimum-label is chosen for exactly this algebra.
    *
    * Scale shape: the fixpoint runs on |stored| + |new pairs| star/pair
    * edges — the star forest has depth 1, so min-label propagation
    * converges in ~(new-merge diameter) rounds, independent of how deep
    * the ORIGINAL pair graph was. Stored rows untouched by the new wave
    * pass through with an anti join (no recompute, no shuffle of their
    * components).
    *
    * Output: (id, cluster_id) for every stored node plus every node of
    * `newPairs` — the same frame a full [[connectedComponentsAdaptive]]
    * over all pairs would produce (gated as d16 against the full-rebuild
    * oracle verbatim). */
  def appendLabels(storedLabels: DataFrame, newPairs: DataFrame,
                   colA: String = "id_a", colB: String = "id_b"): DataFrame =
    appendLabelsWithFixpoint(storedLabels, newPairs, colA, colB)._1

  /** [[appendLabels]] plus the fixpoint's own result frame, the one
    * handle through which a caller that materializes the labels may
    * release the fixpoint's final checkpoint (the labels' plan also holds
    * `storedLabels` and `newPairs`, which the caller does not own). */
  private[dedup] def appendLabelsWithFixpoint(storedLabels: DataFrame,
      newPairs: DataFrame, colA: String = "id_a",
      colB: String = "id_b"): (DataFrame, DataFrame) = {
    // roots label themselves (id = cluster_id); their star edge would be a
    // self-loop, which the LSS fallback drops — filter it out here and
    // recover untouched nodes (roots included) via the anti join below.
    // Size-≥2 components keep their root reachable through the members'
    // star edges, so no connectivity is lost.
    //
    // Min-rooting GUARD: the append ≡ rebuild identity requires stored
    // cluster_ids to be component MINIMA (any other representative rule
    // silently diverges). cluster_id ≤ id on every star edge is implied
    // by min-rooting, so a violating row fails loudly here instead of
    // producing wrong labels downstream. Zero-cost when it holds (one
    // codegen'd comparison per stored row).
    val guardedId = when(col("cluster_id") <= col("id"), col("id"))
      .otherwise(raise_error(concat(
        lit("appendLabels: storedLabels is not min-rooted (cluster_id "),
        col("cluster_id").cast("string"), lit(" > id "), col("id").cast("string"),
        lit(") — labels from a non-minimum representative rule cannot be appended"))))
    val starEdges = storedLabels.filter(col("id") =!= col("cluster_id"))
      .select(guardedId.as(colA), col("cluster_id").as(colB))
    // self-loops in newPairs are dropped so both fixpoint algorithms see
    // the same node universe (min-label keeps self-loop-only nodes, LSS
    // drops them — the adaptive fallback must not change the output);
    // nodes appearing ONLY as self-loops are re-added as singletons below
    val cleanPairs = newPairs.select(col(colA), col(colB))
      .filter(col(colA) =!= col(colB))
    // no extra persist: the fixpoint's result rides its final eager
    // localCheckpoint, so both consumers below re-read materialized
    // blocks, not the pair lineage
    val fresh = connectedComponentsAdaptive(starEdges.unionByName(cleanPairs),
      colA, colB)
    // stored nodes not reached by any star or new edge keep their label
    // verbatim (singletons a dedupPlan-style stored frame may carry)
    val untouched = storedLabels.select(col("id"), col("cluster_id"))
      .join(fresh.select(col("id")), Seq("id"), "left_anti")
    // NEW nodes whose only evidence is a self-loop: singleton clusters
    // (deterministic regardless of which fixpoint algorithm ran)
    val selfOnly = newPairs.filter(col(colA) === col(colB))
      .select(col(colA).as("id")).distinct()
      .join(fresh.select(col("id")), Seq("id"), "left_anti")
      .join(storedLabels.select(col("id")), Seq("id"), "left_anti")
      .withColumn("cluster_id", col("id"))
    (fresh.unionByName(untouched).unionByName(selfOnly), fresh)
  }

  /** Per-cluster BEST member under (score DESC, id ASC) — the stored
    * companion of [[appendLabels]] that lets the PRODUCTION keep rule
    * ([[dedupPlanByQuality]]'s highest-quality representative) survive
    * appends without re-reading old scores: max(struct(q, −id)) is
    * associative, so the per-cluster best is mergeable state, exactly
    * like BM25's df sums. One combine-enabled aggregate; output
    * (cluster_id, rep_id, rep_score). Numeric-id precondition as
    * [[dedupPlanByQuality]]. */
  def qualityBests(labels: DataFrame, scored: DataFrame, idCol: String,
                   scoreCol: String): DataFrame =
    scored.join(labels.withColumnRenamed("id", idCol), idCol)
      .groupBy(col("cluster_id"))
      .agg(max(struct(col(scoreCol).as("q"), (-col(idCol)).as("nid"))).as("s"))
      .select(col("cluster_id"), (-col("s.nid")).as("rep_id"),
        col("s.q").as("rep_score"))

  /** INCREMENTAL quality-keep — [[dedupPlanByQuality]]'s append form:
    * fold a scored batch (ids disjoint from the stored docs) plus its
    * near-dup pairs into stored (labels, per-cluster bests) state. Labels
    * fold via [[appendLabels]] (exact); bests fold by re-keying each old
    * cluster's stored best to its new cluster (the old cluster_id is a
    * member id, so its new label IS the mapping — components only merge,
    * never split) and max-merging with the batch's scores. The result
    * equals the full rebuild because a merged cluster is a disjoint union
    * of old clusters and batch docs, and max is associative over exactly
    * that partition — d18_quality_keep_append gates the composed output
    * against d14's full-rebuild oracle verbatim.
    *
    * Returns (labels, bests) — the next round's stored state; join them
    * on cluster_id for the d14-shaped keep frame. */
  def appendQualityKeep(storedLabels: DataFrame, storedBests: DataFrame,
                        batchScored: DataFrame, newPairs: DataFrame,
                        idCol: String, scoreCol: String,
                        colA: String = "id_a", colB: String = "id_b")
      : (DataFrame, DataFrame) = {
    val touched = appendLabels(storedLabels, newPairs, colA, colB)
    // batch docs with no near-dup anywhere become their own clusters
    val novel = batchScored.select(col(idCol).as("id"))
      .join(touched.select(col("id")), Seq("id"), "left_anti")
      .withColumn("cluster_id", col("id"))
    val labels = touched.unionByName(novel)
    // old cluster → new cluster via the label of its min member
    val remap = labels.select(col("id").as("old_cid"), col("cluster_id").as("new_cid"))
    val fromStored = storedBests
      .join(remap, storedBests("cluster_id") === remap("old_cid"))
      .select(col("new_cid").as("cluster_id"),
        struct(col("rep_score").as("q"), (-col("rep_id")).as("nid")).as("s"))
    val fromBatch = batchScored
      .join(labels.withColumnRenamed("id", idCol), idCol)
      .select(col("cluster_id"),
        struct(col(scoreCol).as("q"), (-col(idCol)).as("nid")).as("s"))
    val bests = fromStored.unionByName(fromBatch)
      .groupBy(col("cluster_id")).agg(max(col("s")).as("s"))
      .select(col("cluster_id"), (-col("s.nid")).as("rep_id"),
        col("s.q").as("rep_score"))
    (labels, bests)
  }

  /** Full dedup decision frame: every document with its cluster id (its
    * own id when it has no near-dup) and a keep flag for the cluster
    * representative (minimum id). */
  def dedupPlan(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponentsAdaptive(pairs)
    docs.select(col(idCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("keep", col(idCol) === col("cluster_id"))
  }

  /** QUALITY-aware keep rule: within each near-dup cluster the member
    * with the highest `scoreCol` survives (ties → smallest id) — what a
    * production pipeline actually wants from dedup: drop the duplicates,
    * keep the best-written copy, not the one with the smallest id. The
    * representative choice is ONE combine-enabled max(struct) per
    * cluster (no window over the corpus); everything else is
    * [[dedupPlan]]'s shape.
    *
    * Precondition: `idCol` must be NUMERIC — the tiebreak is encoded as
    * `max(struct(score, -id))`, and the negation fails analysis for
    * string ids (unlike [[dedupPlan]], which accepts any orderable id).
    * Hash string ids to a numeric key first (the t7/xxhash64 pattern). */
  def dedupPlanByQuality(docs: DataFrame, idCol: String, scoreCol: String,
                         pairs: DataFrame): DataFrame = {
    val comps = connectedComponentsAdaptive(pairs)
    val withC = docs.select(col(idCol), col(scoreCol))
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    // max(struct(quality, -id)): highest quality, then lowest id — one
    // deterministic aggregate, partition-order free
    val reps = withC.groupBy(col("cluster_id"))
      .agg(max(struct(col(scoreCol).as("q"), (-col(idCol)).as("nid"))).as("s"))
      .select(col("cluster_id"), (-col("s.nid")).as("rep_id"))
    withC.join(reps, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("rep_id"),
        (col(idCol) === col("rep_id")).as("keep"))
  }
}
