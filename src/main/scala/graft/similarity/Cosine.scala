package graft.similarity

import scala.util.Using

import graft.ops.{Artifact, ParquetOpen}
import graft.ops.Checkpoint.Releasables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Embedding similarity search. The tiers: brute-force cosine top-k,
  * IVF cell probes, and the two-stage compressed tiers SQ8 (a byte per
  * dim), BQ (a bit per dim), Matryoshka prefixes (raw or rotated) and
  * PQ/IVFADC codes, each in-plan and stored. Every tier is one
  * filter-and-refine search that differs only in its stage-1 score, and
  * each shared step has one private body: [[Cosine.rankedCut]] (every
  * top-n; searches order by score, then id ascending, the tie-break every
  * DuckDB oracle replays), [[Cosine.nearestCells]] (IVF assignment and
  * probes), [[Cosine.exactRerank]], [[Cosine.storedRerank]] (shortlist
  * collected once, its raw vectors read pruned, exact rerank),
  * [[Cosine.adcCandidates]] and [[Cosine.adcScored]] (PQ), and
  * [[Cosine.dimMoments]].
  *
  * Dot products are computed with `zip_with` + `aggregate` — a sequential
  * left fold in double precision, fully codegen-compatible, no UDF. Vectors
  * are cast float→double BEFORE multiplying so precision matches an oracle
  * computing in double.
  *
  * Scale: brute-force is O(|queries|·|corpus|·dim) — right when queries are
  * few (the query side is broadcast, corpus streams). For corpus×corpus
  * near-dup the quadratic join is replaced by a coarse-quantizer bucket
  * join (`label` here plays the IVF cell id): shuffle both sides on the
  * cell, pairs only within cells.
  */
object Cosine {

  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Composable (higher-order-function) dot product: the reference form —
    * allocates a products array per evaluation. Kept for the equivalence
    * spec; hot paths use [[dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Native codegen'd dot product ([[graft.plans.DotProductExpr]]):
    * identical values (sequential double accumulation), tight loop, no
    * per-row allocation. Registered on demand in the active session. */
  def dot(a: Column, b: Column): Column = {
    graft.plans.GraftExtensions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function("dot_product", a, b)
  }

  def normSq(a: Column): Column = dot(a, a)

  /** NULL (not an ANSI divide-by-zero crash, not a fake similarity) when
    * either vector has zero norm — degenerate rows sort after every real
    * neighbor under the descending sim windows. */
  def cosine(a: Column, b: Column, normSqA: Column, normSqB: Column): Column =
    dot(a, b) / nullif(sqrt(normSqA) * sqrt(normSqB), lit(0.0))

  /** The ONE ranked cut: rows numbered (`rank`, from 1) within each
    * `part` group in `order`, those past `n` dropped. `n = Int.MaxValue`
    * numbers every row and drops none. */
  private def rankedCut(df: DataFrame, part: Column, n: Int)(order: Column*): DataFrame = {
    val ranked = df.withColumn("rank",
      row_number().over(Window.partitionBy(part).orderBy(order: _*)))
    if (n == Int.MaxValue) ranked else ranked.filter(col("rank") <= n)
  }

  /** The per-query search cut: `score` first, then the neighbor id
    * ascending. */
  private def perQueryCut(df: DataFrame, score: Column, n: Int): DataFrame =
    rankedCut(df, col("query_id"), n)(score, col("neighbor_id").asc)

  /** Stage 1 of every two-stage tier: the `n` best rows per query by
    * `score` (descending, or ascending for a distance) as (query_id,
    * neighbor_id, score, qv), the shortlist [[exactRerank]] takes. */
  private def shortlist(scored: DataFrame, score: String, n: Int,
                        ascending: Boolean = false): DataFrame =
    perQueryCut(scored, if (ascending) col(score).asc else col(score).desc, n)
      .select(col("query_id"), col("neighbor_id"), col(score), col("qv"))

  /** Brute-force cosine top-k: for each row of `queries`, the k nearest
    * rows of `corpus` (self-matches excluded). Output: query_id, rank,
    * neighbor_id, sim. */
  def topK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
           k: Int): DataFrame = {
    val q = queryVectors(queries, idCol, vecCol).withColumn("qn", normSq(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", normSq(col("cv")))
    val sims = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
    perQueryCut(sims, col("sim").desc, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic pseudo-random hyperplanes for signed-random-projection
    * LSH: component (i,j) = ((md5int("i:j") mod 2001) - 1000) / 1000 ∈
    * [-1, 1]. Deterministic so an external oracle can reproduce bucketing
    * exactly. */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    hyperplanesSeeded(0, nPlanes, dim)

  /** Johnson-Lindenstrauss random projection: `dim`-dim vectors onto the
    * `outDim` deterministic hyperplanes of table `seed` — the dense
    * dimensionality-reduction step a 100 TB embedding pipeline runs
    * before indexing (4× fewer bytes at 64→16 while distances are
    * preserved within the JL distortion; SRP/x3 is the 1-bit extreme of
    * the same construction, PQ/x9 the codebook one). Values are raw
    * plane dot products — the common scale factor (1/√outDim) cancels in
    * any cosine/ratio downstream, so it is omitted rather than smeared
    * into float noise. Map-side only: planes are literals baked into the
    * plan (no broadcast, no shuffle), each output value one sequential
    * double fold any engine reproduces exactly. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, dim: Int, seed: Int = 0): DataFrame = {
    val v = toDouble(col(vecCol))
    val projCols = hyperplanesSeeded(seed, outDim, dim).map { h =>
      dot(v, array(h.map(lit): _*))
    }
    df.select(col(idCol).as("vec_id"), array(projCols: _*).as("proj"))
  }

  /** Per-TABLE hyperplanes for OR-amplified multi-table SRP. Table 0
    * reproduces [[hyperplanes]] exactly (key "i:j", pinned by the x3
    * oracle); table t>0 derives an independent set from key "Tt:i:j". */
  def hyperplanesSeeded(table: Int, nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { i =>
      (0 until dim).map { j =>
        val key = if (table == 0) s"$i:$j" else s"T$table:$i:$j"
        val hex = graft.ops.CanonicalJson.sha1Hex(key).substring(0, 8)
        ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
      }
    }

  /** The SRP sign-bucket code of `v`: bit i set iff v · planes(i) > 0 —
    * the bucket of [[srpPairs]] and [[srpBands]] and the subspace code of
    * [[pqCodes]]. */
  private def signBits(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (h, i) =>
      when(dot(v, array(h.map(lit): _*)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Plane count for a TARGET bucket occupancy: ceil(log2(n/target)).
    * A FIXED plane count is the occupancy-control failure mode SCALE.md
    * measured (6.6× time at 10× data): within-bucket pairs grow
    * quadratically with occupancy, so the bucket count must track the
    * corpus — 2^planes ≈ n/target keeps per-bucket pair work flat. */
  def autoPlanes(n: Long, targetOccupancy: Int = 128): Int = {
    require(targetOccupancy > 0)
    val ratio = math.max(1.0, n.toDouble / targetOccupancy)
    math.max(1, math.ceil(math.log(ratio) / math.log(2.0)).toInt)
  }

  /** OR-amplification table count: more planes per table shrink single-
    * table recall geometrically, so the table count grows with the plane
    * count (capped — each table is one more pass over the corpus). */
  def autoTables(nPlanes: Int): Int =
    math.min(4, math.max(1, math.ceil(nPlanes / 2.0).toInt))

  /** SRP-LSH near-duplicate pairs: bucket = sign bits of `nPlanes` random
    * projections; only same-bucket pairs are compared. The general scale
    * path when no coarse cell id exists — recall is tunable via nPlanes
    * (fewer planes → bigger buckets → higher recall, more compute).
    * `dim` is the embedding width: required explicitly, because probing it
    * with a `head()` would run a driver-side job over the full corpus
    * lineage just to read one array length. */
  def srpPairs(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nPlanes: Int, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be the positive embedding width, got $dim")
    val v0 = corpus.select(col(idCol), toDouble(col(vecCol)).as("v"))
    val v = v0.withColumn("bucket", signBits(col("v"), hyperplanes(nPlanes, dim)))
      .withColumn("n", normSq(col("v")))
    val a = v.select(col("bucket"), col(idCol).as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = v.select(col("bucket"), col(idCol).as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("bucket"), col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Multi-table OR-amplified SRP pairs: `nTables` independent plane
    * sets ([[hyperplanesSeeded]]); a pair is a candidate if it collides
    * in ANY table — recall 1-(1-p^planes)^tables instead of p^planes, so
    * plane counts can scale with the corpus ([[autoPlanes]]) without
    * recall collapsing. ONE corpus scan computes every table's bucket
    * (posexplode fan-out, not per-table re-scans), the bucket self-join
    * carries ONLY (bucket, id) rows — 16 bytes/row of shuffle however
    * wide the vectors — and candidates are DISTINCT'd before the one
    * vector-join similarity pass, so a pair colliding in 3 tables is
    * scored once. */
  def srpPairsMulti(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nPlanes: Int, dim: Int,
                    nTables: Int): DataFrame = {
    require(dim > 0, s"dim must be the positive embedding width, got $dim")
    require(nPlanes >= 1 && nPlanes <= 62 && nTables >= 1)
    val v0 = corpus.select(col(idCol), toDouble(col(vecCol)).as("v"))
    val tb = srpBands(corpus, idCol, vecCol, nPlanes, dim, nTables)
    val cand = tb.select(col("t"), col("b"), col(idCol).as("id_a"))
      .join(tb.select(col("t"), col("b"), col(idCol).as("id_b")), Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val va = v0.select(col(idCol).as("id_a"), col("v").as("va"))
      .withColumn("na", normSq(col("va")))
    val vb = v0.select(col(idCol).as("id_b"), col("v").as("vb"))
      .withColumn("nb", normSq(col("vb")))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Multi-table SRP band rows `(idCol, t, b)` — the shared banding stage
    * of [[srpPairsMulti]] and [[semanticDecontaminate]], and the persisted
    * "index" of a static reference set (band once, probe many): 20-ish
    * bytes/row regardless of vector width, so a banded side shuffles and
    * stores cheaply. ONE scan computes every table's bucket (posexplode
    * fan-out, not per-table re-scans); the composite (table, bucket) key
    * avoids bit-packing games, so any plane count up to 62 is safe. */
  def srpBands(df: DataFrame, idCol: String, vecCol: String,
               nPlanes: Int, dim: Int, nTables: Int): DataFrame = {
    require(dim > 0, s"dim must be the positive embedding width, got $dim")
    require(nPlanes >= 1 && nPlanes <= 62 && nTables >= 1)
    val v0 = df.select(col(idCol), toDouble(col(vecCol)).as("v"))
    val tableBuckets = array((0 until nTables).map(t =>
      signBits(col("v"), hyperplanesSeeded(t, nPlanes, dim))): _*)
    v0.select(col(idCol), posexplode(tableBuckets).as(Seq("t", "b")))
  }

  /** SEMANTIC decontamination with a BOUNDED candidate stage — never a
    * train×eval cartesian. Both sides are banded by the same multi-table
    * SRP ([[srpBands]]); a (train, eval) pair is scored only if it
    * collides in some table, exact cosine runs on candidates alone, and
    * the per-train max is left-joined back over every train id (no
    * collision ⇒ `max_test_sim` NULL ⇒ kept). The `maxSim < θ ⟹ kept`
    * contract is preserved by the same recall-knob argument the LSH
    * dedup family makes: collision probability per table is
    * (1 − θ_angle/π)^planes, OR-amplified across tables, so planes/tables
    * tune recall explicitly ([[autoPlanes]] on the EVAL count +
    * [[autoTables]]). Scale shape: the eval split is static per release —
    * band it once and persist (`srpBands(eval…)`); per train doc the
    * candidate count is ≈ nTables × eval-bucket occupancy (constant under
    * [[autoPlanes]]), so total cost tracks |train|, not |train|·|eval|.
    * Eval-side frames (bands + vectors) are eval-sized — the planner
    * broadcasts them from stats; no forced hint, so an oversized eval
    * degrades to shuffled equi-joins instead of OOMing.
    * The train side multiprobes ([[probeMasks]]): cost multiplies by the
    * probe count, recall follows [[srpRecall]]. */
  def semanticDecontaminate(train: DataFrame, evalSplit: DataFrame,
                            idCol: String, vecCol: String, threshold: Double,
                            nPlanes: Int, dim: Int, nTables: Int,
                            probeRadius: Int = 1): DataFrame = {
    val bandsE = srpBands(evalSplit, idCol, vecCol, nPlanes, dim, nTables)
      .select(col("t"), col("b"), col(idCol).as("eval_id"))
    val ve = evalSplit.select(col(idCol).as("eval_id"), toDouble(col(vecCol)).as("tv"))
      .withColumn("tn", normSq(col("tv")))
    val masks = probeMasks(nPlanes, probeRadius)
    val bandsT = srpBands(train, idCol, vecCol, nPlanes, dim, nTables)
      .select(col("t"),
        explode(array(masks.map(m => col("b").bitwiseXOR(lit(m))): _*)).as("b"),
        col(idCol).as("train_id"))
    val cand = bandsT.join(bandsE, Seq("t", "b"))
      .select(col("train_id"), col("eval_id")).distinct()
    val vt = train.select(col(idCol).as("train_id"), toDouble(col(vecCol)).as("v"))
      .withColumn("vn", normSq(col("v")))
    val mx = cand.join(vt, "train_id").join(ve, "eval_id")
      .select(col("train_id"),
        round(cosine(col("v"), col("tv"), col("vn"), col("tn")), 6).as("sim"))
      .groupBy(col("train_id")).agg(max(col("sim")).as("max_test_sim"))
    train.select(col(idCol))
      .join(mx.withColumnRenamed("train_id", idCol), Seq(idCol), "left")
      .withColumn("kept", coalesce(col("max_test_sim") < threshold, lit(true)))
  }

  /** All XOR masks of Hamming weight ≤ radius over nPlanes sign bits —
    * the MULTIPROBE bucket expansion (Lv et al. 2007, "Multi-Probe LSH")
    * for SRP codes: a probe visits its own bucket plus every bucket
    * within `radius` flipped planes, so a near neighbor that disagrees
    * on a few projections still collides. Probe count =
    * Σ_{r≤radius} C(nPlanes, r). */
  def probeMasks(nPlanes: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= nPlanes)
    (0 to radius).flatMap(r =>
      (0 until nPlanes).combinations(r)
        .map(_.foldLeft(0L)((m, i) => m | (1L << i))).toSeq)
  }

  /** Analytic candidate recall of the multiprobe SRP gate for a pair at
    * cosine `sim`: per-plane sign agreement q = 1 − acos(sim)/π, a probe
    * at radius ρ collides when the two codes differ on ≤ ρ planes
    * (binomial tail), OR-amplified over tables. This is the honesty
    * knob the decontamination gate is tuned with: occupancy-derived
    * plane counts keep COST bounded while radius/tables buy RECALL back
    * — e.g. (15 planes, 4 tables) at sim 0.9 recalls 34% at radius 0
    * but 81% at radius 1. SemanticDecontaminateSpec pins the formula
    * and an EMPIRICAL recall floor against the brute-force gate. */
  def srpRecall(sim: Double, nPlanes: Int, nTables: Int, radius: Int): Double = {
    val q = 1.0 - math.acos(math.max(-1.0, math.min(1.0, sim))) / math.Pi
    def choose(n: Int, k: Int): Double =
      (1 to k).foldLeft(1.0)((a, i) => a * (n - i + 1) / i)
    val pTable = (0 to radius).map(r =>
      choose(nPlanes, r) * math.pow(q, nPlanes - r) * math.pow(1 - q, r)).sum
    1.0 - math.pow(1.0 - pTable, nTables)
  }

  /** Smallest multiprobe radius whose analytic recall ([[srpRecall]])
    * clears `targetRecall` for a pair at cosine `sim` under the given
    * (planes, tables) — the last knob of the fully-derived config:
    * planes from occupancy ([[autoPlanes]]), tables from planes
    * ([[autoTables]]), radius from the recall TARGET. Deriving it keeps
    * a large-eval deployment from silently sitting at 34% recall (the
    * occupancy-derived 15-plane/4-table config at radius 0) when one
    * more probe ring would clear the target — and from over-probing a
    * small config whose radius 0 already does. Monotone non-decreasing
    * in targetRecall and capped at nPlanes (radius = nPlanes probes
    * every bucket, recall = the all-tables ceiling of 1); both
    * spec-pinned, and c12 gates on a radius derived by this. */
  def radiusFor(targetRecall: Double, sim: Double, nPlanes: Int,
                nTables: Int): Int = {
    require(targetRecall > 0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    (0 to nPlanes).find(r => srpRecall(sim, nPlanes, nTables, r) >= targetRecall)
      .getOrElse(nPlanes)
  }

  /** IVF-style approximate top-k SEARCH: each query probes only its own
    * coarse cell (`cellCol`), candidates come from an equi-join on the
    * cell id, and the k best cosine matches per query are kept. This is
    * the scale path for ANN search: work per query is the probed cell's
    * size, not the corpus, and the join shuffles on the cell key instead
    * of broadcasting the whole corpus. Recall is governed by the coarse
    * quantizer (probing more neighboring cells = unioning more cell ids
    * onto the query side before the same join). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
              cellCol: String, k: Int): DataFrame = {
    val q = queries.select(col(cellCol), col(idCol).as("query_id"),
        toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", normSq(col("qv")))
    ivfScore(q, corpus.select(col(cellCol), col(idCol).as("neighbor_id"),
      toDouble(col(vecCol)).as("nv")), cellCol, k)
  }

  /** Multiprobe IVF top-k (the standard IVF recall knob, Jégou et al.
    * 2011 §V): each query probes its `nProbe` NEAREST cells by centroid
    * distance instead of only its own — recall rises toward brute force
    * as nProbe grows while per-query work stays `nProbe` cells, never the
    * corpus. `IvfMultiprobeSpec` pins recall(nProbe) monotone ≥ the
    * single-probe path against the exact x1 baseline.
    *
    * Scale shape: the centroid table is k·dim values — reshaped and
    * BROADCAST, so probe selection is a map-side pass over the queries
    * producing queries×nProbe probe rows; candidates then come from the
    * same cell-key equi-join as [[ivfTopK]] (shuffle on the cell id, work
    * per query = the probed cells' sizes). `centroidFn` follows the
    * [[cellCentroids]] / [[cellCentroidsSorted]] gate split. */
  def ivfTopKMultiprobe(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, cellCol: String, k: Int, nProbe: Int,
                        centroidFn: (DataFrame, String, String) => DataFrame =
                          cellCentroids): DataFrame =
    ivfSearchIndex(queries,
      corpus.select(col(idCol), col(vecCol)),
      corpus.select(col(idCol), col(cellCol)),
      centroidFn(corpus.select(col(cellCol), toDouble(col(vecCol)).as("v")),
        cellCol, "v"),
      idCol, vecCol, cellCol, k, nProbe)

  /** Multiprobe search over an EXPLICIT serving index — the stored form
    * ([[ivfTopKMultiprobe]] is this with the index derived in-plan): a
    * centroid table (cell, dim, centroid) and a cell-assignment frame
    * (id, cell), both typically read back from parquet (IvfIndexSpec),
    * plus the vectors. This is the entry point incremental maintenance
    * needs: [[ivfAppendCells]] grows `cells` batch-by-batch while
    * `centroids` stays the stored trained table. Same plan shape as
    * [[ivfTopKMultiprobe]]: broadcast k·dim centroids → map-side probe
    * selection → cell-key equi-join; the extra id-keyed vectors⋈cells
    * join replaces the cell column the corpus frame no longer carries. */
  def ivfSearchIndex(queries: DataFrame, corpus: DataFrame, cells: DataFrame,
                     centroids: DataFrame, idCol: String, vecCol: String,
                     cellCol: String, k: Int, nProbe: Int): DataFrame = {
    val probes = ivfProbes(queries, centroids, idCol, vecCol, cellCol, nProbe)
    val c = corpus.select(col(idCol), toDouble(col(vecCol)).as("nv"))
      .join(cells.select(col(idCol), col(cellCol)), Seq(idCol))
      .select(col(cellCol), col(idCol).as("neighbor_id"), col("nv"))
    ivfScore(probes, c, cellCol, k)
  }

  /** Probe selection — the map-side stage every IVF search form shares
    * ([[ivfSearchIndex]], [[ivfSearchStored]]): broadcast the k·dim
    * centroid table, rank cells per query by centroid distance, keep the
    * `nProbe` nearest. Returns (cell, query_id, qv, qn). */
  private def ivfProbes(queries: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String, cellCol: String,
                        nProbe: Int): DataFrame = {
    require(nProbe >= 1, "need at least one probed cell")
    val q = queryVectors(queries, idCol, vecCol).withColumn("qn", normSq(col("qv")))
    nearestCells(q, col("query_id"), "qv", centroids, cellCol, nProbe)
      .select(col(cellCol), col("query_id"), col("qv"), col("qn"))
  }

  /** The ONE candidate-scoring tail every IVF search form rides (shared,
    * so the forms cannot drift):
    * cell-key equi-join of probes against (cell, neighbor_id, nv)
    * candidates, exact cosine, per-query top-k. */
  private def ivfScore(probes: DataFrame, cands: DataFrame, cellCol: String,
                       k: Int): DataFrame = {
    val sims = probes.join(cands.withColumn("nn", normSq(col("nv"))), Seq(cellCol))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("nv"), col("qn"), col("nn")))
    perQueryCut(sims, col("sim").desc, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** Content fingerprint of the WRITTEN centroid parquet over (cell,
    * dim, micro-centroid) — derived from DISK, never from the (possibly
    * expensive or last-ulp-nondeterministic) training lineage, so it
    * fingerprints exactly what a later open will read. */
  private def centroidCheck(dir: String, cellCol: String): Artifact.Check =
    Artifact.fingerprinted("centroid fp", s"$dir/centroids", col(cellCol),
      col("dim"), round(col("centroid") * 1000000, 0).cast("long"))

  /** Sidecar-less (externally assembled) IVF layouts serve unchecked. */
  private val IvfCommit = Artifact.Sidecar("ivf_commit", 2 to 2,
    what = "stored IVF index", remedy = "torn artifact: re-run writeIvfIndex",
    orElse = Some(Nil))

  private def ivfChecks(dir: String, cellCol: String): Seq[Artifact.Check] =
    Seq(Artifact.counted("lists", s"$dir/lists"), centroidCheck(dir, cellCol))

  /** Persist the IVF serving index: centroids plain (k·dim rows), the
    * posting LISTS — vectors joined to their cell assignment — written
    * PARTITIONED by `pcell` (the cell value as a string directory key;
    * the original cell column rides along as data so reads keep its
    * exact type). This is the textbook IVF list layout expressed as a
    * parquet partition tree: a probe reads ONLY its probed cells'
    * directories ([[ivfSearchStored]]'s literal filters), and directory
    * count = trained cell count — bounded by the quantizer's k, never by
    * the corpus. (For k beyond ~10⁴ cells, bucket the key —
    * `pmod(hash(cell), m)` — the RepIndex layout; at the trained sizes
    * this engine targets, one directory per cell IS the index.) Edge: an
    * EMPTY corpus writes the lists unpartitioned (partitionBy writes no
    * directories for zero rows — the RepIndex.write edge) and
    * [[ivfSearchStored]] degrades to the unpruned scan. */
  def writeIvfIndex(vectors: DataFrame, cells: DataFrame,
                    centroids: DataFrame, idCol: String, vecCol: String,
                    cellCol: String, dir: String): Unit = {
    // write order: centroids → lists → sidecar. The sidecar (written
    // LAST, atomic rename) fingerprints the centroid CONTENT and the
    // lists row count, both re-derived FROM DISK at open
    // ([[ivfSearchStored]]) — so every harmful torn state is loud:
    //  - crash after centroids: old sidecar's centroid fingerprint
    //    mismatches the new geometry on disk (and if the geometry did
    //    not change, the old artifact is still self-consistent);
    //  - crash after lists: old sidecar mismatches whichever of
    //    fingerprint/count the re-train changed; if it changed neither,
    //    the artifact is identical by construction.
    // A bare count can NOT catch the same-size re-train (new lists under
    // old counts) — the content fingerprint is what closes that hole.
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    graft.ops.StoreWrite.partitioned(vectors.select(col(idCol), col(vecCol))
        .join(cells.select(col(idCol), col(cellCol)), Seq(idCol)),
      s"$dir/lists", "pcell" -> col(cellCol).cast("string"))
    Artifact.commit(vectors.sparkSession, dir, IvfCommit, Nil, ivfChecks(dir, cellCol))
  }

  /** Serving search over the PERSISTED IVF layout: probe selection runs
    * against the stored centroids exactly as [[ivfSearchIndex]] (shared
    * [[ivfProbes]]), the probe rows materialize on the driver (|queries|
    * × nProbe rows — a serving-sized collect, the prefixTopKStored
    * pattern), and the probed cells become LITERAL partition filters on
    * the lists scan — the listing reads only the probed directories of
    * the per-cell partition tree instead of every list. The probe side
    * is explicitly broadcast into the cell join (it is driver-sized by
    * construction; the lists side is the corpus — the 100 TB-correct
    * build side). Value-identical to [[ivfSearchIndex]] over the same
    * frames: scoring is the shared [[ivfScore]] tail and a cell no probe
    * selected can never contribute (the probe join is inner on cell).
    * Point/serving probes only; batch-scale analytical probes go through
    * [[ivfSearchIndex]], whose plan never materializes the probe set. */
  def ivfSearchStored(spark: SparkSession, queries: DataFrame, dir: String,
                      idCol: String, vecCol: String, cellCol: String,
                      k: Int, nProbe: Int): DataFrame = {
    val cents = ParquetOpen(spark, s"$dir/centroids")
    // torn-artifact guard: the commit sidecar fingerprints centroid
    // CONTENT + lists count, both re-derived from disk at the first open
    // of these sidecar values; a crashed in-place re-train mismatches
    // whichever side it changed (see writeIvfIndex for the case analysis)
    Artifact.open(spark, dir, IvfCommit, _ => ivfChecks(dir, cellCol))
    val (probes, cellLits) = collectCells(spark,
      ivfProbes(queries, cents, idCol, vecCol, cellCol, nProbe), cellCol)
    // pcell is WRITTEN as a string directory key; pin it back to string
    // on read — inference would re-type "007" as int 7, after which
    // string-literal filters ride whichever way coercion casts and
    // distinct "007"/"7" directories merge (the PQ code tree too)
    val l0 = ParquetOpen.pinned(spark, s"$dir/lists", "pcell", StringType)
    val partitioned = l0.columns.contains("pcell")
    val cands0 = (
      if (cellLits.isEmpty) l0.limit(0)
      else if (partitioned) l0.filter(col("pcell").isin(cellLits: _*))
      else l0.filter(col(cellCol).cast("string").isin(cellLits: _*)))
      .select(col(cellCol), col(idCol).as("neighbor_id"),
        toDouble(col(vecCol)).as("nv"))
    ivfScore(broadcast(probes), cands0, cellCol, k)
  }

  /** INCREMENTAL IVF maintenance: assign a new vector batch against the
    * STORED centroid table (no retraining — the standard serving-time
    * append; centroids only retrain when drift warrants a rebuild) and
    * union it into the stored cell assignment. Because assignment is a
    * per-row map over a broadcast centroid table, the append is EXACT:
    * `assign(old) ∪ assign(batch) ≡ assign(old ∪ batch)` under the same
    * centroids — x18_ivf_append hash-gates searches over the appended
    * index against a DuckDB replay that assigns the full corpus in one
    * pass. Cost: one batch-sized map-side pass plus one pass over the
    * (id, cell) rows; no stored vector is read (batch ids must be
    * disjoint from stored ids — the d10/c9 batch contract).
    *
    * The returned cells are MATERIALIZED, one eager `localCheckpoint`
    * leaf (the Bm25/RepIndex fold rule): the next fold and every search
    * read blocks instead of re-running this fold and the ones before it,
    * so their plans are the same size whatever the history (IvfIndexSpec
    * pins the bound). The leaf belongs to whoever holds it;
    * `graft.ops.Checkpoint.releaseLeaves(cells)` frees it. */
  def ivfAppendCells(batch: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, storedCells: DataFrame,
                     cellCol: String): DataFrame =
    storedCells.select(col(idCol), col(cellCol))
      .unionByName(assignToCentroids(batch, idCol, vecCol, centroids, cellCol)
        .select(col(idCol), col("assigned_cell").as(cellCol)))
      .localCheckpoint(true)

  /** TOMBSTONE deletes for the stored IVF index — the reference's
    * soft-delete algebra (tables.py:224-254) applied to the cell
    * assignment: [[ivfSearchIndex]] only reaches a vector through its
    * (id, cell) row, so anti-joining the tombstoned ids out of
    * `storedCells` removes them from every probe, exactly as if the
    * one-pass assignment had never seen them (assignment is per-row, no
    * global state; centroids stay the stored trained table, matching the
    * no-retrain append contract). Delete + [[ivfAppendCells]] re-indexes
    * a changed vector. Ids absent are ignored (idempotent). Returns a
    * materialized cells leaf, released by its holder, exactly as
    * [[ivfAppendCells]] does. */
  def ivfDeleteCells(tombstones: DataFrame, storedCells: DataFrame,
                     idCol: String): DataFrame =
    storedCells.join(tombstones.select(col(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint(true)

  /** IVF TRAINING step: per-cell elementwise centroid — the DEFAULT path.
    * Plain `avg` keyed by (cell, dim): a combine-enabled HashAggregate
    * whose per-group state is (sum, count) — two doubles — regardless of
    * cell size, so a 10M-vector cell costs the same executor memory as a
    * 10-vector one. The double result can drift in the last ulp with
    * partition merge order (floating-point addition isn't associative);
    * that is the correct trade at corpus scale. */
  def cellCentroids(corpus: DataFrame, cellCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(cellCol), posexplode(toDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col(cellCol), col("pos"))
      .agg(avg(col("x")).as("c"))
      .select(col(cellCol), (col("pos") + 1).cast("long").as("dim"),
        round(col("c"), 6).as("centroid"))

  /** [[cellCentroids]] variant that folds the sum over the SORTED values,
    * making the double bit-for-bit independent of partition merge order —
    * and therefore reproducible by an external engine doing the same
    * sorted fold (the cross-engine harness gate needs exactly this). The
    * cost is a collect_list per (cell, dim) — state linear in cell size —
    * so this is the verification path, never the 100 TB default. */
  def cellCentroidsSorted(corpus: DataFrame, cellCol: String, vecCol: String): DataFrame =
    corpus
      .select(col(cellCol), posexplode(toDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col(cellCol), col("pos"))
      .agg(collect_list(col("x")).as("xs"), count(lit(1)).as("n"))
      .select(col(cellCol), (col("pos") + 1).cast("long").as("dim"),
        round(aggregate(sort_array(col("xs")), lit(0.0), (a, x) => a + x) / col("n"), 6)
          .as("centroid"))

  /** (cell, dim, centroid) rows re-shaped to one dense vector per cell —
    * the broadcast-side form every centroid consumer shares (assignment,
    * probe ranking, residual encode/decode): k·dim values, tiny at any
    * corpus scale. */
  private def centroidVectors(centroids: DataFrame, cellCol: String,
                              out: String): DataFrame =
    centroids
      .groupBy(col(cellCol))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as(out))

  /** IVF assignment step: each vector moves to its nearest centroid
    * (squared euclidean, sequential index-order fold so the distance is
    * the same double on any engine; ties broken by cell id). Centroids
    * frame is (cell, dim, centroid) as produced by [[cellCentroids]] —
    * it is re-shaped to one array per cell and BROADCAST
    * ([[centroidVectors]]), so assignment is a map-side pass over the
    * corpus. */
  def assignToCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame, cellCol: String): DataFrame =
    nearestCells(corpus.select(col(idCol), toDouble(col(vecCol)).as("v")),
        col(idCol), "v", centroids, cellCol, 1)
      .select(col(idCol), col(cellCol).as("assigned_cell"),
        round(col("d2"), 6).as("dist_sq"))

  /** The nearest-centroid ranking [[assignToCentroids]] (n = 1 per
    * vector id) and [[ivfProbes]] (n = nProbe per query) share: `rows`
    * crossed with the broadcast [[centroidVectors]], squared euclidean
    * distance `d2` to `vCol`, the `n` nearest cells kept per `key`, ties
    * to the smaller cell. */
  private def nearestCells(rows: DataFrame, key: Column, vCol: String,
                           centroids: DataFrame, cellCol: String,
                           n: Int): DataFrame =
    rankedCut(rows.crossJoin(broadcast(centroidVectors(centroids, cellCol, "cv")))
        .withColumn("d2", aggregate(
          zip_with(col(vCol), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)),
      key, n)(col("d2").asc, col(cellCol).asc)

  /** CLUSTER-BALANCED curation sample — the diversity-preserving
    * subsample step of embedding-space curation pipelines (the selection
    * side of SemDeDup-style cluster pruning: after clustering, keep a
    * bounded, uniformly-drawn quota PER CLUSTER so no dense region
    * dominates the curated set the way it dominates a uniform sample):
    * one [[assignToCentroids]] pass against the trained centroids, then
    * the `m` smallest salted-md5 draws per assigned cell (a deterministic
    * uniform within the cluster — the mixtureWeights draw recipe; ties
    * break on the id). Returns (idCol, assigned_cell, rank, cluster_n) —
    * cluster_n is the pre-sample cluster size, the data-card number a
    * curator reads next to the quota.
    *
    * Scale shape: assignment is map-side against broadcast k·dim
    * centroids; the sample is ONE window partitioned by cell (shuffle
    * keyed on the cell, per-group state = a rank counter); nothing
    * corpus-sized collects anywhere. */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, cellCol: String,
                            m: Int): DataFrame = {
    val assigned = assignToCentroids(corpus, idCol, vecCol, centroids, cellCol)
    val draw = pmod(graft.plans.Md5Long60Expr.md5Long60(concat(col(idCol).cast("string"),
      lit(":graft-bal-v1"))), lit(1000000L))
    rankedCut(assigned.withColumn("draw", draw).withColumn("cluster_n",
        count(lit(1)).over(Window.partitionBy(col("assigned_cell")))),
      col("assigned_cell"), m)(col("draw").asc, col(idCol).asc)
      .select(col(idCol), col("assigned_cell"), col("rank"), col("cluster_n"))
  }

  /** Iterative Lloyd k-means over the IVF building blocks: each round is
    * [[cellCentroids]] (or the sorted-fold gate path) followed by
    * [[assignToCentroids]] — the full trainer whose single step x5/x6
    * expose. Initialization is the supplied coarse cell column (label
    * here; hash buckets in general). Cells that lose every member simply
    * drop out of the next round's centroid table, the standard Lloyd
    * behavior.
    *
    * Scale: each round is one combine-enabled aggregation (centroids:
    * k·dim rows) plus one broadcast map-side assignment — the corpus
    * shuffles ZERO times per round (the groupBy keys on a map-side-derived
    * cell). Each round's assignment frame is `localCheckpoint`ed so deep
    * iteration counts never chain the full lineage of every prior round —
    * the identical failure mode [[graft.dedup.Clusters]] hit in its
    * label-propagation loop (multi-second driver re-canonicalization
    * stalls past ~10 chained rounds). `KmeansSpec` pins the plan size of
    * a 12-round run to that of a 2-round run. */
  def lloydIterations(corpus: DataFrame, idCol: String, vecCol: String,
                      cellCol: String, iters: Int,
                      centroidFn: (DataFrame, String, String) => DataFrame =
                        cellCentroids): DataFrame = {
    require(iters >= 1, "need at least one Lloyd iteration")
    val base = corpus.select(col(idCol), toDouble(col(vecCol)).as("v"))
    var cur = corpus.select(col(idCol), toDouble(col(vecCol)).as("v"),
      col(cellCol).as("cell"))
    var out: DataFrame = null
    (0 until iters).foreach { i =>
      val cents = centroidFn(cur.select(col("cell"), col("v")), "cell", "v")
      out = assignToCentroids(base.withColumnRenamed("v", "emb"), idCol, "emb",
        cents, "cell")
      if (i < iters - 1)
        cur = out.select(col(idCol), col("assigned_cell").as("cell"))
          .join(base, Seq(idCol)).localCheckpoint()
    }
    out.orderBy(col(idCol))
  }

  /** Per-dimension embedding data card: n, mean, population stddev, min,
    * max for every vector dimension — the drift/quality check an
    * embedding pipeline runs per shard before indexing (a shifted mean or
    * collapsed variance on one dimension is the classic symptom of an
    * encoder regression). One posexplode + one combine-enabled
    * aggregation; 64 output rows at any corpus size.
    *
    * `sorted = true` folds sums over the SORTED per-dim values (state
    * linear in corpus/dim-count — the oracle-gate path, bit-reproducible
    * by an external engine doing the same fold); the default uses plain
    * avg/stddev_pop (bounded state, last-ulp topology drift — the 100 TB
    * configuration), mirroring the [[cellCentroids]] split. */
  def dimStats(corpus: DataFrame, vecCol: String,
               sorted: Boolean = false): DataFrame =
    dimMoments(corpus, vecCol, sorted)
      .select((col("pos") + 1).cast("long").as("dim"), col("n"),
        round(col("mean"), 6).as("mean"), round(col("sd"), 6).as("stddev"),
        round(col("vmin"), 6).as("vmin"), round(col("vmax"), 6).as("vmax"))

  /** The per-dimension moments [[dimStats]] and [[whiten]] share:
    * (pos, n, mean, sd, vmin, vmax) per 0-based position, sd the
    * population stddev. Unsorted is avg/stddev_pop (bounded state);
    * `sorted` folds Σx and Σx² over each dim's SORTED values, so an
    * external engine doing the same fold reproduces them bit-exactly.
    * Column pruning drops whatever moment a caller does not read. */
  private def dimMoments(corpus: DataFrame, vecCol: String,
                         sorted: Boolean): DataFrame = {
    val byDim = corpus.select(posexplode(toDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
    val (n, vmin, vmax) = (count(lit(1)).as("n"), min(col("x")).as("vmin"),
      max(col("x")).as("vmax"))
    def sortedMean(f: Column => Column): Column =
      aggregate(sort_array(col("xs")), lit(0.0), (a, x) => a + f(x)) / col("n")
    if (!sorted)
      byDim.agg(n, avg(col("x")).as("mean"), stddev_pop(col("x")).as("sd"), vmin, vmax)
    else
      byDim.agg(n, collect_list(col("x")).as("xs"), vmin, vmax)
        .withColumn("mean", sortedMean(x => x))
        .withColumn("sd", sqrt(greatest(
          sortedMean(x => x * x) - col("mean") * col("mean"), lit(0.0))))
  }

  /** Per-dimension standardization (whitening): z_d = (x_d − μ_d)/σ_d —
    * the normalization step run before PQ/IVF so no dimension dominates
    * the codebook (Jégou et al. 2011 §V trains on whitened data).
    * Constant dimensions (σ=0) map to 0 rather than NaN: a dimension
    * with no variance carries no information.
    *
    * Scale shape: the stats side collapses to ONE row of dim-sized
    * arrays (64 doubles) regardless of corpus size — a combine-enabled
    * aggregate, then a scalar broadcast (the c5/c10 lesson) — and the
    * whitening itself is a map-side `zip_with`; no corpus shuffle.
    * `sorted = true` (gate configuration) folds each dim's values in
    * sorted order so an external engine reproduces μ/σ bit-exactly;
    * the library default is the bounded-state avg/stddev_pop. */
  def whiten(corpus: DataFrame, idCol: String, vecCol: String,
             sorted: Boolean = false): DataFrame = {
    val packed = dimMoments(corpus, vecCol, sorted)
      .select(struct(col("pos"), col("mean"), col("sd")).as("t"))
      .agg(sort_array(collect_list(col("t"))).as("ts"))
      .select(transform(col("ts"), t => t("mean")).as("means"),
        transform(col("ts"), t => t("sd")).as("sds"))
    corpus.crossJoin(broadcast(packed))
      .select(col(idCol).as("vec_id"),
        zip_with(zip_with(toDouble(col(vecCol)), col("means"), (x, m) => x - m),
          col("sds"),
          (d, s) => when(s === 0.0, lit(0.0)).otherwise(d / s)).as("white"))
  }

  // ---- Scalar quantization (SQ8) ---------------------------------------

  /** SQ8 training stats: per-dimension (min, max) over the corpus, packed
    * into ONE row of dim-sized arrays — the whole "codebook" of scalar
    * quantization is 2·dim doubles, broadcastable at any corpus size
    * (FAISS `ScalarQuantizer QT_8bit` trains the same per-dim range).
    * One combine-enabled aggregate (min/max are mergeable), then the
    * dim-sized reshape; no summation anywhere, so the trained range is
    * bit-exact across engines. */
  def sq8Stats(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(toDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("vmin"), max(col("x")).as("vmax"))
      .select(struct(col("pos"), col("vmin"), col("vmax")).as("t"))
      .agg(sort_array(collect_list(col("t"))).as("ts"))
      .select(transform(col("ts"), t => t("vmin")).as("vmins"),
        transform(col("ts"), t => t("vmax")).as("vmaxs"))

  /** code_d = floor((x_d − vmin_d) / (vmax_d − vmin_d) · 255 + 0.5)
    * CLAMPED to [0, 255]; a constant dimension (span 0) codes to 0 and
    * reconstructs to vmin exactly. The clamp is a no-op for the corpus
    * the range was trained on but load-bearing for values quantized
    * under PINNED stats (an appended batch exceeding the trained range —
    * the FAISS saturation rule): an unclamped code outside [0, 255]
    * would silently corrupt neighboring bytes in [[sq8Pack]]'s words.
    * Expects the stats row's `vmins` / `vmaxs` columns in scope (one
    * broadcast crossJoin). Explicit round-half-up (`floor(u·255 + 0.5)`)
    * rather than an engine `round` so both engines quantize the
    * boundary identically. */
  private def sq8CodeExpr(v: Column): Column = {
    val d = zip_with(v, col("vmins"), (x, m) => x - m)
    val span = zip_with(col("vmaxs"), col("vmins"), (a, b) => a - b)
    zip_with(d, span, (x, s) =>
      greatest(least(
        coalesce(floor(x / nullif(s, lit(0.0)) * 255.0 + 0.5), lit(0.0)),
        lit(255.0)), lit(0.0)).cast("int"))
  }

  /** Quantizes `df` to PACKED codes under a GIVEN stats row — the
    * serving/maintenance form: an index's stats are pinned at build (the
    * artifact's contract, like the SRP index's hyperplanes), appended
    * batches quantize under them (saturating at the trained range — the
    * [[sq8CodeExpr]] clamp), and code rows become per-document pure
    * functions, so appends are unions and deletes are anti-joins (the
    * LSH/IVF segment algebra). Output: (idCol, pcode). */
  def sq8PackedCodes(df: DataFrame, stats: DataFrame, idCol: String,
                     vecCol: String, dim: Int): DataFrame =
    df.crossJoin(broadcast(stats))
      .select(col(idCol),
        sq8Pack(sq8CodeExpr(toDouble(col(vecCol))), dim).as("pcode"))

  /** Append a batch to an SQ8 code frame under the index's pinned stats:
    * union of per-doc-pure rows (≡ re-coding the combined corpus under
    * the SAME stats — spec-pinned; a REBUILD retrains the range, which
    * is a different, deliberate operation). */
  def sq8Append(batch: DataFrame, codes: DataFrame, stats: DataFrame,
                idCol: String, vecCol: String, dim: Int): DataFrame =
    codes.unionByName(sq8PackedCodes(batch, stats, idCol, vecCol, dim))

  /** Tombstone-delete from an SQ8 code frame: exact, because code rows
    * are per-document pure (no corpus-dependent state beyond the pinned
    * stats). */
  def sq8DeleteCodes(tombs: DataFrame, codes: DataFrame,
                     idCol: String): DataFrame =
    codes.join(tombs.select(col(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Quantized-only top-k over a PACKED code frame — the pure
    * serving-from-index form (no raw-vector re-rank; compose with a
    * refine pass over the corpus when exactness matters, as [[sq8TopK]]
    * does). Output: (query_id, rank, neighbor_id, sq_sim). */
  def sq8SearchCodes(queries: DataFrame, codes: DataFrame, stats: DataFrame,
                     idCol: String, vecCol: String, dim: Int,
                     k: Int): DataFrame =
    perQueryCut(sq8Scored(queries, codes, stats, idCol, vecCol, dim),
        col("sq_sim").desc, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sq_sim"))

  /** SQ8 stage-1 score: broadcast exact queries (query_id, qv) against
    * each code's reconstruction, `sq_sim` their dot product. */
  private def sq8Scored(queries: DataFrame, codes: DataFrame, stats: DataFrame,
                        idCol: String, vecCol: String, dim: Int): DataFrame =
    codes.select(col(idCol).as("neighbor_id"), col("pcode"))
      .crossJoin(broadcast(stats))
      .withColumn("recon", sq8ReconExpr(sq8Unpack(col("pcode"), dim)))
      .join(broadcast(queryVectors(queries, idCol, vecCol)),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("sq_sim", round(dot(col("qv"), col("recon")), 6))

  /** Packs 8 one-byte codes per long, little-endian — the true SQ8
    * serving layout: exactly `dim` BYTES per vector (a 64-dim float
    * vector stores as 8 longs = 64 B vs 256 B raw float32 / 512 B
    * double), a 4× scan-byte cut on the ANN hot path. Static unroll over
    * word/byte positions: pure shift/or column arithmetic, fully inside
    * whole-stage codegen. The top byte of a word may set the sign bit —
    * [[sq8Unpack]] masks after the arithmetic shift, so the round trip
    * is exact for all 256 values (spec-pinned). */
  def sq8Pack(codes: Column, dim: Int): Column = {
    require(dim % 8 == 0, s"sq8Pack: dim $dim not a multiple of 8")
    array((0 until dim / 8).map { w =>
      (0 until 8).map { j =>
        shiftleft(element_at(codes, w * 8 + j + 1).cast("long"), 8 * j)
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Inverse of [[sq8Pack]]: code_d = (word(d/8) >> 8·(d mod 8)) & 255. */
  def sq8Unpack(packed: Column, dim: Int): Column =
    array((0 until dim).map { d =>
      shiftright(element_at(packed, d / 8 + 1), 8 * (d % 8))
        .bitwiseAND(lit(255L)).cast("int")
    }: _*)

  /** recon_d = vmin_d + (code_d / 255) · (vmax_d − vmin_d); expects the
    * stats row in scope like [[sq8CodeExpr]]. */
  private def sq8ReconExpr(codes: Column): Column = {
    val span = zip_with(col("vmaxs"), col("vmins"), (a, b) => a - b)
    val scaled = zip_with(codes, span, (c, s) => c.cast("double") / 255.0 * s)
    zip_with(col("vmins"), scaled, (m, x) => m + x)
  }

  /** SQ8 two-stage top-k: stage 1 scores EXACT queries against the
    * reconstruction of each corpus vector from its PACKED codes
    * (asymmetric distance, the [[pqAdcTopK]] trade at byte granularity)
    * and shortlists `kShort` per query; stage 2 re-ranks the shortlist by
    * exact cosine against the raw vectors and keeps `k`.
    *
    * Scale shape: the scored corpus representation is dim bytes/vector
    * plus one broadcast 2·dim-double stats row — the stage-1 scan reads
    * codes, never floats; the exact re-rank touches raw vectors for only
    * |queries|·kShort rows (the shortlist broadcasts to the corpus scan,
    * never the reverse). Both rank windows partition by query. Output:
    * (query_id, rank, neighbor_id, sq_sim, sim) — sq_sim is the
    * quantized-space score the shortlist ranked on, sim the exact score
    * the final rank ranked on, both rounded to 6. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, kShort: Int = 20): DataFrame = {
    val stats = sq8Stats(corpus, vecCol)
    val packed = sq8PackedCodes(corpus, stats, idCol, vecCol, dim)
    exactRerank(
      shortlist(sq8Scored(queries, packed, stats, idCol, vecCol, dim), "sq_sim", kShort),
      rawVectors(corpus, idCol, vecCol), k, "sq_sim")
  }

  /** (neighbor_id, cv) raw vectors: the in-plan rerank side. */
  private def rawVectors(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), toDouble(col(vecCol)).as("cv"))

  /** (query_id, qv): the exact query vectors every search scores. */
  private def queryVectors(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))

  /** The ONE exact rerank every two-stage tier rides, in-plan and stored:
    * the broadcast [[shortlist]] against the raw (neighbor_id, cv)
    * vectors, exact cosine, per-query top-k. `stage1Col` names the
    * stage-1 score the shortlist ranked on, carried through to the
    * output. */
  private def exactRerank(short: DataFrame, raw: DataFrame, k: Int,
                          stage1Col: String): DataFrame = {
    val ex = raw.withColumn("cn", normSq(col("cv")))
      .join(broadcast(short), "neighbor_id")
      .withColumn("sim", round(cosine(col("qv"), col("cv"),
        normSq(col("qv")), col("cn")), 6))
    perQueryCut(ex, col("sim").desc, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col(stage1Col), col("sim"))
  }

  /** The ONE stored tail of every two-stage tier ([[sq8TopKStored]],
    * [[bqTopKStored]], [[prefixTopKStored]], [[pqTopKStored]]): the
    * shortlist (|q|·kShort rows, a serving-sized collect) materializes
    * once on the driver, the raw `valueCol` vectors are read pruned to
    * its neighbor ids ([[prunedRawVectors]]), and [[exactRerank]] keeps
    * `k`. */
  private def storedRerank(spark: SparkSession, dir: String, idCol: String,
                           valueCol: String, buckets: Int, shortDf: DataFrame,
                           k: Int, stage1Col: String): DataFrame = {
    val (short, shortRows) = Artifact.collectOnce(spark, shortDf)
    val ids = shortRows.map(_.getAs[Any]("neighbor_id")).distinct.toSeq
    exactRerank(short, prunedRawVectors(spark, dir, idCol, valueCol, ids, buckets),
      k, stage1Col)
  }

  /** Stored SQ8 serving artifact: the 1-row stats (the PINNED
    * quantization geometry — the artifact's contract), the packed code
    * store (PLAIN — stage 1 reads every code by design; that scan IS the
    * compressed tier, dim bytes/vector), the raw vectors partitioned by
    * `pbucket = pmod(id, PrefixBuckets)` so the exact rerank prunes to
    * the shortlist's buckets (the writePrefixIndex stage-2 treatment),
    * and a config sidecar written LAST pinning (dim, buckets, stats fp)
    * — the fingerprint derived from the stats ON DISK, and the codes
    * quantized under those same disk stats, so codes and stats can
    * never commit from different releases (codes under foreign stats
    * silently corrupt every sq_sim — the clamp only saturates, it
    * cannot detect). Empty corpus writes vectors unpartitioned (the
    * RepIndex.write edge). */
  def writeSq8Index(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int, dir: String): Unit = {
    val spark = corpus.sparkSession
    sq8Stats(corpus, vecCol).write.mode("overwrite").parquet(s"$dir/stats")
    val statsDisk = ParquetOpen(spark, s"$dir/stats")
    sq8PackedCodes(corpus, statsDisk, idCol, vecCol, dim)
      .write.mode("overwrite").parquet(s"$dir/codes")
    writePrefixRows(corpus.select(col(idCol), col(vecCol)), idCol, dir)
    Artifact.commit(spark, dir, Sq8Config, Seq(dim, PrefixBuckets), sq8Checks(dir))
  }

  private val Sq8Config = Artifact.Sidecar("sq8_config", 3 to 3, checksAt = 2,
    what = "stored SQ8 index", remedy = "torn artifact: re-run writeSq8Index")

  /** Content fingerprint of the written stats (per-row json hash). */
  private def sq8Checks(dir: String): Seq[Artifact.Check] = Seq(
    Artifact.fingerprinted("stats fp", s"$dir/stats", to_json(struct(col("*")))))

  /** [[sq8TopK]] over the persisted layout — value-identical (shared
    * [[exactRerank]] tail; sq8Stats is a min/max, so stored stats equal
    * the inline derivation bit-for-bit): stage 1 scans the PLAIN code
    * store (every code — the compressed-tier contract), the shortlist
    * materializes on the driver (|q|·kShort rows — a serving-sized
    * collect, the prefixTopKStored pattern), and the rerank's raw-vector
    * scan prunes by LITERAL pbucket partition filters + a pushed In(id).
    * `dim` comes from the artifact, never the caller; the stats
    * fingerprint validates once per (dir, sidecar) — a torn re-train
    * (codes under different stats than the sidecar pinned) fails
    * loudly. Point/serving probes only; batch analytical scoring goes
    * through [[sq8TopK]]. */
  def sq8TopKStored(spark: SparkSession, queries: DataFrame, dir: String,
                    idCol: String, vecCol: String, k: Int,
                    kShort: Int = 20): DataFrame = {
    val Seq(dim, buckets, _) = Artifact.open(spark, dir, Sq8Config, _ => sq8Checks(dir))
    val scored = sq8Scored(queries, ParquetOpen(spark, s"$dir/codes"),
      ParquetOpen(spark, s"$dir/stats"), idCol, vecCol, dim)
    storedRerank(spark, dir, idCol, vecCol, buckets,
      shortlist(scored, "sq_sim", kShort), k, "sq_sim")
  }

  // ---- Binary quantization (1 bit/dim) ---------------------------------

  /** Sign-bit words — the 1-bit/dim extreme of the quantization ladder
    * (SQ8 = 8 bit/dim recall 1.0; PQ = 4 bit/subspace-dim; this tier is
    * 1 bit/dim: a 64-dim float vector serves from EIGHT bytes): bit
    * (i mod 32) of word ⌊i/32⌋ is set iff x_i > 0 (the srpBucketSql
    * sign convention). 32 dims per word keeps every word in [0, 2³²) so
    * an external engine's BIGINT arithmetic reproduces the pack with no
    * sign-bit hazard, and the pack is pure shift/or column arithmetic
    * inside whole-stage codegen. Parameter-free (no stats, no training)
    * — code rows are per-document pure with NO pinned state, the
    * simplest append/delete algebra of any tier. */
  def bqCodes(v: Column, dim: Int): Column = {
    require(dim >= 1, s"bqCodes: dim $dim")
    array((0 until (dim + 31) / 32).map { w =>
      (w * 32 until math.min(w * 32 + 32, dim)).map { i =>
        when(element_at(v, i + 1) > lit(0.0), lit(1L << (i - w * 32)))
          .otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
    }: _*)
  }

  /** Hamming distance between two sign-word arrays: Σ popcount(a XOR b)
    * — one codegen'd pass over ⌈dim/32⌉ longs. */
  def bqHamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** Binary-quantized two-stage top-k (the [[sq8TopK]] shape at 1
    * bit/dim): stage 1 ranks by HAMMING distance between sign words
    * (ascending — fewest sign disagreements ≈ highest cosine; ties on
    * neighbor id) and shortlists `kShort`; stage 2 re-ranks the
    * shortlist by exact cosine ([[exactRerank]], the one shared tail).
    * Scale shape: the scored corpus representation is ⌈dim/32⌉ longs
    * per vector — at dim=64 a 100 TB float corpus scans as ~3% of its
    * bytes — and the query side broadcasts. Output: (query_id, rank,
    * neighbor_id, hamming, sim). */
  def bqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
             vecCol: String, dim: Int, k: Int, kShort: Int = 20): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      bqCodes(toDouble(col(vecCol)), dim).as("bwords"))
    exactRerank(bqShortlist(queries, c, idCol, vecCol, dim, kShort),
      rawVectors(corpus, idCol, vecCol), k, "hamming")
  }

  /** Stage 1 of the BQ search — shared by the inline and stored forms:
    * broadcast queries (with their own sign words) against a (neighbor_id,
    * bwords) code frame, the `kShort` fewest sign disagreements per
    * query. */
  private def bqShortlist(queries: DataFrame, codes: DataFrame,
                          idCol: String, vecCol: String, dim: Int,
                          kShort: Int): DataFrame = {
    val q = queryVectors(queries, idCol, vecCol)
      .withColumn("qwords", bqCodes(col("qv"), dim))
    shortlist(codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("hamming", bqHamming(col("qwords"), col("bwords"))),
      "hamming", kShort, ascending = true)
  }

  /** Stored BQ serving artifact (the [[writeSq8Index]] recipe minus the
    * stats — sign codes are parameter-free): the PLAIN word store (stage
    * 1 reads every code by design; that ⌈dim/32⌉-long scan IS the
    * compressed tier), the raw vectors pbucket-partitioned for the
    * pruned exact rerank, and a `bq_config` sidecar written LAST
    * pinning (dim, buckets, codes count mod 1e9, codes content
    * fingerprint) — count and fingerprint re-derived FROM DISK at open,
    * so codes and vectors from different trains cannot serve together
    * silently. Empty corpus writes vectors unpartitioned. */
  def writeBqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   dim: Int, dir: String): Unit = {
    corpus.select(col(idCol), bqCodes(toDouble(col(vecCol)), dim).as("bwords"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    writePrefixRows(corpus.select(col(idCol), col(vecCol)), idCol, dir)
    Artifact.commit(corpus.sparkSession, dir, BqConfig, Seq(dim, PrefixBuckets),
      bqChecks(dir))
  }

  private val BqConfig = Artifact.Sidecar("bq_config", 4 to 4, checksAt = 2,
    what = "stored BQ index", remedy = "torn artifact: re-run writeBqIndex")

  /** Count and per-row json-hash fingerprint of the written word store. */
  private def bqChecks(dir: String): Seq[Artifact.Check] = Seq(
    Artifact.counted("codes", s"$dir/codes"),
    Artifact.fingerprinted("fp", s"$dir/codes", to_json(struct(col("*")))))

  /** [[bqTopK]] over the persisted layout — value-identical (shared
    * [[bqShortlist]]/[[storedRerank]] bodies; sign words are pure, so the
    * stored codes ARE the inline derivation parquet-roundtripped):
    * stage 1 scans the plain word store, the shortlist materializes on
    * the driver (|q|·kShort rows — the sq8TopKStored pattern), and the
    * rerank prunes by LITERAL pbucket filters + a pushed In(id)
    * ([[prunedRawVectors]]). `dim` comes from the artifact, never the
    * caller. Point/serving probes only; batch scoring goes through
    * [[bqTopK]]. */
  def bqTopKStored(spark: SparkSession, queries: DataFrame, dir: String,
                   idCol: String, vecCol: String, k: Int,
                   kShort: Int = 20): DataFrame = {
    val Seq(dim, buckets, _, _) = Artifact.open(spark, dir, BqConfig, _ => bqChecks(dir))
    val codes = ParquetOpen(spark, s"$dir/codes")
      .select(col(idCol).as("neighbor_id"), col("bwords"))
    storedRerank(spark, dir, idCol, vecCol, buckets,
      bqShortlist(queries, codes, idCol, vecCol, dim, kShort), k, "hamming")
  }

  // ---- Matryoshka prefix search ----------------------------------------

  /** Matryoshka-style two-stage search (Kusupati et al. 2022, MRL):
    * stage 1 ranks by cosine over the FIRST `p` dimensions only and
    * shortlists `kShort` per query; stage 2 re-ranks the shortlist by
    * full-dimension cosine and keeps `k`. With MRL-trained embeddings the
    * prefix carries most of the signal, so the shortlist loses little
    * recall while stage 1 touches p/dim of the bytes.
    *
    * Scale shape: identical skeleton to [[sq8TopK]] — broadcast query
    * side, per-query windows, shortlist-broadcast re-rank ([[exactRerank]]). The real win
    * needs the STORED layout ([[writePrefixIndex]]): prefix as its own
    * column so stage 1's scan READS only it (column pruning), full
    * vectors read only for the shortlist (partition-pruned). Output:
    * (query_id, rank, neighbor_id, psim, sim). */
  def prefixTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, p: Int, k: Int, kShort: Int = 20): DataFrame = {
    val cPref = corpus.select(col(idCol).as("neighbor_id"),
      slice(toDouble(col(vecCol)), 1, p).as("cp"))
    exactRerank(prefixShortlist(queries, cPref, idCol, vecCol, p, kShort),
      rawVectors(corpus, idCol, vecCol), k, "psim")
  }

  /** Stage 1 of the prefix search: the kShort-per-query [[shortlist]]
    * ranked by prefix cosine `psim`. `cPref`: (neighbor_id, cp). One body
    * for the inline and stored forms so the two cannot drift. */
  private def prefixShortlist(queries: DataFrame, cPref: DataFrame,
                              idCol: String, vecCol: String, p: Int,
                              kShort: Int,
                              rotation: Option[Seq[Seq[Double]]] = None): DataFrame = {
    // rotated layouts rank stage 1 in the ROTATED basis: the query side
    // must apply the artifact's exact rotation or psim is meaningless
    val q = queryVectors(queries, idCol, vecCol)
      .withColumn("qp", rotation.fold(slice(col("qv"), 1, p))(rotatedPrefix(col("qv"), _)))
      .withColumn("qpn", normSq(col("qp")))
    shortlist(cPref.withColumn("cpn", normSq(col("cp")))
        .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
        .withColumn("psim", round(cosine(col("qp"), col("cp"),
          col("qpn"), col("cpn")), 6)),
      "psim", kShort)
  }

  /** Id-hash partition count of the stored prefix layout; pinned in the
    * artifact's config sidecar like [[graft.dedup.MinHash.ProbeBuckets]]. */
  val PrefixBuckets = 16

  /** The shared id-bucketed vectors-table writer every rerank-capable
    * artifact rides ([[writePrefixIndex]], [[writeRotatedPrefixIndex]],
    * [[writeSq8Index]]'s and [[writePqIndex]]'s raw stores, the
    * streamed publishes): whatever row shape the caller selects,
    * partitioned by `pbucket = pmod(id, PrefixBuckets)` (zero rows
    * write flat, [[graft.ops.StoreWrite.partitioned]]). */
  private[graft] def writePrefixRows(rows: DataFrame, idCol: String,
                                     dir: String): Unit =
    graft.ops.StoreWrite.partitioned(rows, s"$dir/vectors",
      "pbucket" -> pmod(col(idCol), lit(PrefixBuckets.toLong)).cast("int"))

  /** Stored Matryoshka layout: ONE parquet table (id, prefix, full),
    * partitioned by pbucket = id mod [[PrefixBuckets]], with (p, buckets)
    * pinned in an atomic config sidecar. The two scans a stored search
    * makes are each bounded by a different pruning axis:
    *  - stage 1 selects only (id, prefix) → parquet COLUMN pruning reads
    *    p/dim of the vector bytes corpus-wide;
    *  - stage 2 filters the full-vector scan by the materialized
    *    shortlist's pbuckets (LITERAL partition filters, pruned at
    *    listing time) and neighbor ids (pushed In filter → parquet
    *    row-group stats pruning).
    * Both plan shapes pinned in PlanShapeSpec; stored ≡ inline
    * value-identity spec-pinned. Empty corpus writes unpartitioned
    * (partitionBy writes no dirs for zero rows — the RepIndex.write
    * edge), and [[prefixTopKStored]] degrades to the unpruned join. */
  def writePrefixIndex(corpus: DataFrame, idCol: String, vecCol: String,
                       p: Int, dir: String): Unit =
    commitPrefix(corpus.sparkSession, p, idCol, dir)(corpus.select(col(idCol),
      slice(col(vecCol), 1, p).as("prefix"), col(vecCol).as("full")))

  /** The unrotated prefix layout's write order, shared by the writer and
    * the streamed publish: retire the rotated family, (id, prefix, full)
    * `rows`, then the (p, buckets) sidecar. */
  private[graft] def commitPrefix(spark: SparkSession, p: Int, idCol: String,
                                  dir: String)(rows: DataFrame): Unit = {
    // a prefix dir holds AT MOST one sidecar family: rebuilding a
    // previously-ROTATED dir unrotated must first retire the rotated
    // sidecar + rotation store, or prefixTopKStored (which prefers
    // prefix_rot_config) would rotate probes against the fresh RAW
    // prefixes — silently garbage psim. Deleting the sidecar FIRST keeps
    // every crash window loud: no sidecar at all reads as a
    // missing-config failure, never a mixed-family artifact.
    Artifact.retire(dir, RotatedPrefixConfig)
    val rotPath = new org.apache.hadoop.fs.Path(s"$dir/rotation")
    val fs = rotPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rotPath)) fs.delete(rotPath, true)
    writePrefixRows(rows, idCol, dir)
    Artifact.commit(spark, dir, PrefixConfig, Seq(p, PrefixBuckets))
  }

  /** (p, buckets) of an unrotated prefix layout. */
  private val PrefixConfig = Artifact.Sidecar("prefix_config", 2 to 2)

  /** (p, buckets, rotation fp) of a rotated prefix layout. */
  private val RotatedPrefixConfig = Artifact.Sidecar("prefix_rot_config",
    3 to 3, checksAt = 2, what = "stored rotation",
    remedy = "torn artifact: re-run writeRotatedPrefixIndex")

  /** Content fingerprint of the written rotation parquet (order-free,
    * nano-scaled values — rotation entries live in [−1, 1]). */
  private def rotationChecks(dir: String): Seq[Artifact.Check] = Seq(
    Artifact.fingerprinted("rotation fp", s"$dir/rotation", col("i"), col("j"),
      round(col("x") * 1000000000L, 0).cast("long")))

  /** Train the prefix ROTATION for non-MRL embeddings — the engine's
    * answer to x24's published 0.38-recall finding: synthetic (or any
    * non-Matryoshka-trained) embeddings spread signal evenly across
    * dimensions, so a head slice carries p/dim of it. The `p` leading
    * eigenvectors of the corpus's SECOND-MOMENT matrix E[xxᵀ] form an
    * orthogonal map whose leading output coordinates carry the most
    * energy — applied WITHOUT centering, it is a pure rotation: every
    * dot product (hence every full-dimension cosine, hence the rerank
    * and the truth) is preserved EXACTLY in exact arithmetic, only the
    * prefix approximation changes. Measured at sf0.01: prefix-16
    * recall@5 0.38 (raw) → 0.52 (rotated); p=32: 0.56 → 0.76.
    *
    * Scale shape: ONE corpus pass reduces to a dim² moment matrix via
    * [[graft.plans.MomentSumAgg]] — each vector's outer product folds
    * into a dim²+1 primitive-double buffer map-side (no per-product
    * Catalyst rows; the shuffle carries one combined buffer per
    * partition, never the corpus) — and the dense eigensolve runs on the
    * DRIVER ([[EigSym]], no dependency). dim is capped at
    * [[MaxRotationDim]]: the Jacobi sweep is O(dim³) on the driver
    * (seconds at 1024, hours at 4096) and [[rotatedPrefix]] builds
    * p·dim literal expression nodes per use — a wider corpus fails fast
    * here instead of hanging downstream. Returns the p rotation rows
    * (each a dim-vector); empty corpus → Nil (no rotation derivable). */
  def moment2Rotation(corpus: DataFrame, vecCol: String, p: Int): Seq[Seq[Double]] = {
    val v = toDouble(col(vecCol))
    // fail-fast dim gate BEFORE the corpus pass: one-row limit scan
    corpus.select(size(col(vecCol)).as("d"))
      .filter(col("d").isNotNull).head(1).foreach { r =>
      require(r.getInt(0) <= MaxRotationDim,
        s"moment2Rotation: dim ${r.getInt(0)} exceeds MaxRotationDim " +
          s"$MaxRotationDim — the driver-side Jacobi eigensolve is " +
          "O(dim³)/sweep and the rotated-prefix expression carries " +
          "p·dim literals; reduce the embedding (jlProject/pqCodes) " +
          "before training a rotation")
    }
    // slot 0 carries the row count, slots 1.. the flattened outer product
    val flat = corpus
      .select(graft.plans.MomentSumAgg.momentSum(v).as("m"))
      .head().getSeq[Double](0)
    if (flat.isEmpty || flat.head == 0.0) Nil
    else {
      val dim = math.sqrt((flat.size - 1).toDouble).round.toInt
      require(dim * dim == flat.size - 1,
        s"non-square moment frame: ${flat.size - 1}")
      // normalize by the corpus size (eigenvectors unchanged) so the
      // eigensolver's convergence scale is data-magnitude, not N —
      // unnormalized sums grow with the corpus and would keep the
      // off-diagonal norm above any absolute floor forever
      val nRows = flat.head.max(1.0)
      val m = Array.tabulate(dim, dim)((i, j) => flat(1 + i * dim + j) / nRows)
      EigSym.leadingColumns(m, p)
    }
  }

  /** Widest embedding the rotation trainer accepts — binds on the
    * driver-side O(dim³) Jacobi sweep and the p·dim literal nodes of
    * [[rotatedPrefix]], both fine at 1024 and prohibitive at the 4096
    * the scaladoc once promised. Wider corpora reduce first. */
  val MaxRotationDim = 1024

  /** (R·x)[1..p] as an array Column — each component one [[dot]] against
    * a LITERAL rotation row (the srpBucketSql shape: an external engine
    * replays it as p literal dot products). The expression carries
    * p·dim literal nodes, so the product is gated: past ~128k literals
    * Catalyst analysis itself becomes the bottleneck — fail fast with
    * the remedy instead of hanging the driver. */
  def rotatedPrefix(v: Column, rotation: Seq[Seq[Double]]): Column = {
    requireRotationBudget(rotation)
    array(rotation.map(r => dot(v, array(r.map(lit): _*))): _*)
  }

  /** The p·dim literal-node gate, standalone so WRITERS can reject an
    * oversized rotation BEFORE mutating a store ([[rotatedPrefix]] fires
    * it at expression-build time, but by then
    * the rotated-prefix writer has already retired the old sidecar —
    * a predictable argument error must fail with zero writes). */
  private def requireRotationBudget(rotation: Seq[Seq[Double]]): Unit = {
    val nodes = rotation.iterator.map(_.size.toLong).sum
    require(nodes <= (1L << 17),
      s"rotatedPrefix: p·dim = $nodes literal nodes exceeds ${1L << 17} — " +
        "lower p or reduce the embedding before rotating")
  }

  /** Inline rotated-prefix two-stage search — [[prefixTopK]] with stage 1
    * ranked in the rotated basis (shared [[prefixShortlist]]/
    * [[exactRerank]] tails; stage 2 re-ranks in RAW space, so the exact
    * sims are bit-identical to the unrotated search's). `rotation` comes
    * from [[moment2Rotation]] (or a stored artifact — never recompute it
    * per query batch). */
  def prefixTopKRotated(queries: DataFrame, corpus: DataFrame, idCol: String,
                        vecCol: String, rotation: Seq[Seq[Double]], k: Int,
                        kShort: Int = 20): DataFrame = {
    val cPref = corpus.select(col(idCol).as("neighbor_id"),
      rotatedPrefix(toDouble(col(vecCol)), rotation).as("cp"))
    exactRerank(
      prefixShortlist(queries, cPref, idCol, vecCol, rotation.size, kShort,
        Some(rotation)),
      rawVectors(corpus, idCol, vecCol), k, "psim")
  }

  /** The ROTATED stored Matryoshka layout: same vectors table as
    * [[writePrefixIndex]] (pbucket-partitioned; stage-1 column pruning +
    * pruned rerank both carry over) except `prefix` holds the ROTATED
    * head — computed under the rotation AS WRITTEN to `rotation/`
    * (read back from disk before coding, the writeSq8Index stats
    * recipe) — while `full` stays the RAW vector, so the exact rerank
    * and any truth comparison live in raw space. Sidecar
    * `prefix_rot_config` written LAST: (p, buckets, rotation content
    * fingerprint re-derived from disk at open) — a crashed in-place
    * re-train leaves the old sidecar disagreeing with the new rotation
    * on disk, loud at first probe. Returns the trained rotation. */
  def writeRotatedPrefixIndex(corpus: DataFrame, idCol: String,
                              vecCol: String, p: Int,
                              dir: String): Seq[Seq[Double]] =
    commitRotatedPrefix(corpus.sparkSession, moment2Rotation(corpus, vecCol, p),
        p, idCol, dir) { rot =>
      val pref =
        if (rot.isEmpty) slice(toDouble(col(vecCol)), 1, p)
        else rotatedPrefix(toDouble(col(vecCol)), rot)
      corpus.select(col(idCol), pref.as("prefix"), col(vecCol).as("full"))
    }

  /** The rotated prefix layout's write order, shared by the trainer and
    * the streamed publish (which carries a PINNED rotation forward
    * instead of retraining): retire the unrotated family, the rotation
    * as (i, j, x) rows FIRST, `rows` built under the rotation AS WRITTEN
    * second, the sidecar last — a crash between rows and sidecar leaves
    * the NEW rotation under the OLD sidecar (fingerprint mismatch, loud),
    * never new-basis rows under an old rotation that still matches its
    * own stale sidecar. Returns the rotation as written. */
  private[graft] def commitRotatedPrefix(spark: SparkSession,
                                         rotation: Seq[Seq[Double]], p: Int,
                                         idCol: String, dir: String)(
      rows: Seq[Seq[Double]] => DataFrame): Seq[Seq[Double]] = {
    import spark.implicits._
    // argument validation BEFORE any mutation: an oversized rotation
    // must be rejected while the previous store is still servable
    requireRotationBudget(rotation)
    // the same mixed-family hazard in the other direction (commitPrefix)
    Artifact.retire(dir, PrefixConfig)
    rotation.zipWithIndex
      .flatMap { case (row, i) => row.zipWithIndex.map { case (x, j) => (i, j, x) } }
      .toDF("i", "j", "x")
      .write.mode("overwrite").parquet(s"$dir/rotation")
    val rot = readRotation(spark, dir)
    writePrefixRows(rows(rot), idCol, dir)
    // the sidecar pins the ACTUAL written width: leadingColumns caps the
    // rotation at dim rows, so a p > dim request would otherwise record
    // a width the width-guard must reject on a perfectly healthy
    // artifact (empty corpus keeps the requested p — zero rows, nothing
    // to contradict it)
    Artifact.commit(spark, dir, RotatedPrefixConfig,
      Seq(if (rot.isEmpty) p else rot.size, PrefixBuckets), rotationChecks(dir))
    rot
  }

  /** The stored rotation rows, ordered (i, j) — driver-sized (p×dim). */
  def readRotation(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    ParquetOpen(spark, s"$dir/rotation")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)

  /** [[prefixTopK]] over the persisted layout — value-identical, with
    * the stage-1 column-pruned scan and a stage-2 re-rank pruned by
    * LITERAL filters: the shortlist (|q|·kShort (query, neighbor, psim)
    * triples — a serving-sized collect) materializes on the driver, and
    * the full-vector scan filters on the shortlist's pbuckets (partition
    * pruning at listing time) AND its neighbor ids (parquet row-group
    * stats pruning via the pushed In filter). Deliberately not dynamic
    * partition pruning — the optimizer-inserted dynamic filter on this
    * join measurably degrades to `dynamicpruningexpression(true)` at
    * runtime (no reusable broadcast of the windowed shortlist subtree),
    * reading every bucket. `p` comes from the artifact, never the
    * caller: a probe sliced at a different p would silently rank stage 1
    * under a different geometry. Point/serving probes only; batch
    * analytical scoring should use [[prefixTopK]] over the corpus. */
  def prefixTopKStored(spark: SparkSession, queries: DataFrame, dir: String,
                       idCol: String, vecCol: String, k: Int,
                       kShort: Int = 20): DataFrame = {
    // a ROTATED layout carries its own sidecar (p, buckets, rotation fp)
    // + a rotation store the probe side must apply in stage 1; the
    // unrotated layout keeps the original 2-int sidecar
    val rotated = Artifact.exists(dir, RotatedPrefixConfig)
    val stored = ParquetOpen(spark, s"$dir/vectors")
    val partitioned = stored.columns.contains("pbucket")
    // once per (dir, sidecar): the rotation fingerprint, then the width
    // guard — a crashed in-place rebuild under a different p leaves the
    // stored prefix column at a width the config no longer describes, so
    // zip_with would null-pad every stage-1 dot product and the
    // shortlist silently degenerates; one row per pbucket directory
    // ([[Artifact.guard]]; the flat layout is the zero-row empty edge,
    // where one limit(1) checks nothing) — and the p×dim rotation
    // collect, an immutable value no probe should pay a Spark job for
    val (cfg, rotation) = Artifact.openWith(spark, dir,
        if (rotated) RotatedPrefixConfig else PrefixConfig,
        _ => if (rotated) rotationChecks(dir) else Nil) { cfg =>
      Artifact.guard(spark, s"$dir/vectors",
          if (partitioned) Seq("pbucket") else Nil, "prefixes of width")(
        size(col("prefix")), _ => cfg.head)
      if (rotated) Some(readRotation(spark, dir)).filter(_.nonEmpty) else None
    }
    val (p, buckets) = (cfg(0), cfg(1))
    val cPref = stored.select(col(idCol).as("neighbor_id"),
      toDouble(col("prefix")).as("cp"))
    storedRerank(spark, dir, idCol, "full", buckets,
      prefixShortlist(queries, cPref, idCol, vecCol, p, kShort, rotation),
      k, "psim")
  }

  /** The pruned stage-2 raw-vector frame of [[storedRerank]]: reads
    * `$dir/vectors`, keeps the shortlist `ids` by LITERAL pbucket filters
    * (partition pruning at listing time) + a pushed In(id) (parquet
    * row-group stats pruning), and projects (neighbor_id, cv) from
    * `valueCol`. Ids keep their ORIGINAL values/types for the In filter
    * (the write path accepted any numeric id — int ids must not crash
    * the stored path); the bucket math runs on the widened long, exactly
    * like the write side's pmod. The flat (empty-corpus) layout skips
    * the partition filter. */
  private def prunedRawVectors(spark: SparkSession, dir: String,
                               idCol: String, valueCol: String,
                               ids: Seq[Any], buckets: Int): DataFrame = {
    val stored = ParquetOpen(spark, s"$dir/vectors")
    val byId = col(idCol).isin(ids: _*)
    val pruned =
      if (ids.isEmpty) stored.limit(0)
      else if (stored.columns.contains("pbucket")) stored.filter(
        col("pbucket").isin(   // pmod, matching the written layout
          ids.map(i => (((i.asInstanceOf[Number].longValue % buckets)
              + buckets) % buckets).toInt)
            .distinct: _*) && byId)
      else stored.filter(byId)
    pruned.select(col(idCol).as("neighbor_id"), toDouble(col(valueCol)).as("cv"))
  }

  /** Product-quantization CODES (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): the vector is split into `nSub`
    * contiguous subvectors of `subDim` dims; each subvector is quantized
    * independently to a small code. The quantizer here is hash-based —
    * the SRP sign bucket of the subvector under `nPlanes` shared
    * deterministic hyperplanes — rather than trained k-means: no
    * iteration, no RNG, reproducible by an external engine, while keeping
    * the PQ structure (per-subspace codebooks, asymmetric distance)
    * intact. Entirely map-side: one pass, no shuffle; codes are
    * `nSub * nPlanes` bits per vector (a 64-dim float vector compresses
    * 256 B → 4 B at the defaults). */
  def pqCodes(corpus: DataFrame, idCol: String, vecCol: String,
              nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4): DataFrame = {
    val planes = hyperplanes(nPlanes, subDim)
    val v = toDouble(col(vecCol))
    val codes = (0 until nSub).map(j => signBits(slice(v, j * subDim + 1, subDim), planes))
    corpus.select(col(idCol), array(codes: _*).as("codes"))
  }

  /** The (id, j, subv) subvector frame — one row per (vector, subspace),
    * the reshape [[trainPqCodebook]]'s centroid step consumes. */
  private def subvectorRows(corpus: DataFrame, idCol: String, vecCol: String,
                            nSub: Int, subDim: Int): DataFrame =
    corpus.select(col(idCol), toDouble(col(vecCol)).as("v"),
        explode(sequence(lit(0), lit(nSub - 1))).as("j"))
      .select(col(idCol), col("j"),
        slice(col("v"), col("j") * subDim + 1, lit(subDim)).as("subv"))

  /** Nearest-codeword CELL (argmin d², ties to the smaller cell — the
    * assignToCentroids rule) for a (j, subv) pair against the one-row
    * broadcast codebook map (`book` column, [[codebookToMap]]'s shape):
    * one sequential index-order distance fold per codeword, all inside a
    * single expression — assignment is map-side with ZERO shuffles and
    * no row explosion. Codewords a training round dropped (lost every
    * member) probe as NULL and are filtered out; an external engine
    * replays the same fold as k literal distance computations. */
  private def nearestSubCell(j: Column, subv: Column, nPlanes: Int): Column = {
    val k = 1 << nPlanes
    val scored = filter(
      transform(sequence(lit(0L), lit((k - 1).toLong)),
        c => struct(
          aggregate(zip_with(subv,
              try_element_at(col("book"), j.cast("long") * k + c),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d"),
          (j.cast("long") * k + c).as("cell"))),
      s => s.getField("d").isNotNull)
    try_element_at(array_sort(scored), lit(1)).getField("cell")
  }

  /** TRAINED per-subspace PQ codebooks (Jégou et al. 2011 §III: each
    * sub-quantizer is k-means over its own subspace): Lloyd rounds over
    * the (id, j, subv) frame, initialized from the deterministic SRP
    * code assignment ([[pqCodes]] — no RNG, so the trained book is
    * reproducible end-to-end), each round's assignment constrained
    * WITHIN its subspace (a subvector competes only for its own
    * subspace's 2^nPlanes codewords). Returns (cell, dim, centroid)
    * under the flattened key cell = j·2^nPlanes + code — the
    * [[pqCodebook]] schema, so every downstream form (ADC
    * reconstruction, the stored tier, the streaming publishes) is
    * unchanged.
    *
    * Why train: the hash (SRP sign-bucket) quantizer needs no iteration
    * but pays recall — x27 measures 0.42 recall@5 at 4 bit/subspace
    * where SQ8 holds 1.0; k-means codewords adapt to the residual
    * distribution (Jégou reports trained PQ ≫ random projections at
    * equal bits), and x27b gates the lift. Scale shape per round: one
    * combine-enabled centroid aggregation (≤ nSub·2^nPlanes·subDim
    * values out) + one fully map-side re-assignment against the
    * broadcast codebook map ([[nearestSubCell]]) — the corpus shuffles
    * ZERO times per round (the lloydIterations contract), and each
    * round's assignment is localCheckpoint'ed so iteration depth never
    * chains lineage. Cells that lose every member drop out — standard
    * Lloyd. */
  def trainPqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                      nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                      iters: Int = 8,
                      centroidFn: (DataFrame, String, String) => DataFrame =
                        cellCentroids): DataFrame = {
    require(iters >= 1, "need at least one Lloyd iteration")
    val k = 1 << nPlanes
    val subs = subvectorRows(corpus, idCol, vecCol, nSub, subDim)
    // SRP init: the hash assignment IS round 0's cells
    var asg = subs.join(
      pqCodes(corpus, idCol, vecCol, nSub, subDim, nPlanes)
        .select(col(idCol), posexplode(col("codes")).as(Seq("j", "code")))
        .select(col(idCol), col("j"), (col("j") * k + col("code")).as("cell")),
      Seq(idCol, "j")).localCheckpoint()
    var book: DataFrame = null
    (0 until iters).foreach { i =>
      book = centroidFn(asg.select(col("cell"), col("subv")), "cell", "subv")
      if (i < iters - 1)
        asg = asg.select(col(idCol), col("j"), col("subv"))
          .crossJoin(broadcast(codebookToMap(book)))
          .withColumn("cell", nearestSubCell(col("j"), col("subv"), nPlanes))
          .select(col(idCol), col("j"), col("subv"), col("cell"))
          .localCheckpoint()
    }
    book
  }

  /** PQ codes ASSIGNED from an explicit codebook (the freeze step of the
    * trained tier, and the form an appended batch must use against a
    * stored trained book): nearest codeword per subspace
    * ([[nearestSubCell]] — map-side against the one-row broadcast map,
    * zero shuffles, the [[pqCodes]] plan shape), pivoted to the same
    * (id, codes) frame. Codes are LOCAL (0-based within the subspace),
    * matching [[pqCodes]], so [[adcRecon]] and the stored searches read
    * both quantizers' output identically. */
  def pqCodesFromBook(corpus: DataFrame, idCol: String, vecCol: String,
                      book: DataFrame, nSub: Int = 8, subDim: Int = 8,
                      nPlanes: Int = 4): DataFrame = {
    val k = 1 << nPlanes
    val v = toDouble(col(vecCol))
    val codes = (0 until nSub).map { j =>
      nearestSubCell(lit(j), slice(v, j * subDim + 1, subDim), nPlanes) -
        lit(j.toLong * k)
    }
    corpus.crossJoin(broadcast(codebookToMap(book)))
      .select(col(idCol), array(codes: _*).as("codes"))
  }

  /** PQ CODEBOOK: per (subspace, code) centroid of the member subvectors —
    * the same training step as [[cellCentroids]] run per subspace, with
    * the flattened key `cell = j * 2^nPlanes + code`. `centroidFn` picks
    * bounded-state plain-avg (default) or the sorted-fold oracle path,
    * exactly like the IVF trainer. The codebook is
    * `nSub * 2^nPlanes * subDim` doubles — broadcastable at any corpus
    * scale. */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                 nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                 centroidFn: (DataFrame, String, String) => DataFrame =
                   cellCentroids): DataFrame = {
    val coded = pqCodes(corpus, idCol, vecCol, nSub, subDim, nPlanes)
      .join(corpus.select(col(idCol), toDouble(col(vecCol)).as("v")), idCol)
    val subRows = coded.select(col(idCol), col("codes"), col("v"),
        explode(sequence(lit(0), lit(nSub - 1))).as("j"))
      .select(
        (col("j") * (1 << nPlanes) + element_at(col("codes"), col("j") + 1)).as("cell"),
        slice(col("v"), col("j") * subDim + 1, lit(subDim)).as("subv"))
    centroidFn(subRows, "cell", "subv")
  }

  /** One-row broadcastable codebook map (cell → codeword vector) from a
    * (cell, dim, centroid) codebook frame — the ADC forms' shared
    * reshape ([[pqAdcTopK]], [[ivfAdcTopK]], the stored searches). */
  private def codebookToMap(book: DataFrame): DataFrame =
    book.groupBy(col("cell"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("cw"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("cell"), col("cw"))))).as("book"))

  /** ADC reconstruction of a coded vector — concatenation of its
    * per-subspace codewords looked up in the broadcast `book` map column
    * next to the `codes` column. */
  private def adcRecon(nSub: Int, nPlanes: Int): Column =
    flatten(transform(sequence(lit(0), lit(nSub - 1)),
      j => element_at(col("book"),
        (j * (1 << nPlanes) + element_at(col("codes"), j + 1)).cast("long"))))

  /** The ONE cell-equi-join ADC scoring tail ([[ivfAdcTopK]],
    * [[ivfAdcSearchStored]] — the ivfScore convention, so the in-plan
    * and stored forms cannot drift): q = (cellCol, query_id, qv),
    * c = (cellCol, neighbor_id, rv). */
  private def adcScoreCells(q: DataFrame, c: DataFrame, cellCol: String,
                            k: Int): DataFrame =
    adcTop(adcScored(q, c, Some(cellCol)), k)

  /** The one ADC score: query × candidate pairs, `adc_sim` the exact
    * query's dot product with the candidate's reconstruction `rv`. With
    * a `cellCol` the pairs are the cell equi-join; without, every
    * candidate against the broadcast queries ([[pqAdcTopK]], and
    * [[pqTopKStored]]'s stage 1). */
  private def adcScored(q: DataFrame, c: DataFrame,
                        cellCol: Option[String]): DataFrame =
    cellCol.fold(c.join(broadcast(q), col("query_id") =!= col("neighbor_id")))(cc =>
        q.join(c, Seq(cc)).filter(col("query_id") =!= col("neighbor_id")))
      .withColumn("adc_sim", round(dot(col("qv"), col("rv")), 6))

  /** Per-query top-k of an [[adcScored]] frame by `adc_sim`. */
  private def adcTop(scored: DataFrame, k: Int): DataFrame =
    perQueryCut(scored, col("adc_sim").desc, k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_sim"))

  /** The in-plan ADC candidate frame ([[pqAdcTopK]], [[ivfAdcTopK]],
    * [[ivfAdcTopKMultiprobe]]): the corpus coded by [[pqCodes]] and
    * reconstructed against the broadcast codebook trained on it, as
    * (neighbor_id, rv). */
  private def adcCandidates(corpus: DataFrame, idCol: String, vecCol: String,
                            nSub: Int, subDim: Int, nPlanes: Int,
                            centroidFn: (DataFrame, String, String) => DataFrame): DataFrame =
    pqCodes(corpus, idCol, vecCol, nSub, subDim, nPlanes)
      .crossJoin(broadcast(codebookToMap(
        pqCodebook(corpus, idCol, vecCol, nSub, subDim, nPlanes, centroidFn))))
      .select(col(idCol).as("neighbor_id"), adcRecon(nSub, nPlanes).as("rv"))

  /** PQ asymmetric-distance top-k SEARCH (ADC): queries keep their exact
    * vectors; each corpus vector is REPLACED by its reconstruction from
    * the codebook (the concatenation of its per-subspace codewords), and
    * similarity is the exact-query × reconstructed-corpus dot product.
    * This is the memory side of the ANN trade: the scored corpus
    * representation is `nSub * nPlanes` bits per vector plus one shared
    * broadcast codebook, so a 1000-executor scan holds codes in memory
    * where raw floats would spill.
    *
    * Plan shape: codes and reconstruction are map-side (codebook map
    * broadcast as one row); the query side broadcasts like [[topK]];
    * ranking is one per-query window. */
  def pqAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                vecCol: String, k: Int,
                nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                centroidFn: (DataFrame, String, String) => DataFrame =
                  cellCentroids): DataFrame =
    adcTop(adcScored(queryVectors(queries, idCol, vecCol), adcCandidates(corpus,
      idCol, vecCol, nSub, subDim, nPlanes, centroidFn), None), k)

  /** IVFADC search (Jégou et al. 2011 §IV): the composed production ANN
    * shape — IVF cell pruning bounds WHICH vectors are scored (per-query
    * work ∝ probed cell size, like [[ivfTopK]]) and PQ asymmetric
    * distance bounds WHAT is read per candidate (codes + one broadcast
    * codebook instead of raw floats, like [[pqAdcTopK]]). The corpus's
    * raw vectors appear only in codebook training; search touches codes.
    *
    * Plan: same equi-join-on-cell skeleton as [[ivfTopK]] with the
    * reconstruction substituted for the stored vector — broadcast
    * codebook map, zero extra shuffles. */
  def ivfAdcTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, cellCol: String, k: Int,
                 nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                 centroidFn: (DataFrame, String, String) => DataFrame =
                   cellCentroids): DataFrame = {
    val q = queries.select(col(cellCol), col(idCol).as("query_id"),
      toDouble(col(vecCol)).as("qv"))
    adcScoreCells(q, adcCandidates(corpus, idCol, vecCol, nSub, subDim, nPlanes,
        centroidFn).join(corpus.select(col(idCol).as("neighbor_id"), col(cellCol)),
        "neighbor_id"),
      cellCol, k)
  }

  /** Persist the PQ/IVFADC serving tier — the LAST approximate family to
    * gain a stored artifact (SQ8, prefix, IVF, BM25 and rep/LSH all have
    * one), and the production ANN composition a serving pipeline reaches
    * for first: 4 B/vector codes cell-partitioned for probe pruning, the
    * broadcastable codebook, and the raw vectors id-bucketed for the
    * exact-rerank tier. Layout:
    *  - `codebook/` — (cell, dim, centroid), nSub·2^nPlanes·subDim rows:
    *    broadcastable at any corpus scale;
    *  - `codes/` — (id, codes, cellCol) partitioned by `pcell` (the
    *    writeIvfIndex string-directory treatment, read back under a
    *    pinned string schema): an IVFADC probe's cells become literal
    *    listing filters, so stage 1 reads probed cells' CODES only —
    *    both prunings compose (fewer rows AND 4 B/dim per row);
    *  - `vectors/` — (id, vecCol) partitioned by
    *    `pbucket = pmod(id, PrefixBuckets)` (the writeSq8Index stage-2
    *    treatment) for the pruned exact rerank;
    *  - `pq_commit` sidecar written LAST (atomic rename): (nSub, subDim,
    *    nPlanes, PrefixBuckets, codes count mod 1e9, codebook content
    *    fingerprint) — count and fingerprint re-derived FROM DISK at
    *    open, so a crashed in-place re-train mismatches whichever store
    *    it changed (the ivf_commit case analysis; geometry params alone
    *    cannot catch a same-shape re-train).
    * Empty corpus writes codes/vectors unpartitioned (the RepIndex.write
    * edge); the stored searches degrade to the (trivially empty)
    * unpruned scans. */
  def writePqIndex(corpus: DataFrame, cells: DataFrame, idCol: String,
                   vecCol: String, cellCol: String, dir: String,
                   nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                   centroidFn: (DataFrame, String, String) => DataFrame =
                     cellCentroids,
                   centroids: Option[DataFrame] = None): Unit = {
    val spark = corpus.sparkSession
    pqCodebook(corpus, idCol, vecCol, nSub, subDim, nPlanes, centroidFn)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    writePqCentroids(spark, centroids, cellCol, dir)
    writePqTail(spark,
      pqCodes(corpus, idCol, vecCol, nSub, subDim, nPlanes), corpus, cells,
      idCol, vecCol, cellCol, dir, nSub, subDim, nPlanes, centroids.isDefined)
  }

  /** [[writePqIndex]] with TRAINED per-subspace k-means codebooks
    * ([[trainPqCodebook]]) instead of the hash quantizer — same layout,
    * same sidecar, same stored searches; only the codebook content and
    * the code assignment change. Codes are assigned under the codebook
    * AS WRITTEN to disk (read back before coding — the writeSq8Index
    * stats recipe), so reconstruction at open time uses the exact
    * rounded codewords the quantizer saw. Streaming maintenance:
    * [[graft.streaming.StreamingPqMaintenance]] pairs with
    * [[writePqIndex]] (codes pure under the fixed SRP planes);
    * [[graft.streaming.StreamingTrainedPqMaintenance]] pairs with THIS
    * tier by pinning the trained book (appending to a trained store
    * without its book would silently mix quantizers — the pinned-book
    * sink is the only sound append path, and its publish carries the
    * book forward verbatim via [[writeTrainedPqIndexWith]]). */
  def writeTrainedPqIndex(corpus: DataFrame, cells: DataFrame, idCol: String,
                          vecCol: String, cellCol: String, dir: String,
                          nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                          iters: Int = 8,
                          centroidFn: (DataFrame, String, String) => DataFrame =
                            cellCentroids,
                          centroids: Option[DataFrame] = None): Unit =
    writeTrainedPqIndexWith(corpus, cells, idCol, vecCol, cellCol,
      trainPqCodebook(corpus, idCol, vecCol, nSub, subDim, nPlanes, iters,
        centroidFn),
      dir, nSub, subDim, nPlanes, centroids)

  /** [[writeTrainedPqIndex]] with the codebook PINNED instead of
    * retrained — the publish path of the trained tier's streaming twin
    * ([[graft.streaming.StreamingTrainedPqMaintenance]]): the stream
    * coded its segments against this exact book, so the published store
    * must carry it forward verbatim (retraining here would silently
    * re-quantize under a book the streamed segments never saw — the
    * mixed-quantizer hazard, answered the way the prefix twin pins its
    * rotation). Book FIRST, codes second, sidecar last: a crash between
    * book and sidecar leaves the new book under the OLD sidecar
    * (codebook-fingerprint mismatch, loud at open), never fresh codes
    * under a stale book. Codes are assigned from the book AS WRITTEN to
    * disk (reread before coding — the writeSq8Index stats recipe). */
  def writeTrainedPqIndexWith(corpus: DataFrame, cells: DataFrame,
                              idCol: String, vecCol: String, cellCol: String,
                              book: DataFrame, dir: String,
                              nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                              centroids: Option[DataFrame] = None): Unit = {
    val spark = corpus.sparkSession
    book.write.mode("overwrite").parquet(s"$dir/codebook")
    writePqCentroids(spark, centroids, cellCol, dir)
    writePqTail(spark,
      pqCodesFromBook(corpus, idCol, vecCol,
        ParquetOpen(spark, s"$dir/codebook"), nSub, subDim, nPlanes),
      corpus, cells, idCol, vecCol, cellCol, dir, nSub, subDim, nPlanes,
      centroids.isDefined)
  }

  /** Each vector minus its cell's coarse centroid — the residual frame
    * both residual forms encode from: the corpus joins its assignment
    * (id-keyed — `cells` is typically [[assignToCentroids]] output, the
    * one shuffle the batch writer already pays) and subtracts the
    * BROADCAST centroid vector map-side. Output (idCol, resv). */
  def residualFrame(corpus: DataFrame, cells: DataFrame,
                    centroids: DataFrame, idCol: String, vecCol: String,
                    cellCol: String): DataFrame =
    corpus.select(col(idCol), toDouble(col(vecCol)).as("v"))
      .join(cells.select(col(idCol), col(cellCol)), Seq(idCol))
      .join(broadcast(centroidVectors(centroids, cellCol, "cvec")),
        Seq(cellCol))
      .select(col(idCol),
        zip_with(col("v"), col("cvec"), (a, b) => a - b).as("resv"))

  /** Persist the RESIDUAL IVFADC tier — Jégou et al. 2011 §IV's actual
    * encoding: the product quantizer codes x − q₁(x) (the vector's
    * offset from its coarse cell centroid), not x itself, so the
    * codebook spends its 2^nPlanes codewords per subspace on the
    * within-cell spread instead of re-describing cell geometry the
    * coarse quantizer already captured. Decode inverts it: the stored
    * searches reconstruct centroid + codeword-concatenation (flagged in
    * the sidecar — slot 8 — so every serving path picks the right
    * decode without a caller-side switch). x28c measures what this buys
    * over raw-vector codes at the same 4 bit/subspace.
    *
    * Coarse centroids are REQUIRED (decode needs them; openPqIndex
    * refuses a residual sidecar without the centroid flag) and should be
    * the table `cells` was assigned against — residuals are computed
    * from the centroids AS WRITTEN to disk (reread before encoding, the
    * writeSq8Index stats recipe), so encode and decode subtract/add
    * bit-identical doubles. Write order: centroids, book (trained on
    * the residual frame), codes, sidecar LAST — a crash leaves the old
    * sidecar fingerprint-mismatching whichever store changed, loud at
    * open. Layout, commit sidecar, and every stored search are shared
    * with [[writePqIndex]]/[[writeTrainedPqIndex]]. */
  def writeResidualPqIndex(corpus: DataFrame, cells: DataFrame,
                           idCol: String, vecCol: String, cellCol: String,
                           centroids: DataFrame, dir: String,
                           nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                           iters: Int = 8,
                           centroidFn: (DataFrame, String, String) => DataFrame =
                             cellCentroids): Unit = {
    val spark = corpus.sparkSession
    writePqCentroids(spark, Some(centroids), cellCol, dir)
    val cents = ParquetOpen(spark, s"$dir/centroids")
      .withColumnRenamed("cell", cellCol)
    Using.resource(residualFrame(corpus, cells, cents, idCol, vecCol, cellCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)) { res =>
      writeResidualPqTail(spark,
        trainPqCodebook(res, idCol, "resv", nSub, subDim, nPlanes, iters,
          centroidFn),
        res, corpus, cells, idCol, vecCol, cellCol, dir, nSub, subDim,
        nPlanes)
    }
  }

  /** [[writeResidualPqIndex]] with the residual codebook PINNED instead
    * of retrained — the publish path of the residual tier's streaming
    * twin ([[graft.streaming.StreamingResidualPqMaintenance]]), exactly
    * the [[writeTrainedPqIndexWith]] relationship: streamed segments
    * were coded against this (book, centroids) pair, so the published
    * store must carry BOTH forward verbatim (retraining either would
    * silently mix quantizers — and for a residual store the centroids
    * are part of the quantizer, not just probe metadata). */
  def writeResidualPqIndexWith(corpus: DataFrame, cells: DataFrame,
                               idCol: String, vecCol: String,
                               cellCol: String, book: DataFrame,
                               centroids: DataFrame, dir: String,
                               nSub: Int = 8, subDim: Int = 8,
                               nPlanes: Int = 4): Unit = {
    val spark = corpus.sparkSession
    writePqCentroids(spark, Some(centroids), cellCol, dir)
    val cents = ParquetOpen(spark, s"$dir/centroids")
      .withColumnRenamed("cell", cellCol)
    val res = residualFrame(corpus, cells, cents, idCol, vecCol, cellCol)
    writeResidualPqTail(spark, book, res, corpus, cells, idCol, vecCol,
      cellCol, dir, nSub, subDim, nPlanes)
  }

  /** Shared finish of the two residual writers: book to disk (reread
    * before coding — the writeSq8Index stats recipe), residual codes,
    * then the common [[writePqTail]] with the residual sidecar flag. */
  private def writeResidualPqTail(spark: SparkSession, book: DataFrame,
                                  res: DataFrame, corpus: DataFrame,
                                  cells: DataFrame, idCol: String,
                                  vecCol: String, cellCol: String,
                                  dir: String, nSub: Int, subDim: Int,
                                  nPlanes: Int): Unit = {
    book.write.mode("overwrite").parquet(s"$dir/codebook")
    writePqTail(spark,
      pqCodesFromBook(res, idCol, "resv",
        ParquetOpen(spark, s"$dir/codebook"), nSub, subDim, nPlanes),
      corpus, cells, idCol, vecCol, cellCol, dir, nSub, subDim, nPlanes,
      hasCentroids = true, residual = true)
  }

  /** The in-plan residual-IVFADC multiprobe twin
    * ([[ivfAdcMultiprobeStored]] over a residual store, batch-analytics
    * form — the ivfAdcTopKMultiprobe relationship with the encode/decode
    * swapped to residual): codes assigned from the EXPLICIT trained
    * `book` over the residual frame, candidates reconstruct centroid +
    * codewords, probe selection and scoring ride the shared
    * [[ivfProbes]]/[[adcScoreCells]] bodies. The spec pins stored ≡
    * this over the same frames. */
  def ivfAdcResidualMultiprobe(queries: DataFrame, corpus: DataFrame,
                               cells: DataFrame, centroids: DataFrame,
                               book: DataFrame, idCol: String,
                               vecCol: String, cellCol: String,
                               k: Int, nProbe: Int,
                               nSub: Int = 8, subDim: Int = 8,
                               nPlanes: Int = 4): DataFrame = {
    val res = residualFrame(corpus, cells, centroids, idCol, vecCol, cellCol)
    val c = pqCodesFromBook(res, idCol, "resv", book, nSub, subDim, nPlanes)
      .join(cells.select(col(idCol), col(cellCol)), Seq(idCol))
      .crossJoin(broadcast(codebookToMap(book)))
      .join(broadcast(centroidVectors(centroids, cellCol, "cvec")),
        Seq(cellCol))
      .select(col(cellCol), col(idCol).as("neighbor_id"),
        zip_with(col("cvec"), adcRecon(nSub, nPlanes), (a, b) => a + b).as("rv"))
    adcScoreCells(
      ivfProbes(queries, centroids, idCol, vecCol, cellCol, nProbe),
      c, cellCol, k)
  }

  /** The COARSE centroid table (optional): stored so probe selection —
    * the full IVFADC composition, [[ivfAdcMultiprobeStored]] — can rank
    * cells per query without the caller shipping centroids around;
    * fingerprinted in the sidecar exactly like writeIvfIndex's. The
    * cell column persists under the NORMALIZED name 'cell' (readers
    * rename back to their cellCol) — open-time validation must never
    * INFER which column is the key, and a caller's column literally
    * named 'dim'/'centroid' must not break it. A re-train WITHOUT
    * centroids retires a previous train's store first (the
    * prefix-family retirement): the sidecar's presence flag goes to
    * 0, openPqIndex skips the centroid check, and a stale store left
    * behind would otherwise serve the OLD train's coarse geometry to
    * multiprobe silently. */
  private def writePqCentroids(spark: SparkSession,
                               centroids: Option[DataFrame],
                               cellCol: String, dir: String): Unit = {
    if (centroids.isEmpty) {
      val cpath = new org.apache.hadoop.fs.Path(s"$dir/centroids")
      val cfs = cpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (cfs.exists(cpath)) cfs.delete(cpath, true)
    }
    centroids.foreach(_.withColumnRenamed(cellCol, "cell")
      .write.mode("overwrite").parquet(s"$dir/centroids"))
  }

  /** The shared store-finishing tail of both PQ writers: join codes to
    * their coarse cell, write the cell-partitioned code tree, the
    * pbucket-partitioned raw vectors, and the commit sidecar (LAST,
    * atomic rename). */
  private def writePqTail(spark: SparkSession, codesOf: DataFrame,
                          corpus: DataFrame, cells: DataFrame, idCol: String,
                          vecCol: String, cellCol: String, dir: String,
                          nSub: Int, subDim: Int, nPlanes: Int,
                          hasCentroids: Boolean,
                          residual: Boolean = false): Unit = {
    graft.ops.StoreWrite.partitioned(
      codesOf.join(cells.select(col(idCol), col(cellCol)), Seq(idCol)),
      s"$dir/codes", "pcell" -> col(cellCol).cast("string"))
    writePrefixRows(corpus.select(col(idCol), col(vecCol)), idCol, dir)
    Artifact.commit(spark, dir, PqCommit,
      Seq(nSub, subDim, nPlanes, PrefixBuckets,
        if (hasCentroids) 1 else 0, if (residual) 1 else 0),
      pqChecks(dir, hasCentroids))
  }

  /** (nSub, subDim, nPlanes, idBuckets, codes count, codebook fp,
    * centroid fp, centroid flag, residual flag). The presence FLAG is its
    * own slot: a fingerprint of 0 is a legal value (empty centroid frame,
    * 1-in-1e9 hash sum), so overloading 0 as "no centroids" would
    * silently skip the torn-centroid check. Slot 8 (residual) grew the
    * format in place: 8-field sidecars read as residual=0. */
  private val PqCommit = Artifact.Sidecar("pq_commit", 8 to 9, checksAt = 4,
    what = "stored PQ index", remedy = "torn artifact: re-run writePqIndex")

  /** Codes count and codebook fingerprint, then the centroid store's
    * fingerprint under its WRITE-NORMALIZED 'cell' column — never
    * inferred from "whichever column is neither dim nor centroid" (a
    * store with extra columns would misvalidate) — or 0 without
    * centroids. */
  private def pqChecks(dir: String, hasCentroids: Boolean): Seq[Artifact.Check] = Seq(
    Artifact.counted("codes", s"$dir/codes"),
    Artifact.fingerprinted("codebook fp", s"$dir/codebook", col("cell"),
      col("dim"), round(col("centroid") * 1000000, 0).cast("long")),
    if (!hasCentroids) Artifact.Check("centroid fp", _ => 0)
    else Artifact.Check("centroid fp", { s =>
      val ccols = ParquetOpen(s, s"$dir/centroids").columns
      // pre-normalization stores (written before the centroid column
      // was pinned to 'cell') fail here by DESIGN — accepting a
      // caller-named column would reintroduce the inference hazard
      // the normalization closed; the one-time migration is a re-run
      require(ccols.contains("cell"),
        s"stored PQ centroids at $dir carry no 'cell' column (found " +
          s"${ccols.mkString(", ")}) — either a torn/foreign artifact " +
          "or a store written before centroid-column normalization: " +
          "re-run writePqIndex once to migrate")
      centroidCheck(dir, "cell").derive(s)
    }))

  /** Open-time torn-artifact guard + config read for the stored PQ tier:
    * returns (nSub, subDim, nPlanes, idBuckets, hasCentroids, residual)
    * after validating [[pqChecks]] against the sidecar, once per (dir,
    * sidecar) in this process. 8-field sidecars read as residual=0
    * (every pre-residual store codes raw vectors). */
  private def openPqIndex(spark: SparkSession,
                          dir: String): (Int, Int, Int, Int, Boolean, Boolean) = {
    val cfg = Artifact.open(spark, dir, PqCommit, cfg => pqChecks(dir, cfg(7) == 1))
    val residual = cfg.lift(8).contains(1)
    require(!residual || cfg(7) == 1,
      s"stored PQ index at $dir claims residual codes but carries no " +
        "coarse centroids — residual reconstruction is centroid + " +
        "codeword, undecodable without them: torn or hand-edited " +
        "artifact, re-run writeResidualPqIndex")
    (cfg.head, cfg(1), cfg(2), cfg(3), cfg(7) == 1, residual)
  }

  /** [[Artifact.collectOnce]] for a cell-pruned stored search: the
    * probe frame and its distinct cells as `pcell` literals (the
    * writer's string cast). The input must carry `cellCol`. */
  private def collectCells(spark: SparkSession, probe: DataFrame,
                           cellCol: String): (DataFrame, Seq[String]) = {
    val (frame, rows) = Artifact.collectOnce(spark,
      probe.withColumn("pcell_lit", col(cellCol).cast("string")))
    (frame.drop("pcell_lit"), rows.map(_.getAs[String]("pcell_lit")).distinct.toSeq)
  }

  /** Pruned, reconstructed ADC candidate frame over the stored code
    * tree — shared by the own-cell ([[ivfAdcSearchStored]]) and
    * multiprobe ([[ivfAdcMultiprobeStored]]) serving searches: probed
    * cells become LITERAL pcell filters (flat layouts fall back to a
    * data-column filter), reconstruction joins the broadcast stored
    * codebook. A RESIDUAL store ([[writeResidualPqIndex]]) decodes as
    * centroid + codeword-concatenation — the cell's coarse centroid
    * joins in broadcast next to the codebook, same plan shape. */
  private def prunedAdcCandidates(spark: SparkSession, dir: String,
                                  idCol: String, cellCol: String,
                                  cellLits: Seq[String],
                                  nSub: Int, nPlanes: Int,
                                  residual: Boolean): DataFrame = {
    val book = codebookToMap(ParquetOpen(spark, s"$dir/codebook"))
    val c0 = ParquetOpen.pinned(spark, s"$dir/codes", "pcell", StringType)
    val partitioned = c0.columns.contains("pcell")
    val pruned =
      (if (cellLits.isEmpty) c0.limit(0)
       else if (partitioned) c0.filter(col("pcell").isin(cellLits: _*))
       else c0.filter(col(cellCol).cast("string").isin(cellLits: _*)))
        .crossJoin(broadcast(book))
    if (!residual)
      pruned.select(col(cellCol), col(idCol).as("neighbor_id"),
        adcRecon(nSub, nPlanes).as("rv"))
    else
      pruned
        .join(broadcast(centroidVectors(
          ParquetOpen(spark, s"$dir/centroids").withColumnRenamed("cell", cellCol),
          cellCol, "cvec")), Seq(cellCol))
        .select(col(cellCol), col(idCol).as("neighbor_id"),
          zip_with(col("cvec"), adcRecon(nSub, nPlanes), (a, b) => a + b).as("rv"))
  }

  /** [[ivfAdcTopK]] over the persisted tier — value-identical (shared
    * [[adcScoreCells]] tail; the stored codebook/codes ARE the in-plan
    * derivations, parquet-roundtripped): each query probes its own cell
    * (the x14 contract — queries carry `cellCol`), the probe rows
    * materialize once on the driver (|queries| rows — a serving-sized
    * collect, the ivfSearchStored pattern), the probed cells become
    * LITERAL pcell filters on the codes scan (listing-time pruning of
    * the cell partition tree), and reconstruction joins the broadcast
    * stored codebook. The probe side broadcasts explicitly (the corpus-
    * side codes must stream at 100 TB). Point/serving probes only;
    * batch analytical scoring goes through [[ivfAdcTopK]]. */
  def ivfAdcSearchStored(spark: SparkSession, queries: DataFrame,
                         dir: String, idCol: String, vecCol: String,
                         cellCol: String, k: Int): DataFrame = {
    val (nSub, _, nPlanes, _, _, residual) = openPqIndex(spark, dir)
    val (q, cellLits) = collectCells(spark,
      queries.select(col(cellCol), col(idCol).as("query_id"),
        toDouble(col(vecCol)).as("qv")), cellCol)
    adcScoreCells(broadcast(q),
      prunedAdcCandidates(spark, dir, idCol, cellCol, cellLits, nSub, nPlanes,
        residual),
      cellCol, k)
  }

  /** The in-plan MULTIPROBE IVFADC twin ([[ivfAdcMultiprobeStored]]'s
    * batch-analytics form): probe selection against an explicit centroid
    * table (shared [[ivfProbes]] — each query ranks cells by centroid
    * distance, keeps `nProbe`), ADC scoring over the probed cells'
    * codes (shared [[adcScoreCells]]). This is the composition a query
    * that does NOT carry its own cell runs — [[ivfAdcTopK]] is the
    * own-cell special case. */
  def ivfAdcTopKMultiprobe(queries: DataFrame, corpus: DataFrame,
                           cells: DataFrame, centroids: DataFrame,
                           idCol: String, vecCol: String, cellCol: String,
                           k: Int, nProbe: Int,
                           nSub: Int = 8, subDim: Int = 8, nPlanes: Int = 4,
                           centroidFn: (DataFrame, String, String) => DataFrame =
                             cellCentroids): DataFrame = {
    adcScoreCells(
      ivfProbes(queries, centroids, idCol, vecCol, cellCol, nProbe),
      adcCandidates(corpus, idCol, vecCol, nSub, subDim, nPlanes, centroidFn)
        .join(cells.select(col(idCol).as("neighbor_id"), col(cellCol)),
          "neighbor_id"),
      cellCol, k)
  }

  /** MULTIPROBE IVFADC over the persisted tier — the full production ANN
    * composition in one stored call: probe selection against the STORED
    * coarse centroids (shared [[ivfProbes]]; the artifact must have been
    * written with `centroids = Some(...)`), the probed cells become
    * LITERAL pcell filters on the code store (listing-time pruning), and
    * ADC scores against the broadcast stored codebook (shared
    * [[adcScoreCells]] — value-identical to [[ivfAdcTopKMultiprobe]]
    * over the same frames). The probe rows materialize once on the
    * driver (|queries|·nProbe rows — the ivfSearchStored pattern) and
    * broadcast into the cell join; the code store streams. Point/serving
    * probes only; batch scoring goes through [[ivfAdcTopKMultiprobe]]. */
  def ivfAdcMultiprobeStored(spark: SparkSession, queries: DataFrame,
                             dir: String, idCol: String, vecCol: String,
                             cellCol: String, k: Int, nProbe: Int): DataFrame = {
    val (nSub, _, nPlanes, _, hasCentroids, residual) = openPqIndex(spark, dir)
    // the sidecar's presence FLAG gates the read, not the directory's
    // existence: a store left behind by an earlier centroid-bearing
    // train (crash before writePqIndex's stale-delete, an external
    // copy) would otherwise rank probe cells against STALE coarse
    // centroids — silent recall loss, the mixed-family hazard
    require(hasCentroids,
      s"stored PQ index at $dir was committed without coarse centroids " +
        "(writePqIndex centroids=None) — multiprobe needs them: re-run " +
        "writePqIndex with centroids=Some(...), or probe own cells via " +
        "ivfAdcSearchStored")
    val cents = ParquetOpen(spark, s"$dir/centroids")
      .withColumnRenamed("cell", cellCol)
    val (probes, cellLits) = collectCells(spark,
      ivfProbes(queries, cents, idCol, vecCol, cellCol, nProbe), cellCol)
    adcScoreCells(broadcast(probes),
      prunedAdcCandidates(spark, dir, idCol, cellCol, cellLits, nSub, nPlanes,
        residual),
      cellCol, k)
  }

  /** Two-stage PQ search over the persisted tier — the compressed-scan
    * analog of [[sq8TopKStored]]: stage 1 scores exact queries against
    * the ADC reconstruction of EVERY stored code (the compressed-tier
    * contract — that 4 B/dim scan IS the index; no cell restriction, so
    * recall is bounded by quantization alone, not probe choice) and
    * shortlists `kShort`; stage 2 re-ranks by exact cosine against the
    * raw vectors, pruned by LITERAL pbucket filters + a pushed In(id)
    * (shared [[adcScored]] stage-1 score and [[storedRerank]] tail).
    * Output: (query_id, rank, neighbor_id, adc_sim, sim). Point/serving
    * probes only. */
  def pqTopKStored(spark: SparkSession, queries: DataFrame, dir: String,
                   idCol: String, vecCol: String, k: Int,
                   kShort: Int = 20): DataFrame = {
    val (nSub, _, nPlanes, buckets, _, residual) = openPqIndex(spark, dir)
    val book = codebookToMap(ParquetOpen(spark, s"$dir/codebook"))
    val coded = ParquetOpen.pinned(spark, s"$dir/codes", "pcell", StringType)
      .crossJoin(broadcast(book))
    val c =
      if (!residual)
        coded.select(col(idCol).as("neighbor_id"),
          adcRecon(nSub, nPlanes).as("rv"))
      else if (!coded.columns.contains("pcell"))
        // flat layout = empty corpus (the writer only skips partitioning
        // then): zero rows to decode, keep the schema
        coded.limit(0).select(col(idCol).as("neighbor_id"),
          adcRecon(nSub, nPlanes).as("rv"))
      else {
        // residual decode without knowing the caller's cell column NAME:
        // the pcell partition value IS the cell cast to string (writer
        // invariant), so the broadcast centroid join keys on it
        val cv = broadcast(centroidVectors(
            ParquetOpen(spark, s"$dir/centroids"), "cell", "cvec")
          .select(col("cell").cast("string").as("pcell"), col("cvec")))
        coded.join(cv, Seq("pcell"))
          .select(col(idCol).as("neighbor_id"),
            zip_with(col("cvec"), adcRecon(nSub, nPlanes), (a, b) => a + b).as("rv"))
      }
    storedRerank(spark, dir, idCol, vecCol, buckets,
      shortlist(adcScored(queryVectors(queries, idCol, vecCol), c, None),
        "adc_sim", kShort), k, "adc_sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings then pruning within-cluster near-duplicate
    * groups, KEEPING the member LEAST similar to its cluster centroid —
    * the paper's rule for maximizing retained diversity (near-dups at a
    * cluster's edge carry more signal than its center). Differs from the
    * plain dedup decision ([[graft.dedup.Clusters.dedupPlan]], d8's
    * min-id keep) exactly in that representative choice.
    *
    * Scale shape, stage by stage:
    *  - centroids: one combine-enabled aggregation; the reshaped
    *    (cell → vector) table is k·dim values, BROADCAST at any corpus
    *    size, so centroid similarity is a map-side pass;
    *  - candidate pairs: cell-bucketed ([[cellPairs]]) — the quadratic
    *    join never materializes; at 100 TB swap in SRP buckets
    *    ([[srpPairs]]) with an identical downstream shape;
    *  - components: bounded-frontier label propagation;
    *  - keep rule: one window partitioned by component — skew bounded by
    *    dup-group size, not corpus size.
    * `centroidFn` picks the centroid path: the default is the
    * bounded-state plain-avg [[cellCentroids]] (the 100 TB configuration);
    * the oracle gate passes [[cellCentroidsSorted]] so the decision is
    * bit-reproducible by an external engine doing the same sorted fold. */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
               threshold: Double,
               centroidFn: (DataFrame, String, String) => DataFrame =
                 cellCentroids): DataFrame =
    semDedupFromPairs(corpus, idCol, vecCol, cellCol,
      cellPairs(corpus, idCol, vecCol, cellCol, threshold), centroidFn)

  /** Shared SemDeDup tail: centroid similarity (broadcast k·dim centroids),
    * connected components over the supplied candidate `pairs`, and the
    * least-central keep window. `pairs` only needs `id_a`/`id_b` columns —
    * any bucketing strategy ([[cellPairs]], [[srpPairs]]) plugs in. */
  def semDedupFromPairs(corpus: DataFrame, idCol: String, vecCol: String,
                        cellCol: String, pairs: DataFrame,
                        centroidFn: (DataFrame, String, String) => DataFrame =
                          cellCentroids): DataFrame = {
    val cvec = centroidVectors(centroidFn(corpus, cellCol, vecCol), cellCol, "cv")
    val v = corpus.select(col(cellCol), col(idCol), toDouble(col(vecCol)).as("v"))
    val withSim = v.join(broadcast(cvec), Seq(cellCol))
      .withColumn("centroid_sim",
        round(cosine(col("v"), col("cv"), normSq(col("v")), normSq(col("cv"))), 6))
      .select(col(idCol), col("centroid_sim"))
    val comps = graft.dedup.Clusters.connectedComponentsAdaptive(pairs)
    val members = withSim
      .join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    // asc_nulls_last: a zero-norm member's NULL sim must not outrank
    // real members for the representative slot (Spark asc = NULLS FIRST)
    rankedCut(members, col("cluster_id"), Int.MaxValue)(
        col("centroid_sim").asc_nulls_last, col(idCol).asc)
      .withColumn("keep", col("rank") === 1)
      .select(col(idCol), col("cluster_id"), col("centroid_sim"), col("keep"))
  }

  /** IVF-style near-duplicate pairs: only pairs sharing a coarse cell
    * (`cellCol`) are compared — the quadratic join never materializes. */
  def cellPairs(corpus: DataFrame, idCol: String, vecCol: String, cellCol: String,
                threshold: Double): DataFrame = {
    val v = corpus.select(col(cellCol), col(idCol), toDouble(col(vecCol)).as("v"))
      .withColumn("n", normSq(col("v")))
    val a = v.select(col(cellCol), col(idCol).as("id_a"), col("v").as("va"), col("n").as("na"))
    val b = v.select(col(cellCol), col(idCol).as("id_b"), col("v").as("vb"), col("n").as("nb"))
    a.join(b, Seq(cellCol)).filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col(cellCol), col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }
}
