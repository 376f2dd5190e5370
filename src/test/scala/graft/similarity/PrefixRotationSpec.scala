package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The prefix ROTATION tier ([[Cosine.moment2Rotation]] /
  * [[Cosine.writeRotatedPrefixIndex]]) — the engine's answer to x24's
  * published 0.38-recall finding on non-MRL synthetic embeddings. Pins:
  * the Jacobi eigensolver actually decomposes (reconstruction +
  * orthogonality), the rotation preserves exact full-dimension sims
  * while RAISING prefix recall on the very corpus that produced the
  * 0.38, stored ≡ inline value-identity, and torn-rotation loudness. */
class PrefixRotationSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  test("EigSym: reconstruction and orthogonality on a known symmetric matrix") {
    val m = Array(
      Array(4.0, 1.0, 0.5, 0.0),
      Array(1.0, 3.0, 0.2, 0.1),
      Array(0.5, 0.2, 2.0, 0.3),
      Array(0.0, 0.1, 0.3, 1.0))
    val (w, v) = EigSym.eigSym(m)
    val n = m.length
    // V diag(w) Vᵀ == M
    for (i <- 0 until n; j <- 0 until n) {
      val rec = (0 until n).map(t => v(i)(t) * w(t) * v(j)(t)).sum
      assert(math.abs(rec - m(i)(j)) < 1e-9, s"recon[$i][$j] $rec vs ${m(i)(j)}")
    }
    // columns orthonormal
    for (a <- 0 until n; b <- 0 until n) {
      val d = (0 until n).map(i => v(i)(a) * v(i)(b)).sum
      assert(math.abs(d - (if (a == b) 1.0 else 0.0)) < 1e-9, s"ortho[$a][$b]=$d")
    }
    // leadingColumns sorted by eigenvalue desc
    val lead = EigSym.leadingColumns(m, 2)
    val top = w.max
    val got = (0 until n).map(i => lead.head(i))
    val expectCol = w.indexOf(top)
    assert((0 until n).forall(i => math.abs(math.abs(got(i)) - math.abs(v(i)(expectCol))) < 1e-9))
  }

  test("EigSym: non-convergence is loud, not a silently-degraded diagonal") {
    // a NaN entry keeps the off-diagonal norm incomparable to any floor —
    // the solver must refuse rather than hand leadingColumns an
    // unconverged diagonal to order a stored rotation by
    val bad = Array(
      Array(1.0, Double.NaN),
      Array(Double.NaN, 1.0))
    val e = intercept[IllegalArgumentException] { EigSym.eigSym(bad) }
    assert(e.getMessage.contains("failed to converge"), e.getMessage)
  }

  private def recallAt5(exact: DataFrame, approx: DataFrame): Double = {
    val overlap = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
    overlap.toDouble / exact.count()
  }

  test("rotated prefix-16 recall beats the raw prefix on the x24 corpus") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Cosine.topK(queries, emb, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val raw = Cosine.prefixTopK(queries, emb, "vec_id", "embedding",
        p = 16, k = 5, kShort = 20)
      .select(col("query_id"), col("neighbor_id"))
    val rot = Cosine.moment2Rotation(emb, "embedding", p = 16)
    assert(rot.size == 16 && rot.head.size == 64)
    // rotation rows orthonormal (pure rotation — full-dim sims preserved)
    for (a <- rot.indices; b <- rot.indices) {
      val d = rot(a).zip(rot(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(d - (if (a == b) 1.0 else 0.0)) < 1e-9)
    }
    val rotated = Cosine.prefixTopKRotated(queries, emb, "vec_id", "embedding",
        rot, k = 5, kShort = 20)
      .select(col("query_id"), col("neighbor_id"))
    val (rRaw, rRot) = (recallAt5(exact, raw), recallAt5(exact, rotated))
    info(f"recall@5 raw=$rRaw%.2f rotated=$rRot%.2f")
    assert(rRot > rRaw,
      f"rotation did not help: raw $rRaw%.2f vs rotated $rRot%.2f")
  }

  test("stored rotated layout == inline rotated search; torn rotation loud") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = graft.TestDir("prefrot")
    val rot = Cosine.writeRotatedPrefixIndex(emb, "vec_id", "embedding",
      p = 16, dir)
    val stored = Cosine.prefixTopKStored(spark, queries, dir,
      "vec_id", "embedding", k = 5, kShort = 20)
    val inline = Cosine.prefixTopKRotated(queries, emb, "vec_id", "embedding",
      rot, k = 5, kShort = 20)
    assert(stored.count() > 0, "vacuous fixture")
    assert(stored.collect().toSet == inline.collect().toSet)
    // torn state: rotation changed under a stale sidecar — on a FRESH
    // artifact (validation memoizes per (dir, sidecar); the dir above
    // already validated clean, which is exactly the memo's contract)
    val dir2 = graft.TestDir("prefrot2")
    Cosine.writeRotatedPrefixIndex(emb, "vec_id", "embedding", p = 16, dir2)
    val shifted = spark.read.parquet(s"$dir2/rotation")
      .withColumn("x", col("x") * 0.5d)
    val tmp = graft.TestDir("prefrot_c")
    shifted.write.mode("overwrite").parquet(s"$tmp/rotation")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir2/rotation"), true))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$tmp/rotation"),
      new org.apache.hadoop.fs.Path(s"$dir2/rotation")))
    val e = intercept[IllegalArgumentException] {
      Cosine.prefixTopKStored(spark, queries, dir2, "vec_id", "embedding",
        k = 5).collect()
    }
    assert(e.getMessage.contains("torn artifact"))
  }

  test("rebuilding across sidecar families retires the stale one") {
    // rebuilding a previously-ROTATED dir with the UNROTATED writer must
    // not leave prefix_rot_config + rotation/ behind: prefixTopKStored
    // prefers the rotated sidecar, and a stale one would rotate probes
    // against the fresh RAW prefixes — silently garbage stage-1 scores
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = graft.TestDir("preffam")
    Cosine.writeRotatedPrefixIndex(emb, "vec_id", "embedding", p = 16, dir)
    Cosine.writePrefixIndex(emb, "vec_id", "embedding", p = 16, dir)
    assert(!graft.ops.ConfigFile.exists(dir, "prefix_rot_config"),
      "stale rotated sidecar survived the unrotated rebuild")
    assert(!new java.io.File(s"$dir/rotation").exists(),
      "stale rotation store survived the unrotated rebuild")
    val stored = Cosine.prefixTopKStored(spark, queries, dir,
      "vec_id", "embedding", k = 5, kShort = 20)
    val inline = Cosine.prefixTopK(queries, emb, "vec_id", "embedding",
      p = 16, k = 5, kShort = 20)
    assert(stored.collect().toSet == inline.collect().toSet)
    // and back: the rotated writer retires the plain sidecar
    Cosine.writeRotatedPrefixIndex(emb, "vec_id", "embedding", p = 16, dir)
    assert(!graft.ops.ConfigFile.exists(dir, "prefix_config"),
      "stale plain sidecar survived the rotated rebuild")
  }

  test("empty corpus: rotated writer degrades to a readable unrotated layout") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val none = emb.filter(lit(false))
    val dir = graft.TestDir("prefrot_e")
    val rot = Cosine.writeRotatedPrefixIndex(none, "vec_id", "embedding",
      p = 16, dir)
    assert(rot.isEmpty)
    assert(Cosine.prefixTopKStored(spark, emb.filter(col("vec_id") < 3),
      dir, "vec_id", "embedding", k = 5).count() == 0L)
  }
}
