package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MinHashSpec extends SparkSpec {

  private def docs = {
    val sp = spark; import sp.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different words about spark catalyst optimizer and shuffles here"))
      .toDF("doc_id", "text")
  }

  test("identical texts produce identical signatures") {
    val sp = spark; import sp.implicits._
    val two = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sig = MinHash.signatures(
      MinHash.hashedShingleRows(MinHash.shingleRows(two, "doc_id", "text", 2), "doc_id"), "doc_id")
      .drop("doc_id").collect()
    assert(sig(0) == sig(1))
  }

  test("map-side array signatures equal the explode+groupBy signatures") {
    val viaRows = MinHash.signatures(
      MinHash.hashedShingleRows(MinHash.shingleRows(docs, "doc_id", "text", 2), "doc_id"), "doc_id")
    val viaArray = MinHash.signaturesFromArray(
      MinHash.hashedShingleArray(docs, "doc_id", "text", 2), "doc_id")
    assert(viaRows.orderBy("doc_id").collect().toSeq ==
      viaArray.orderBy("doc_id").collect().toSeq)
  }

  test("LSH finds the planted near-dup pair and verifies exact jaccard") {
    val out = MinHash.nearDuplicates(docs, "doc_id", "text", n = 2, threshold = 0.5)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    // 14 tokens -> 13 distinct shingles each, 12 shared: j = 12/14
    assert(math.abs((r.getDouble(2)) - (12.0 / 14)) < 1e-6)
  }

  test("exact jaccard pairs agree with LSH on this corpus") {
    val exact = MinHash.exactJaccardPairs(docs, "doc_id", "text", 2, 0.5, maxDf = 1000)
      .collect()
    assert(exact.length == 1 && exact.head.getLong(0) == 1L)
  }

  test("cross-snapshot dedup flags only new-vs-old pairs") {
    val sp = spark; import sp.implicits._
    // old snapshot: 1 and 2 are near-dups OF EACH OTHER (must NOT appear);
    // new batch: 10 is a near-copy of old 1; 11 and 12 are near-dups of
    // each other but of nothing old (must NOT appear); 13 is unrelated.
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different words about spark catalyst optimizer and shuffles here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank forever"),
      (11L, "many many identical tokens repeated again and again in this new document one"),
      (12L, "many many identical tokens repeated again and again in this new document two"),
      (13L, "nothing here resembles anything from the prior crawl snapshot at all"))
      .toDF("doc_id", "text")
    val out = MinHash.nearDuplicatesAgainst(batch, old, "doc_id", "text",
      n = 2, threshold = 0.5).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 1L), (10L, 2L)),
      s"got ${out.mkString(", ")}")
  }

  test("asymmetric LSH equals the symmetric pipeline restricted to cross-side pairs") {
    val sp = spark; import sp.implicits._
    // 12 docs, 6 near-dup pairs straddling the old/new boundary in both
    // directions plus same-side dups — the asymmetric path must produce
    // exactly the cross-side subset of the symmetric path's verdicts
    val rows = (0 until 12).map { i =>
      val group = i / 2 // pairs (0,1), (2,3), ...
      (i.toLong,
        s"group$group alpha$group beta$group gamma$group delta$group epsilon$group zeta$group marker$i")
    }
    // old = multiples of 3: pair (4,5) and (10,11) land entirely in the
    // new batch, so the symmetric pipeline finds them but the asymmetric
    // one must not; the other four pairs straddle the boundary
    val all = rows.toDF("doc_id", "text")
    def isOld(id: Long) = id % 3 == 0
    val old = all.filter(col("doc_id") % 3 === 0)
    val batch = all.filter(col("doc_id") % 3 =!= 0)
    val asym = MinHash.nearDuplicatesAgainst(batch, old, "doc_id", "text",
        n = 2, threshold = 0.5)
      .select(col("id_new"), col("id_old"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val symAll = MinHash.nearDuplicates(all, "doc_id", "text", n = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(symAll.exists { case (a, b, _) => isOld(a) == isOld(b) },
      "fixture must contain same-side dup pairs for the exclusion to have teeth")
    val sym = symAll
      .filter { case (a, b, _) => isOld(a) != isOld(b) }
      .map { case (a, b, j) => if (isOld(b)) (a, b, j) else (b, a, j) }.toSet
    assert(asym.nonEmpty && asym == sym, s"asym=$asym sym=$sym")
  }

  test("source overlap matrix: identical sources agree 16/16, disjoint near 0") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "srcA", "iota kappa lambda mu nu xi omicron pi"),
      (3L, "srcB", "alpha beta gamma delta epsilon zeta eta theta"), // = srcA doc 1
      (4L, "srcB", "iota kappa lambda mu nu xi omicron pi"),        // = srcA doc 2
      (5L, "srcC", "totally unrelated corpus about catalyst plans and shuffles"))
      .toDF("doc_id", "source", "text")
    val out = MinHash.groupOverlapMatrix(docs, "source", "text", n = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(("srcA", "srcB")) == ((16L, 1000000L)),
      s"identical sources must agree on every component: $out")
    val (agreeC, _) = out(("srcA", "srcC"))
    assert(agreeC <= 2, s"disjoint sources agreeing $agreeC/16")
    // matrix covers each unordered pair exactly once
    assert(out.keySet == Set(("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")))
  }

  test("containment catches the embedded-subset pair that Jaccard misses") {
    val sp = spark; import sp.implicits._
    val long = ((1 to 40).map(i => s"w$i")).mkString(" ")
    val short = ((1 to 8).map(i => s"w$i")).mkString(" ") // prefix of long
    val docs = Seq((1L, long), (2L, short),
      (3L, "an unrelated doc with its own words entirely")).toDF("doc_id", "text")
    val cont = MinHash.exactContainmentPairs(docs, "doc_id", "text", 2, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.get((1L, 2L)).contains(1.0), s"embedded prefix not detected: $cont")
    val jac = MinHash.exactJaccardPairs(docs, "doc_id", "text", 2, 0.9)
      .collect()
    assert(jac.isEmpty, s"jaccard should miss the subset at 0.9: ${jac.toSeq}")
  }

  test("winnowing collisions: identical content collides, disjoint content cannot") {
    val sp = spark; import sp.implicits._
    import graft.text.TextAnalysis
    val docs = Seq(
      (1L, "shared prefix tokens one two three four five six seven eight"),
      (2L, "shared prefix tokens one two three four five six seven eight"),
      (3L, "an entirely different document with no overlapping windows at all"))
      .toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"),
        TextAnalysis.winnowedFingerprint(col("text"), w = 4).as("wfp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical text => identical min-window fingerprint, guaranteed
    assert(fp(1L) == fp(2L))
    // docs with NO shared 4-token window can only collide by hash
    // accident (~2^-30 for one pair); this fixture must not
    assert(fp(3L) != fp(1L))
    // and the verified pair query confirms the shared-window count:
    // 11 tokens -> 8 windows, all shared
    val sh = MinHash.hashedShingleArray(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((sh(1L) intersect sh(2L)).size == 8)
    assert((sh(1L) intersect sh(3L)).isEmpty)
    // the materialized-array frame form is value-identical to the pure
    // Column composition (it only changes the evaluation COUNT)
    val viaFrame = TextAnalysis.winnowedFingerprints(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFrame == fp)
  }

  test("winnowCollisionPairs: hot boilerplate groups are star-paired, normal groups all-paired") {
    val sp = spark; import sp.implicits._
    import graft.text.TextAnalysis
    // 200 docs sharing ONE boilerplate text (a planted hot fingerprint —
    // the license-header case) + two small dup pairs + unique docs
    val boiler = (0L until 200L).map(i => (i, "standard license header text body one two three four"))
    val pairA = Seq((1000L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1001L, "alpha beta gamma delta epsilon zeta eta theta"))
    // enough distinct fingerprints that the 0.999-quantile of group
    // frequency sits at 1 (hot keys are a vanishing fraction of keys at
    // corpus scale; a fixture with 20 keys would put the quantile AT the
    // hot group and correctly not cap it)
    val uniq = (2000L until 4000L).map(i =>
      (i, s"unique document number $i with body tokens $i-${i * 7} $i-${i * 13} tail"))
    val docs = (boiler ++ pairA ++ uniq).toDF("doc_id", "text")
    val f = TextAnalysis.winnowedFingerprints(docs, "doc_id", "text", w = 4)
    val pairs = TextAnalysis.winnowCollisionPairs(f, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot group (200 >> capFloor 32): star around min id 0 — 199 pairs,
    // NOT 200*199/2 = 19900; the cluster is still fully connected
    val hot = pairs.filter { case (a, b) => a < 200 && b < 200 }
    assert(hot.size == 199, s"expected 199 star pairs, got ${hot.size}")
    assert(hot.forall(_._1 == 0L), "star pairs must hub on the group min id")
    // normal dup pair below the cap keeps exact all-pairs semantics
    assert(pairs.contains((1000L, 1001L)))
    // no cross-group or unique-doc pairs
    assert(pairs.size == 200 &&
      !pairs.exists { case (a, b) => (a < 2000) != (b < 2000) })
  }
}

class SimHashSpec extends SparkSpec {

  test("fingerprints are deterministic and identical for identical text") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "omega psi chi totally other")).toDF("doc_id", "text")
    val fp = SimHash.fingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    assert(fp(1L) >= 0 && fp(1L) < (1L << 32))
  }

  test("near pairs by hamming blocks") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text")
    val pairs = SimHash.nearPairs(df, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("native map-side kernel equals the explode+aggregate plan") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha alpha alpha beta"), // repeated tokens: frequency weighting
      (3L, "onewordonly"),
      (4L, "zz yy xx ww vv uu tt ss rr qq pp oo")).toDF("doc_id", "text")
    val native = SimHash.fingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composable = SimHash.fingerprintsComposable(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composable)
    // and the native plan has no shuffle: pure projection over the scan
    val plan = SimHash.fingerprints(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}

class CosineSpec extends SparkSpec {

  test("dot_product NULLs on length mismatch and null elements, like zip_with") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0, 4.0)),
      (2L, Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](3.0)), // mismatch
      (3L, Array[java.lang.Double](1.0, null), Array[java.lang.Double](3.0, 4.0))) // null elem
      .toDF("id", "a", "b")
    val native = df.select(col("id"),
      graft.similarity.Cosine.dot(col("a"), col("b")).as("d")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("d"))).toMap
    val hof = df.select(col("id"),
      graft.similarity.Cosine.dotHof(col("a"), col("b")).as("d")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("d"))).toMap
    assert(native == hof, s"native=$native hof=$hof")
    assert(native(1L).contains(11.0) && native(2L).isEmpty && native(3L).isEmpty)
  }

  test("native dot_product equals the higher-order-function fold, float and double") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (Array(1.0f, 2.5f, -3.25f), Array(0.5f, -1.5f, 2.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(7.25f, 0.0f, -0.125f)))
      .toDF("a", "b")
    val native = df.select(
      graft.similarity.Cosine.dot(col("a"), col("b")).as("d"),
      graft.similarity.Cosine.dot(
        graft.similarity.Cosine.toDouble(col("a")),
        graft.similarity.Cosine.toDouble(col("b"))).as("dd")).collect()
    val hof = df.select(
      graft.similarity.Cosine.dotHof(
        graft.similarity.Cosine.toDouble(col("a")),
        graft.similarity.Cosine.toDouble(col("b"))).as("d")).collect()
    native.zip(hof).foreach { case (n, h) =>
      assert(n.getDouble(0) == h.getDouble(0)) // bit-identical, not approx
      assert(n.getDouble(1) == h.getDouble(0)) // float path == double path
    }
  }

  test("native kernels: interpreted eval matches the codegen'd dataframe path") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.catalyst.util.ArrayData
    // dot product: nullSafeEval (the codegen-fallback path) vs the plan
    val a = Array(1.5f, -2.25f, 3.0f); val b = Array(0.5f, 4.0f, -1.25f)
    val viaPlan = Seq((a, b)).toDF("a", "b")
      .select(graft.similarity.Cosine.dot(col("a"), col("b"))).collect().head.getDouble(0)
    val expr = graft.plans.DotProductExpr(
      graft.plans.Exprs.toExpression(lit(a)), graft.plans.Exprs.toExpression(lit(b)))
    val viaEval = expr.nullSafeEval(
      ArrayData.toArrayData(a), ArrayData.toArrayData(b)).asInstanceOf[Double]
    assert(viaPlan == viaEval)
    // minhash signatures: same comparison
    val sh = Array(12345L, 999999L, 31L)
    val sig = graft.plans.MinHashSigExpr(
      graft.plans.Exprs.toExpression(lit(sh)),
      MinHash.A, MinHash.B, MinHash.ShingleMod, MinHash.P)
    val viaEvalSig = sig.nullSafeEval(ArrayData.toArrayData(sh))
      .asInstanceOf[ArrayData].toLongArray().toSeq
    val viaPlanSig = Seq(Tuple1(sh)).toDF("sharr")
      .select(graft.plans.Exprs.toColumn(graft.plans.MinHashSigExpr(
        graft.plans.Exprs.toExpression(col("sharr")),
        MinHash.A, MinHash.B, MinHash.ShingleMod, MinHash.P)).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(viaPlanSig == viaEvalSig)
  }

  test("cosine of known vectors") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.similarity.Cosine.topK(df.filter(col("vec_id") === 1), df,
        "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // neighbor 3 at cos 1/sqrt(2), neighbor 2 at cos 0
    assert(out.toSeq == Seq((1, 3L, math.rint(1 / math.sqrt(2) * 1e6) / 1e6), (2, 2L, 0.0)))
  }

  test("cell pairs only compare within cells") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.1f), 0),
      (3L, Array(1.0f, 0.0f), 1)).toDF("vec_id", "embedding", "label")
    val out = graft.similarity.Cosine.cellPairs(df, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSet == Set((1L, 2L))) // (1,3) identical but cross-cell
  }

  test("IVF top-k equals brute-force top-k restricted to the query's cell") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1L to 60L).map { id =>
      (id, Array.fill(8)(rnd.nextFloat() * 2 - 1), (id % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val ivf = graft.similarity.Cosine.ivfTopK(
        df.filter(col("vec_id") <= 6), df, "vec_id", "embedding", "label", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val brute = (1L to 6L).flatMap { qid =>
      val cell = (qid % 3).toInt
      graft.similarity.Cosine.topK(
          df.filter(col("vec_id") === qid),
          df.filter(col("label") === cell), "vec_id", "embedding", k = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }
    assert(ivf.sorted == brute.sorted)
  }
}
