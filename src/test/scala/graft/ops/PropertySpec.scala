package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Cross-implementation properties: where an operator has two forms (window
  * vs aggregation, row vs array), they must agree on arbitrary generated
  * data. Raw scalacheck generators with a fixed seed loop (the
  * scalatest-scalacheck bridge is not on the offline classpath). */
class PropertySpec extends SparkSpec {

  private def forAll[T](g: Gen[T], n: Int = 10)(body: T => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      g.apply(Gen.Parameters.default, seed).foreach(body)
    }
  }

  private val rowsGen: Gen[List[(String, Int, Double)]] =
    Gen.listOfN(40, for {
      k <- Gen.oneOf("a", "b", "c", "d")
      seq <- Gen.choose(0, 20)
      v <- Gen.choose(0, 9999).map(_ / 100.0)
    } yield (k, seq, v))

  test("keepLastByMax agrees with window keepLast on random data") {
    val sp = spark; import sp.implicits._
    forAll(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "seq", "v")
        val viaWindow = Dedup.keepLast(df, Seq("k"), Seq(col("seq"), col("v")))
          .select("k", "seq", "v").collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
        val viaAgg = Dedup.keepLastByMax(df, Seq("k"), Seq("seq", "v"))
          .select("k", "seq", "v").collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
        assert(viaWindow.sortBy(_._1).toSeq == viaAgg.sortBy(_._1).toSeq)
      }
    }
  }

  private val tiersGen: Gen[List[(Double, Double)]] =
    Gen.listOfN(6, for {
      upper <- Gen.choose(1, 1000).map(_.toDouble)
      price <- Gen.choose(1, 500).map(_ / 100.0)
    } yield (upper, price)).map(_.distinctBy(_._1))

  test("cumulativeBoundsArray agrees with the window form on random tiers") {
    val sp = spark; import sp.implicits._
    forAll(tiersGen) { tiers =>
      if (tiers.nonEmpty) {
        val arrDf = Seq(Tuple1(tiers)).toDF("raw")
          .select(transform(col("raw"), t =>
            struct(t.getField("_1").as("upper"), t.getField("_2").as("price"))).as("tiers"))
        val viaArray = arrDf.select(explode(TierOps.cumulativeBoundsArray(col("tiers"))).as("t"))
          .select("t.lower", "t.upper").collect()
          .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._2)
        val rowDf = tiers.map { case (u, _) => ("k", u) }.toDF("k", "upper")
        val viaWindow = TierOps.cumulativeBounds(rowDf, Seq("k"), "upper")
          .select("lower", "upper").collect()
          .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._2)
        assert(viaArray.toSeq == viaWindow.toSeq)
      }
    }
  }

  test("bottom-k sample equals the union of per-split samples, any split") {
    // the mergeability law shard-merge relies on:
    // minK(A ∪ B) == minK(minK(A) ∪ minK(B))
    val sp = spark; import sp.implicits._
    val idsGen = Gen.listOfN(300, Gen.choose(0L, 100000L)).map(_.distinct)
    forAll(idsGen, n = 5) { ids =>
      if (ids.size > 20) {
        val (a, b) = ids.splitAt(ids.size / 3)
        val k = 16
        def sampleIds(xs: Seq[Long]) =
          BottomK.sample(xs.toDF("id"), "id", k).collect().map(_.getLong(0)).toSeq
        val direct = sampleIds(ids)
        val merged = sampleIds(sampleIds(a) ++ sampleIds(b))
        assert(direct.toSet == merged.toSet, s"minK not mergeable: $direct vs $merged")
      }
    }
  }

  test("RRF fusion is rank-monotone: improving a doc's rank cannot lower it") {
    val sp = spark; import sp.implicits._
    val ranksGen = Gen.listOfN(8, Gen.choose(1, 20)).map(_.distinct)
    forAll(ranksGen, n = 5) { ranks =>
      if (ranks.size >= 3) {
        val docs = ranks.sorted.zipWithIndex.map { case (r, i) => (1L, 100L + i, r) }
        val sys = docs.toDF("query_id", "doc_id", "rank")
        val fusedRank = graft.retrieval.Fusion
          .rrf(Seq(sys), "query_id", "doc_id", "rank", topK = docs.size)
          .collect().map(r => r.getLong(2) -> r.getInt(1)).toMap
        // single-system fusion must preserve the input rank ORDER exactly
        val ordered = docs.sortBy(_._3).map(_._2)
        assert(ordered.zipWithIndex.forall { case (d, i) => fusedRank(d) == i + 1 },
          s"fusion permuted a single ranked list: $fusedRank")
      }
    }
  }
}
