package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The text-LSH recall knob (VERDICT r8 #5, the x15-nProbe analogue):
  * `rowsPerBand` dials banding recall 1−(1−s^r)^(16/r). Because
  * in-order width-2r bands are unions of adjacent width-r bands, the
  * candidate sets are NESTED — so recall is monotone in the knob by
  * construction, which this spec pins on a corpus planted at a
  * similarity the default band width partially misses. */
class LshBandKnobSpec extends SparkSpec {

  // 30 planted near-dup pairs at Jaccard ≈ 0.73 (40 tokens, last 6
  // mutated → 33 of 45 union shingles shared): at r=8 the per-pair
  // collision probability is ~0.16, at r=2 it is ~0.997 — a corpus where
  // the knob's effect is visible, not saturated
  private def corpus = {
    val sp = spark; import sp.implicits._
    (0 until 30).flatMap { p =>
      val base = (0 until 40).map(i => s"w${p}_$i")
      val mut = base.take(34) ++ (0 until 6).map(i => s"m${p}_$i")
      Seq((p * 2L, base.mkString(" ")), (p * 2L + 1, mut.mkString(" ")))
    }.toDF("doc_id", "text")
  }

  private def pairsAt(r: Int): Set[(Long, Long)] =
    MinHash.nearDuplicates(corpus, "doc_id", "text", n = 2, threshold = 0.5,
        rowsPerBand = r)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet

  test("candidate sets nest and recall is monotone as bands narrow") {
    val truth = MinHash.exactJaccardPairs(corpus, "doc_id", "text",
        n = 2, threshold = 0.5)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(truth.size == 30, s"planting broke: ${truth.size} true pairs")
    val at = Map(1 -> pairsAt(1), 2 -> pairsAt(2), 4 -> pairsAt(4),
      8 -> pairsAt(8))
    // nesting: a width-2r collision implies both width-r sub-band
    // collisions — candidate (and thus verified) sets only grow
    assert(at(8).subsetOf(at(4)), s"8⊄4: ${at(8) -- at(4)}")
    assert(at(4).subsetOf(at(2)), s"4⊄2: ${at(4) -- at(2)}")
    assert(at(2).subsetOf(at(1)), s"2⊄1: ${at(2) -- at(1)}")
    // precision 1 at every setting (verification is exact)
    at.values.foreach(s => assert(s.subsetOf(truth)))
    // the knob is a real dial on this corpus: the default width misses
    // pairs the narrow bands recover
    assert(at(8).size < at(2).size,
      s"knob had no effect: r=8 ${at(8).size}, r=2 ${at(2).size}")
    assert(at(1).size >= at(2).size && at(2).size >= 25,
      s"narrow bands under-recalled: ${at(1).size}/${at(2).size} of 30")
  }

  test("precomputed band rows give exactly the plain call's pairs and Jaccard values") {
    val sharr = MinHash.hashedShingleArray(corpus, "doc_id", "text", 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for (r <- Seq(2, 4)) {
      val plain = rows(MinHash.nearDuplicatesFromArray(sharr, "doc_id",
        threshold = 0.5, rowsPerBand = r))
      val bands = MinHash.bandRows(MinHash.signaturesFromArray(sharr, "doc_id"),
        "doc_id", r).localCheckpoint(true)
      val shared = rows(MinHash.nearDuplicatesFromArray(sharr, "doc_id",
        threshold = 0.5, rowsPerBand = r, precomputedBands = Some(bands)))
      graft.ops.Checkpoint.release(bands)
      assert(plain.nonEmpty, s"r=$r: no pairs to compare")
      assert(shared == plain, s"r=$r: precomputed bands diverged:\n$shared\nvs\n$plain")
    }
  }
}
