package graft.text

import graft.SparkSpec

class BpeSpec extends SparkSpec {

  // Sennrich et al.'s classic fixture
  private val hist = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  test("classic histogram learns the expected merge sequence") {
    val merges = Bpe.trainFromHistogram(hist, 5)
    // (e,s) and (s,t) tie at 9 -> lexicographic; then (es,t); (l,o)/(o,w)
    // tie at 7 -> (l,o); then (lo,w); then the 6-count tie resolves to (e,w)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w"), ("e", "w")),
      merges.toString)
  }

  test("greedy encoding applies ranks in order: unseen word segments correctly") {
    val ranks = Bpe.trainFromHistogram(hist, 4).zipWithIndex.toMap
    // "lowest" was never in the corpus; es+t and l+o+w merges recover low|est
    assert(Bpe.encodeWord("lowest", ranks) == Vector("low", "est"))
    assert(Bpe.encodeWord("low", ranks) == Vector("low"))
    assert(Bpe.encodeWord("xyz", ranks) == Vector("x", "y", "z"))
  }

  test("encoding always round-trips: concatenated symbols reproduce the word") {
    val ranks = Bpe.trainFromHistogram(hist, 8).zipWithIndex.toMap
    val next = seededInts(17L)
    (1 to 200).foreach { _ =>
      val w = (0 until (1 + next(12))).map(_ => ('a' + next(6)).toChar).mkString
      assert(Bpe.encodeWord(w, ranks).mkString == w, s"round trip broke for $w")
    }
  }

  test("greedy encode equals the apply-merges-in-rank-order reference") {
    // the obviously-correct reference: walk the merge list IN ORDER and
    // apply each merge exhaustively — the original BPE formulation; the
    // engine's greedy lowest-rank loop must segment identically
    def reference(word: String, merges: Seq[(String, String)]): Vector[String] = {
      var syms = word.map(_.toString).toVector
      merges.foreach { case (a, b) =>
        var i = 0
        while (i < syms.length - 1) {
          if (syms(i) == a && syms(i + 1) == b)
            syms = (syms.take(i) :+ (a + b)) ++ syms.drop(i + 2)
          else i += 1
        }
      }
      syms
    }
    val merges = Bpe.trainFromHistogram(hist, 10)
    val ranks = merges.zipWithIndex.toMap
    val next = seededInts(29L)
    val alphabet = "lowernstwid" // the training alphabet, so merges fire
    (1 to 300).foreach { _ =>
      val w = (0 until (1 + next(10)))
        .map(_ => alphabet(next(alphabet.length))).mkString
      assert(Bpe.encodeWord(w, ranks) == reference(w, merges),
        s"greedy and rank-order reference diverge on '$w'")
    }
  }

  test("distributed training equals local training on the same histogram") {
    val sp = spark; import sp.implicits._
    val docs = (hist.flatMap { case (w, c) => Seq.fill(c.toInt)(w) })
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val dist = Bpe.train(docs, "text", 5)
    assert(dist == Bpe.trainFromHistogram(hist, 5))
  }

  test("map-side encode: real BPE counts, previews, broadcast merges") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "low lower newest"), (2L, "widest lowest"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainFromHistogram(hist, 5)
    val out = Bpe.encode(sp, docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // doc1: low -> [low]; lower -> [low,e,r]; newest -> [n,ewest? no:
    // merges(5)= up to (e,w): n ew est ... count via encodeWord
    val ranks = merges.zipWithIndex.toMap
    val expect1 = Seq("low", "lower", "newest").flatMap(Bpe.encodeWord(_, ranks))
    val expect2 = Seq("widest", "lowest").flatMap(Bpe.encodeWord(_, ranks))
    assert(out(0) == ((1L, expect1.length.toLong, expect1.take(8).mkString(" "))))
    assert(out(1) == ((2L, expect2.length.toLong, expect2.take(8).mkString(" "))))
    // more merges can only keep or shrink token counts
    val more = Bpe.encode(sp, docs, "doc_id", "text",
      Bpe.trainFromHistogram(hist, 12)).orderBy("doc_id").collect()
    assert(more(0).getLong(1) <= out(0)._2 && more(1).getLong(1) <= out(1)._2)
  }
}
