package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer (Sennrich et al. 2016), Spark-shaped the
  * way production trainers are:
  *
  *  - TRAINING reduces the corpus to a WORD HISTOGRAM first — one
  *    combine-enabled aggregation whose output is vocabulary-sized
  *    (Zipf-bounded: ~10^5–10^7 rows at any corpus size) — and learns
  *    merges driver-side on that histogram, which is how HuggingFace /
  *    SentencePiece train too: the iterative most-frequent-pair loop is
  *    inherently sequential, but it never needs the corpus, only the
  *    histogram.
  *  - ENCODING broadcasts the learned merge ranks and runs map-side over
  *    the documents (no shuffle, no state): each word is split to
  *    characters and the lowest-rank adjacent pair is merged repeatedly —
  *    the standard greedy BPE encode.
  *
  * Determinism: merge selection breaks count ties by lexicographic pair
  * order, so the learned tokenizer is a pure function of the histogram
  * (and the histogram's exact counts make it a pure function of the
  * corpus — reproducible across topologies and runs).
  */
object Bpe {

  // ---- byte-level alphabet (GPT-2, Radford et al. 2019 `bytes_to_unicode`):
  // every UTF-8 byte maps to a PRINTABLE unicode char — visible bytes
  // ('!'..'~', '¡'..'¬', '®'..'ÿ') map to themselves, the rest to 256+n —
  // so the base vocabulary is exactly 256 symbols, every string round-trips
  // losslessly, and unseen unicode can never produce an unknown token.
  private[text] val byteToChar: Array[Char] = {
    val visible = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
    val out = new Array[Char](256)
    var n = 0
    (0 until 256).foreach { b =>
      if (visible(b)) out(b) = b.toChar
      else { out(b) = (256 + n).toChar; n += 1 }
    }
    out
  }
  private val charToByte: Map[Char, Byte] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap

  /** A word as its byte-level symbol sequence (UTF-8 bytes through the
    * GPT-2 alphabet) — the base split for byte-level training/encoding. */
  def byteSyms(word: String): Vector[String] =
    word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map(b => byteToChar(b & 0xff).toString).toVector

  /** Lossless inverse of byte-level tokens: concatenate, map each char
    * back to its byte, decode UTF-8. Total for any merge table, because
    * merges only ever concatenate alphabet symbols. */
  def decodeByteTokens(tokens: Seq[String]): String =
    new String(tokens.flatMap(_.map(charToByte)).toArray,
      java.nio.charset.StandardCharsets.UTF_8)

  /** Learn `numMerges` merges from a (word, count) histogram. `split`
    * chooses the base alphabet: per-character (default, the t20 gate's
    * oracle-replayable form) or [[byteSyms]] for GPT-2-style byte-level. */
  def trainFromHistogram(hist: Seq[(String, Long)], numMerges: Int,
                         split: String => Vector[String] =
                           _.map(_.toString).toVector): Seq[(String, String)] = {
    var vocab: Map[Vector[String], Long] =
      hist.filter(_._1.nonEmpty)
        .groupMapReduce(s => split(s._1))(_._2)(_ + _)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < numMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + cnt
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // most frequent pair; ties broken lexicographically — deterministic
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        val merged = best._1 + best._2
        vocab = vocab.map { case (syms, cnt) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == best._1 && syms(i + 1) == best._2) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), cnt)
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    merges.toSeq
  }

  /** Distributed training: corpus → word histogram (one aggregation) →
    * driver-side merge learning. Lowercased whitespace words, same
    * tokenizer convention as the rest of the text family. */
  def train(docs: DataFrame, textCol: String, numMerges: Int): Seq[(String, String)] =
    trainFromHistogram(wordHistogram(docs, textCol), numMerges)

  private def wordHistogram(docs: DataFrame, textCol: String): Seq[(String, Long)] =
    docs
      .select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq

  /** Greedy BPE encode of one word under the learned ranks: repeatedly
    * merge the adjacent pair with the LOWEST rank until none applies. */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Vector[String] =
    encodeSyms(word.map(_.toString).toVector, ranks)

  /** Byte-level greedy encode: same merge loop over [[byteSyms]]. Any
    * unicode input tokenizes (to at worst its mapped bytes) and
    * [[decodeByteTokens]] round-trips it exactly — `BpeSpec` pins the
    * round trip on arbitrary unicode. */
  def encodeWordBytes(word: String, ranks: Map[(String, String), Int]): Vector[String] =
    encodeSyms(byteSyms(word), ranks)

  private def encodeSyms(start: Vector[String],
                         ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = start
    var changed = true
    while (changed && syms.length > 1) {
      var bestRank = Int.MaxValue; var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestAt = i }
        }
        i += 1
      }
      if (bestAt < 0) changed = false
      else syms = (syms.take(bestAt) :+ (syms(bestAt) + syms(bestAt + 1))) ++
        syms.drop(bestAt + 2)
    }
    syms
  }

  /** Map-side encoding of a document frame: per doc, the real BPE token
    * count and the first `previewN` tokens (serialized, comparator-
    * friendly). The merge table is broadcast — corpus-scale encoding is
    * embarrassingly parallel. */
  def encode(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)], previewN: Int = 8): DataFrame = {
    val ranks = merges.zipWithIndex.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val r = bc.value
        it.map { case (id, text) =>
          // Locale.ROOT: locale-sensitive toLowerCase would diverge from the
          // Spark lower() convention train() uses (e.g. Turkish dotless ı)
          val words = text.trim.toLowerCase(java.util.Locale.ROOT)
            .split("\\s+").filter(_.nonEmpty)
          val toks = words.iterator.flatMap(w => encodeWord(w, r)).toVector
          (id, toks.length.toLong, toks.take(previewN).mkString(" "))
        }
      }
      .toDF(idCol, "n_bpe_tokens", "preview")
  }
}
