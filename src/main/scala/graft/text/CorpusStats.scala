package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level statistics for a training-data pipeline: one aggregation
  * pass producing the numbers a data card needs — document/token volumes,
  * dedup rate, language mix, length distribution. Exact aggregates where
  * the oracle checks them; `approxDistinctTokens` is the HLL path for the
  * scales where exact distinct is a shuffle too far. */
object CorpusStats {

  /** Single-row exact summary of a document corpus. */
  def summary(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(t)).as("n_tokens"),
      sum(length(t)).as("n_chars"),
      countDistinct(TextAnalysis.fingerprint(t)).as("n_unique_fingerprints"),
      min(TextAnalysis.tokenCount(t)).as("min_tokens"),
      max(TextAnalysis.tokenCount(t)).as("max_tokens"),
      round(median(TextAnalysis.tokenCount(t)), 4).as("median_tokens"))
  }

  /** Token-length histogram with fixed bucket width. */
  def lengthHistogram(docs: DataFrame, bucketWidth: Int, textCol: String = "text"): DataFrame =
    docs.groupBy((floor(TextAnalysis.tokenCount(col(textCol)) / bucketWidth) * bucketWidth)
        .cast("long").as("bucket_start"))
      .agg(count(lit(1)).as("n_docs"))

  /** HLL distinct tokens — the 100 TB variant of vocabulary size (no
    * exact-distinct shuffle of every token). Not oracle-gated: approximate
    * by design. */
  def approxDistinctTokens(docs: DataFrame, textCol: String = "text",
                           rsd: Double = 0.01): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .agg(approx_count_distinct(col("tok"), rsd).as("approx_vocab"))
}
