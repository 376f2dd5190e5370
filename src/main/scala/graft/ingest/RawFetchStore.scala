package graft.ingest

import graft.ops.ParquetOpen
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** Raw-fetch checkpoint store (reference S7: cachier pickle cache with
  * 1-day TTL, `vendors/_aws.py:52-66`, `cli.py:785-805`): snapshot a raw
  * payload frame to parquet and reuse it while fresh. At scale this is the
  * re-run/debug lever — vendor APIs are fetched once per TTL, every
  * downstream transform replays from columnar storage. */
object RawFetchStore {

  val DefaultTtlMillis: Long = 24L * 3600 * 1000

  def isFresh(dir: String, ttlMillis: Long = DefaultTtlMillis): Boolean = {
    val marker = Paths.get(dir, "_SUCCESS")
    Files.exists(marker) &&
      (System.currentTimeMillis() - Files.getLastModifiedTime(marker).toMillis) < ttlMillis
  }

  /** Return the cached frame if fresh; otherwise run `fetch`, persist the
    * result, and return the stored copy (so lineage reads columnar). */
  def cached(spark: SparkSession, dir: String, ttlMillis: Long = DefaultTtlMillis)(
      fetch: => DataFrame): DataFrame = {
    if (!isFresh(dir, ttlMillis)) {
      fetch.write.mode("overwrite").parquet(dir)
    }
    ParquetOpen(spark, dir)
  }
}
