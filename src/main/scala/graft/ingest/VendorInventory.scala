package graft.ingest

import graft.ops.Dedup
import graft.schema.{Schemas, Validate}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's vendor method contract (`tables.py:165-180`): each
  * vendor module exposes one `inventory_*` per record type. Here each
  * returns a DataFrame conformed to the registry schema — a user of the
  * reference switches by implementing this trait per vendor; fetch
  * parallelism comes from partitioning the raw payload frame by region
  * instead of the reference's 8-thread pools (S2).
  */
trait VendorInventory {
  def vendorId: String

  def inventoryComplianceFrameworks(spark: SparkSession): DataFrame
  def inventoryCountries(spark: SparkSession): DataFrame
  def inventoryRegions(spark: SparkSession): DataFrame
  def inventoryZones(spark: SparkSession): DataFrame
  def inventoryServers(spark: SparkSession): DataFrame
  def inventoryServerPrices(spark: SparkSession): DataFrame
  def inventoryServerPricesSpot(spark: SparkSession): DataFrame
  def inventoryStorages(spark: SparkSession): DataFrame
  def inventoryStoragePrices(spark: SparkSession): DataFrame
  def inventoryDatabases(spark: SparkSession): DataFrame
  def inventoryDatabasePrices(spark: SparkSession): DataFrame
  def inventoryTrafficPrices(spark: SparkSession): DataFrame
  def inventoryIpv4Prices(spark: SparkSession): DataFrame
  def inventoryBenchmarkScores(spark: SparkSession): DataFrame

  /** The remaining record types default to empty (not every vendor ships
    * them — mirrors the reference's optional record-type flags). */
  def inventoryVendors(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "vendor")
  def inventoryVendorComplianceLinks(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "vendor_compliance_link")
  def inventoryServerDescriptions(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "server_description")
  def inventoryDatabaseStorages(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "database_storage")
  def inventoryDatabaseStoragePrices(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "database_storage_price")
  def inventoryBenchmarks(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "benchmark")

  /** record-type → (table name, frame) for the pull orchestrator — all 19
    * registry tables. */
  def all(spark: SparkSession): Seq[(String, DataFrame)] = Seq(
    "compliance_framework" -> inventoryComplianceFrameworks(spark),
    "country" -> inventoryCountries(spark),
    "vendor" -> inventoryVendors(spark),
    "vendor_compliance_link" -> inventoryVendorComplianceLinks(spark),
    "region" -> inventoryRegions(spark),
    "zone" -> inventoryZones(spark),
    "server" -> inventoryServers(spark),
    "server_price" -> inventoryServerPrices(spark),
    "server_description" -> inventoryServerDescriptions(spark),
    "storage" -> inventoryStorages(spark),
    "storage_price" -> inventoryStoragePrices(spark),
    "database" -> inventoryDatabases(spark),
    "database_price" -> inventoryDatabasePrices(spark),
    "database_storage" -> inventoryDatabaseStorages(spark),
    "database_storage_price" -> inventoryDatabaseStoragePrices(spark),
    "traffic_price" -> inventoryTrafficPrices(spark),
    "ipv4_price" -> inventoryIpv4Prices(spark),
    "benchmark" -> inventoryBenchmarks(spark),
    "benchmark_score" -> inventoryBenchmarkScores(spark))
}

object VendorInventory {
  /** Empty frame with the registry schema (pull conforms it anyway). */
  def empty(spark: SparkSession, table: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Schemas.tables(table)._1)
}

/** The `pull` orchestrator (reference §3.1, `cli.py:759-921`): per record
  * type — validate/conform (P1), dedup keep-last by PK (A11), then hand to
  * the sink; vendors run as separate Spark jobs (parallelizable by the
  * caller, unlike the reference's sequential TODO). */
object Pull {

  type Sink = (DataFrame, String, Seq[String]) => Unit

  /** Parquet sink factory (harness/warehouse mode): one directory per
    * table, overwritten per pull — upsert semantics come from the
    * downstream HashDiff/SCD machinery in sync mode. */
  def parquetSink(baseDir: String): Sink = (df, table, _) =>
    df.write.mode("overwrite").parquet(s"$baseDir/$table")

  def pull(spark: SparkSession, vendor: VendorInventory, sink: Sink): Map[String, Long] =
    vendor.all(spark).map { case (table, raw) =>
      val (schema, pks) = Schemas.tables(table)
      val conformed = Validate.conform(raw, schema, Map("status" -> "active"))
        .withColumn("observed_at",
          coalesce(col("observed_at"), current_timestamp()))
      val deduped = Dedup.keepLast(conformed.withColumn("__seq", monotonically_increasing_id()),
        pks, Seq(col("__seq"))).drop("__seq")
      sink(deduped, table, pks)
      table -> deduped.count()
    }.toMap
}
