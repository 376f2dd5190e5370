package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fourth concrete [[VendorInventory]]: a vendor whose SDK returns typed
  * server-type objects with PAIRED hourly/monthly price quotes per
  * location — the shape of the reference's Hetzner module
  * (`vendors/_hcloud.py:181-292`). Distinct ingest traits exercised here:
  *
  *  - **monthly-cap tiered pricing**: the API quotes an hourly price and
  *    a discounted monthly cap; the reference models the cap as tiered
  *    hourly pricing — tier 1 = `[0, monthly/hourly]` at the hourly rate,
  *    tier 2 = everything beyond at 0 (`_hcloud.py:268-278`). The tier
  *    boundary is DERIVED from price arithmetic, not given by the API;
  *  - **decimal prices as strings** (`price_hourly.net`) that must parse
  *    exactly (cast to DecimalType before any arithmetic, P5/P9);
  *  - **no zones**: zone_id mirrors region_id (`_hcloud.py:265`);
  *  - **CPU metadata off a name rule table** (the API doesn't expose it —
  *    `_hcloud.py:82-131`'s manual mapping), a broadcast J1 lookup;
  *  - **status from a nullable deprecation object**.
  */
class CapVendor extends VendorInventory {
  val vendorId = "cap"

  private def withVendor(df: DataFrame): DataFrame =
    df.withColumn("vendor_id", lit(vendorId))

  // ------------------------------------------------------------- payloads

  /** One JSON page of server types, prices nested per location — the
    * SDK's raw REST shape. */
  private[ingest] val serverTypesPayload: String =
    """{"server_types": [
      |  {"id": 104, "name": "cpx11", "description": "CPX 11", "cores": 2,
      |   "memory": 2.0, "disk": 40, "cpu_type": "shared", "architecture": "x86",
      |   "storage_type": "local", "deprecation": null,
      |   "prices": [
      |     {"location": "fsn1", "included_traffic": 21990232555520,
      |      "price_hourly": {"net": "0.0060", "gross": "0.0071"},
      |      "price_monthly": {"net": "3.8500", "gross": "4.5815"}},
      |     {"location": "ash", "included_traffic": 1099511627776,
      |      "price_hourly": {"net": "0.0069", "gross": "0.0082"},
      |      "price_monthly": {"net": "4.4900", "gross": "5.3431"}}
      |   ]},
      |  {"id": 105, "name": "cax21", "description": "CAX 21", "cores": 4,
      |   "memory": 8.0, "disk": 80, "cpu_type": "shared", "architecture": "arm",
      |   "storage_type": "local", "deprecation": null,
      |   "prices": [
      |     {"location": "fsn1", "included_traffic": 21990232555520,
      |      "price_hourly": {"net": "0.0100", "gross": "0.0119"},
      |      "price_monthly": {"net": "6.4900", "gross": "7.7231"}}
      |   ]},
      |  {"id": 106, "name": "ccx33", "description": "CCX 33", "cores": 8,
      |   "memory": 32.0, "disk": 240, "cpu_type": "dedicated", "architecture": "x86",
      |   "storage_type": "network", "deprecation": {"announced": "2025-06-01"},
      |   "prices": [
      |     {"location": "ash", "included_traffic": 32985348833280,
      |      "price_hourly": {"net": "0.0770", "gross": "0.0916"},
      |      "price_monthly": {"net": "49.9900", "gross": "59.4881"}}
      |   ]}
      |]}""".stripMargin

  /** Locations with alias city names (regions resolve by name OR alias —
    * the reference keys its lookup on both). */
  private[ingest] val locationsPayload: String =
    """{"locations": [
      |  {"name": "fsn1", "city": "Falkenstein", "country": "DE", "network_zone": "eu-central"},
      |  {"name": "ash", "city": "Ashburn", "country": "US", "network_zone": "us-east"}
      |]}""".stripMargin

  /** name-prefix → (manufacturer, family, model): the reference's manual
    * CPU table (`_hcloud.py:82-131` shape), a broadcast rule lookup. */
  private[ingest] val cpuRules: Seq[(String, String, String, String)] = Seq(
    ("cpx", "AMD", "EPYC", "7002"),
    ("cax", "Ampere", "Altra", "Q80-30"),
    ("ccx", "AMD", "EPYC", "Milan"))

  private val serverTypeSchema = new StructType()
    .add("server_types", ArrayType(new StructType()
      .add("id", LongType).add("name", StringType).add("description", StringType)
      .add("cores", IntegerType).add("memory", DoubleType).add("disk", LongType)
      .add("cpu_type", StringType).add("architecture", StringType)
      .add("storage_type", StringType)
      .add("deprecation", new StructType().add("announced", StringType))
      .add("prices", ArrayType(new StructType()
        .add("location", StringType).add("included_traffic", LongType)
        .add("price_hourly", new StructType()
          .add("net", StringType).add("gross", StringType))
        .add("price_monthly", new StructType()
          .add("net", StringType).add("gross", StringType))))))

  private val locationSchema = new StructType()
    .add("locations", ArrayType(new StructType()
      .add("name", StringType).add("city", StringType)
      .add("country", StringType).add("network_zone", StringType)))

  private[ingest] def serverTypeRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(serverTypesPayload).toDF("payload")
      .select(explode(from_json(col("payload"), serverTypeSchema)
        .getField("server_types")).as("s"))
  }

  private def locationRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(locationsPayload).toDF("payload")
      .select(explode(from_json(col("payload"), locationSchema)
        .getField("locations")).as("l"))
      .select(col("l.name").as("region_id"), col("l.city").as("city"),
        col("l.country").as("country_id"), col("l.network_zone").as("network_zone"))
  }

  // ---------------------------------------------------------- inventories

  def inventoryComplianceFrameworks(spark: SparkSession): DataFrame =
    SeedTables.complianceFrameworks(spark)

  def inventoryCountries(spark: SparkSession): DataFrame =
    SeedTables.countries(spark)

  def inventoryRegions(spark: SparkSession): DataFrame =
    withVendor(locationRows(spark)
      .withColumn("name", col("region_id"))
      // the city rides along as an alias so price rows can resolve either
      .withColumn("aliases", array(col("city")))
      .withColumn("green_energy", col("network_zone").startsWith("eu")))

  /** No zones at this vendor: one synthetic zone mirroring each region. */
  def inventoryZones(spark: SparkSession): DataFrame =
    withVendor(locationRows(spark).select(col("region_id"))
      .withColumn("zone_id", col("region_id"))
      .withColumn("name", col("region_id")))

  def inventoryServers(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rules = broadcast(cpuRules.toDF("prefix", "cpu_manufacturer", "cpu_family", "cpu_model"))
    val base = serverTypeRows(spark).select(
      col("s.id").cast("string").as("server_id"),
      col("s.name").as("name"),
      col("s.name").as("api_reference"),
      col("s.description").as("description"),
      regexp_replace(col("s.name"), "[0-9]+$", "").as("family"),
      col("s.cores").as("vcpus"),
      when(col("s.cpu_type") === "shared", "shared").otherwise("dedicated")
        .as("cpu_allocation"),
      when(col("s.architecture") === "arm", "arm64").otherwise("x86_64")
        .as("cpu_architecture"),
      // API reports GB — the reference stores memory in MB via ×1000
      (col("s.memory") * 1000).cast("long").as("memory_amount"),
      col("s.disk").as("storage_size"),
      when(col("s.storage_type") === "local", "nvme ssd").otherwise("network")
        .as("storage_type"),
      when(col("s.deprecation").isNull, "active").otherwise("inactive").as("status"))
    withVendor(base.join(rules, base("family") === rules("prefix"), "left")
      .drop("prefix"))
  }

  /** The monthly-cap tier build: hourly and monthly net quotes parse as
    * exact decimals; the cap (in hours) is their ratio rounded down; the
    * tier array prices usage beyond the cap at zero. */
  def inventoryServerPrices(spark: SparkSession): DataFrame = {
    val priced = serverTypeRows(spark)
      .select(col("s.id").cast("string").as("server_id"),
        explode(col("s.prices")).as("p"))
      .select(col("server_id"), col("p.location").as("location"),
        col("p.price_hourly.net").cast(DecimalType(12, 4)).as("hourly"),
        col("p.price_monthly.net").cast(DecimalType(12, 4)).as("monthly"))
      .withColumn("monthly_cap", floor(col("monthly") / col("hourly")).cast("double"))
    // locations arrive as names or aliases — resolve through the alias
    // join (J1) exactly like the reference's name+aliases keyed dict
    val regions = inventoryRegions(spark)
      .select(col("region_id"), explode(concat(array(col("region_id")), col("aliases")))
        .as("location"))
    withVendor(priced.join(broadcast(regions), Seq("location"))
      .select(col("server_id"), col("region_id"),
        col("region_id").as("zone_id"),
        lit("linux").as("operating_system"),
        lit("ondemand").as("allocation"),
        lit("hour").as("unit"),
        col("hourly").cast("double").as("price"),
        lit(0.0).as("price_upfront"),
        array(
          struct(lit(0.0).as("lower"), col("monthly_cap").as("upper"),
            col("hourly").cast("double").as("price")),
          struct((col("monthly_cap") + 1).as("lower"),
            lit(Double.PositiveInfinity).as("upper"), lit(0.0).as("price")))
          .as("price_tiered"),
        lit("EUR").as("currency")))
  }

  /** No spot market at this vendor (`_hcloud.py:290-292`). */
  def inventoryServerPricesSpot(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "server_price")

  def inventoryStorages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(Seq(("volume", "Block volume", "network", 10L, 10240L))
      .toDF("storage_id", "name", "storage_type", "min_size", "max_size"))
  }

  def inventoryStoragePrices(spark: SparkSession): DataFrame = {
    withVendor(locationRows(spark).select(col("region_id"))
      .withColumn("storage_id", lit("volume"))
      .withColumn("unit", lit("gb_month"))
      .withColumn("price", lit(0.0440))
      .withColumn("currency", lit("EUR")))
  }

  def inventoryDatabases(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "database")

  def inventoryDatabasePrices(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "database_price")

  def inventoryTrafficPrices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(locationRows(spark).select(col("region_id"))
      .crossJoin(Seq(("in", 0.0), ("out", 1.19)).toDF("direction", "price"))
      .withColumn("unit", lit("tb")).withColumn("currency", lit("EUR")))
  }

  def inventoryIpv4Prices(spark: SparkSession): DataFrame = {
    withVendor(locationRows(spark).select(col("region_id"))
      .withColumn("price", lit(0.0008))
      .withColumn("unit", lit("hour")).withColumn("currency", lit("EUR")))
  }

  def inventoryBenchmarkScores(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "benchmark_score")

  override def inventoryVendors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((vendorId, "Cap Cloud", "DE", 2026))
      .toDF("vendor_id", "name", "country_id", "founding_year")
  }
}

object CapVendor {
  /** Price-quote fixture rows as SQL VALUES — the external oracle rebuilds
    * the monthly-cap tiers from the same literals (drift against the JSON
    * payload shows up as a red gate row, so the duplication self-checks). */
  def priceQuoteValuesSql: String =
    Seq(
      ("104", "fsn1", "0.0060", "3.8500"), ("104", "ash", "0.0069", "4.4900"),
      ("105", "fsn1", "0.0100", "6.4900"), ("106", "ash", "0.0770", "49.9900"))
      .map { case (id, loc, h, m) => s"('$id', '$loc', '$h', '$m')" }.mkString(", ")
}
