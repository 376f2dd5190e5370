package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second concrete [[VendorInventory]]: a vendor whose API returns NESTED
  * machine-type and SKU JSON documents (the shape of the reference's GCP
  * module — `vendors/_gcp.py:289-351` for machine types,
  * `_inventory_server_prices`'s units+nanos SKUs). Where [[DemoVendor]]
  * builds typed rows directly, every Grid inventory starts from raw JSON
  * payload strings and recovers structure with `from_json` + explode —
  * proving the P2 projection and P3 annotation chains generalize across
  * payload shapes, and that the 19-method contract doesn't assume any
  * particular wire format.
  *
  * Scale shape: payloads arrive one row per (zone | SKU page); parsing is
  * map-side `from_json`, fan-out is `explode`, and the only joins are
  * broadcast-sized dimension joins — the same plan a thousand-zone pull
  * would need.
  */
class GridVendor extends VendorInventory {
  val vendorId = "grid"

  private def withVendor(df: DataFrame): DataFrame =
    df.withColumn("vendor_id", lit(vendorId))

  // ------------------------------------------------------------- payloads

  /** One JSON document per zone, machine types nested — what a zone-level
    * aggregatedList API call returns. */
  private[ingest] val zonePayloads: Seq[String] = Seq(
    """{"zone": "gr-east1-a", "region": "gr-east1", "machineTypes": [
      |  {"id": 3001, "name": "n2-standard-4", "description": "4 vCPUs 16 GB",
      |   "guestCpus": 4, "memoryMb": 16384, "isSharedCpu": false,
      |   "deprecated": {"state": ""}},
      |  {"id": 3002, "name": "e2-micro", "description": "shared-core 2 vCPUs",
      |   "guestCpus": 2, "memoryMb": 1024, "isSharedCpu": true,
      |   "deprecated": {"state": ""}},
      |  {"id": 3003, "name": "t2a-standard-8", "description": "Ampere Altra 8 vCPUs",
      |   "guestCpus": 8, "memoryMb": 32768, "isSharedCpu": false,
      |   "deprecated": {"state": ""}},
      |  {"id": 3004, "name": "n1-standard-2", "description": "legacy 2 vCPUs",
      |   "guestCpus": 2, "memoryMb": 7680, "isSharedCpu": false,
      |   "deprecated": {"state": "DEPRECATED"}}
      |]}""".stripMargin,
    """{"zone": "gr-east1-b", "region": "gr-east1", "machineTypes": [
      |  {"id": 3001, "name": "n2-standard-4", "description": "4 vCPUs 16 GB",
      |   "guestCpus": 4, "memoryMb": 16384, "isSharedCpu": false,
      |   "deprecated": {"state": ""}},
      |  {"id": 3005, "name": "g2-standard-4", "description": "L4 GPU server",
      |   "guestCpus": 4, "memoryMb": 16384, "isSharedCpu": false,
      |   "accelerators": [{"guestAcceleratorType": "nvidia-l4",
      |                     "guestAcceleratorCount": 1}],
      |   "deprecated": {"state": ""}}
      |]}""".stripMargin,
    """{"zone": "gr-west1-a", "region": "gr-west1", "machineTypes": [
      |  {"id": 3001, "name": "n2-standard-4", "description": "4 vCPUs 16 GB",
      |   "guestCpus": 4, "memoryMb": 16384, "isSharedCpu": false,
      |   "deprecated": {"state": ""}}
      |]}""".stripMargin)

  /** SKU pages: units+nanos tiered pricing per family and region (the
    * reference digs `pricingInfo[0].pricingExpression.tieredRates[0]
    * .unitPrice.{units,nanos}` per SKU). */
  private[ingest] val skuPayloads: Seq[String] = Seq(
    """{"skus": [
      |  {"skuId": "SKU-N2-E1", "resourceFamily": "Compute", "resourceGroup": "n2",
      |   "usageType": "OnDemand", "serviceRegions": ["gr-east1"],
      |   "pricingInfo": [{"pricingExpression": {"tieredRates": [
      |     {"unitPrice": {"currencyCode": "USD", "units": 0, "nanos": 194236000}}]}}]},
      |  {"skuId": "SKU-E2-E1", "resourceFamily": "Compute", "resourceGroup": "e2",
      |   "usageType": "OnDemand", "serviceRegions": ["gr-east1"],
      |   "pricingInfo": [{"pricingExpression": {"tieredRates": [
      |     {"unitPrice": {"currencyCode": "USD", "units": 0, "nanos": 8376000}}]}}]},
      |  {"skuId": "SKU-T2A-E1", "resourceFamily": "Compute", "resourceGroup": "t2a",
      |   "usageType": "OnDemand", "serviceRegions": ["gr-east1"],
      |   "pricingInfo": [{"pricingExpression": {"tieredRates": [
      |     {"unitPrice": {"currencyCode": "USD", "units": 0, "nanos": 308000000}}]}}]},
      |  {"skuId": "SKU-G2-E1", "resourceFamily": "Compute", "resourceGroup": "g2",
      |   "usageType": "OnDemand", "serviceRegions": ["gr-east1"],
      |   "pricingInfo": [{"pricingExpression": {"tieredRates": [
      |     {"unitPrice": {"currencyCode": "USD", "units": 1, "nanos": 120000000}}]}}]},
      |  {"skuId": "SKU-N2-W1", "resourceFamily": "Compute", "resourceGroup": "n2",
      |   "usageType": "OnDemand", "serviceRegions": ["gr-west1"],
      |   "pricingInfo": [{"pricingExpression": {"tieredRates": [
      |     {"unitPrice": {"currencyCode": "USD", "units": 0, "nanos": 213660000}}]}}]}
      |]}""".stripMargin)

  private val machineTypeSchema = new StructType()
    .add("zone", StringType).add("region", StringType)
    .add("machineTypes", ArrayType(new StructType()
      .add("id", LongType).add("name", StringType).add("description", StringType)
      .add("guestCpus", IntegerType).add("memoryMb", LongType)
      .add("isSharedCpu", BooleanType)
      .add("accelerators", ArrayType(new StructType()
        .add("guestAcceleratorType", StringType)
        .add("guestAcceleratorCount", IntegerType)))
      .add("deprecated", new StructType().add("state", StringType))))

  private val skuSchema = new StructType()
    .add("skus", ArrayType(new StructType()
      .add("skuId", StringType).add("resourceFamily", StringType)
      .add("resourceGroup", StringType).add("usageType", StringType)
      .add("serviceRegions", ArrayType(StringType))
      .add("pricingInfo", ArrayType(new StructType()
        .add("pricingExpression", new StructType()
          .add("tieredRates", ArrayType(new StructType()
            .add("unitPrice", new StructType()
              .add("currencyCode", StringType)
              .add("units", LongType).add("nanos", LongType)))))))))

  /** Parsed per-zone machine rows (one explode over the payload frame). */
  private def machineRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    zonePayloads.toDF("payload")
      .select(from_json(col("payload"), machineTypeSchema).as("p"))
      .select(col("p.zone").as("zone_id"), col("p.region").as("region_id"),
        explode(col("p.machineTypes")).as("m"))
  }

  private def skuRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    skuPayloads.toDF("payload")
      .select(explode(from_json(col("payload"), skuSchema).getField("skus")).as("s"))
      .select(col("s.skuId").as("sku_id"),
        col("s.resourceGroup").as("family"),
        lower(col("s.usageType")).as("allocation"),
        explode(col("s.serviceRegions")).as("region_id"),
        col("s.pricingInfo").getItem(0).getField("pricingExpression")
          .getField("tieredRates").getItem(0).getField("unitPrice").as("up"))
      .select(col("sku_id"), col("family"), col("allocation"), col("region_id"),
        col("up.currencyCode").as("currency"),
        // units + nanos·1e-9, rounded like every reference price (P9)
        round(col("up.units") + col("up.nanos") / lit(1e9), 4).as("price"))
  }

  // ---------------------------------------------------------- inventories

  def inventoryComplianceFrameworks(spark: SparkSession): DataFrame =
    SeedTables.complianceFrameworks(spark)

  def inventoryCountries(spark: SparkSession): DataFrame =
    SeedTables.countries(spark)

  def inventoryRegions(spark: SparkSession): DataFrame =
    withVendor(machineRows(spark).select(col("region_id")).distinct()
      .withColumn("name", initcap(regexp_replace(col("region_id"), "-", " ")))
      .withColumn("aliases", array().cast(ArrayType(StringType)))
      .withColumn("country_id", lit("US"))
      .withColumn("green_energy", col("region_id").endsWith("west1")))

  def inventoryZones(spark: SparkSession): DataFrame =
    withVendor(machineRows(spark).select(col("region_id"), col("zone_id")).distinct()
      .withColumn("name", regexp_extract(col("zone_id"), "-([a-z])$", 1)))

  /** `_search_servers` projection (`_gcp.py:289-351`): family from the name
    * prefix, shared/dedicated allocation, ARM detection by the t2a prefix,
    * active iff not deprecated, GPU fields off the first accelerator. */
  def inventoryServers(spark: SparkSession): DataFrame = {
    val m = machineRows(spark).select(col("m"))
      // one logical server per machine type — zones only affect offerings
      .dropDuplicates()
    withVendor(m.select(
      col("m.id").cast("string").as("server_id"),
      col("m.name").as("name"),
      col("m.name").as("api_reference"),
      col("m.description").as("description"),
      element_at(split(col("m.name"), "-"), 1).as("family"),
      col("m.guestCpus").as("vcpus"),
      when(col("m.isSharedCpu"), "shared").otherwise("dedicated").as("cpu_allocation"),
      when(col("m.name").startsWith("t2a"), "arm64").otherwise("x86_64")
        .as("cpu_architecture"),
      col("m.memoryMb").as("memory_amount"),
      coalesce(col("m.accelerators").getItem(0).getField("guestAcceleratorCount"),
        lit(0)).as("gpu_count"),
      col("m.accelerators").getItem(0).getField("guestAcceleratorType").as("gpu_model"),
      when(col("m.deprecated.state") === "", "active").otherwise("inactive")
        .as("status")))
  }

  /** Family-keyed SKU join (the computed-key J5 shape): each machine type
    * priced by the SKU of its family in its region, fanned out per zone. */
  def inventoryServerPrices(spark: SparkSession): DataFrame = {
    val offerings = machineRows(spark).select(
      col("region_id"), col("zone_id"),
      col("m.id").cast("string").as("server_id"),
      element_at(split(col("m.name"), "-"), 1).as("family"))
    val priced = offerings.join(broadcast(skuRows(spark)), Seq("region_id", "family"))
    withVendor(priced
      .withColumn("operating_system", lit("linux"))
      .withColumn("unit", lit("hour"))
      .select("server_id", "region_id", "zone_id", "operating_system",
        "allocation", "unit", "price", "currency"))
  }

  def inventoryServerPricesSpot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // spot = 30% of on-demand for the n2 family, observed twice
    val spot = skuRows(spark).filter(col("family") === "n2")
      .select(col("region_id"), round(col("price") * 0.3, 4).as("price"), col("currency"))
    withVendor(spot
      .crossJoin(Seq("2026-01-01 00:00:00", "2026-01-01 06:00:00").toDF("ts"))
      .withColumn("observed_at", col("ts").cast("timestamp")).drop("ts")
      .withColumn("server_id", lit("3001"))
      .withColumn("zone_id", concat(col("region_id"), lit("-a")))
      .withColumn("operating_system", lit("linux"))
      .withColumn("allocation", lit("spot"))
      .withColumn("unit", lit("hour")))
  }

  def inventoryStorages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(Seq(
      ("pd-ssd", "SSD persistent disk", "ssd", 100000L, 1200L, 10L, 65536L),
      ("pd-standard", "Standard persistent disk", "hdd", 7500L, 240L, 10L, 65536L))
      .toDF("storage_id", "name", "storage_type", "max_iops", "max_throughput",
        "min_size", "max_size"))
  }

  def inventoryStoragePrices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val regions = inventoryRegions(spark).select(col("region_id"))
    withVendor(regions.crossJoin(
        Seq(("pd-ssd", 0.17), ("pd-standard", 0.04)).toDF("storage_id", "price"))
      .withColumn("unit", lit("gb_month")).withColumn("currency", lit("USD")))
  }

  def inventoryDatabases(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(Seq(("gsql-pg", "postgres", Seq("16"), true))
      .toDF("database_id", "engine", "engine_versions", "multi_az"))
  }

  def inventoryDatabasePrices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(Seq(("gsql-pg", "gr-east1", "gr-east1-a", 0.205))
      .toDF("database_id", "region_id", "zone_id", "price")
      .withColumn("allocation", lit("ondemand"))
      .withColumn("unit", lit("hour")).withColumn("currency", lit("USD")))
  }

  def inventoryTrafficPrices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val regions = inventoryRegions(spark).select(col("region_id"))
    withVendor(regions.crossJoin(
        Seq(("out", 0.12), ("in", 0.0)).toDF("direction", "price"))
      .withColumn("unit", lit("gb")).withColumn("currency", lit("USD")))
  }

  def inventoryIpv4Prices(spark: SparkSession): DataFrame = {
    val regions = inventoryRegions(spark).select(col("region_id"))
    withVendor(regions.withColumn("price", lit(0.004))
      .withColumn("unit", lit("hour")).withColumn("currency", lit("USD")))
  }

  def inventoryBenchmarkScores(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(Seq(
      ("3001", "stressng:bestn", 12850.0), ("3003", "stressng:bestn", 21400.0))
      .toDF("server_id", "benchmark_id", "score")
      .withColumn("config", map().cast(MapType(StringType, StringType))))
  }

  override def inventoryVendors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((vendorId, "Grid Cloud", "US", 2026))
      .toDF("vendor_id", "name", "country_id", "founding_year")
  }
}
