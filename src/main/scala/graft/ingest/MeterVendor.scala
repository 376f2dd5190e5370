package graft.ingest

import graft.ops.TierOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Third concrete [[VendorInventory]]: a vendor whose pricing API returns
  * PAGINATED flat retail-price meter records and whose hardware catalog is
  * name/value capability pairs — the shape of the reference's Azure module
  * (`vendors/_azure.py:116-144` page walk, `:581-660` VM meters,
  * `:1330-1409` tiered storage meters, `:1412-1460` traffic tiers from
  * `tierMinimumUnits`). This adapter exercises the two ingest shapes the
  * other two vendors don't:
  *
  *  - **page-chained payloads**: each fixture page carries `Items` plus a
  *    `NextPageLink`; rows come from exploding every page's Items, and the
  *    chain is validated (exactly one terminal page, every link resolving
  *    to a fetched page) the way the driver-side walker would;
  *  - **cumulative tier bounds (O2) inside a real ingest**: storage meters
  *    arrive as (disk size → monthly price) points that become per-region
  *    tier arrays via [[TierOps.cumulativeBounds]] (lower = previous
  *    upper), and traffic meters arrive as `tierMinimumUnits` thresholds
  *    that become bounded tiers via [[TierOps.cumulativeUppers]]
  *    (upper = next lower, last unbounded).
  *
  * Scale shape: pages are rows (a thousand-page pull is a thousand-row
  * payload frame, parsed map-side), meter→catalog joins broadcast the tiny
  * dimension side, and the only window is O2's per-(region, product) tier
  * chain — keys far smaller than the meter volume.
  */
class MeterVendor(
    /** Injectable for specs exercising the page-chain validation. */
    private[ingest] val pricePages: Seq[String] = MeterVendor.defaultPricePages
) extends VendorInventory {
  val vendorId = "meter"

  private def withVendor(df: DataFrame): DataFrame =
    df.withColumn("vendor_id", lit(vendorId))



  /** Hardware catalog (the /skus API shape): capabilities are NAME/VALUE
    * pairs, not typed fields — `_azure.py`'s `_get_skus` digs vCPUs,
    * MemoryGB, and architecture out of this list per SKU. */
  private[ingest] val skuCatalog: String =
    """{"values": [
      |  {"name": "Standard_D4_v5", "family": "standardDv5Family", "tier": "Standard",
      |   "capabilities": [
      |     {"name": "vCPUs", "value": "4"}, {"name": "MemoryGB", "value": "16"},
      |     {"name": "CpuArchitectureType", "value": "x64"},
      |     {"name": "LowPriorityCapable", "value": "True"}]},
      |  {"name": "Standard_E8_v5", "family": "standardEv5Family", "tier": "Standard",
      |   "capabilities": [
      |     {"name": "vCPUs", "value": "8"}, {"name": "MemoryGB", "value": "64"},
      |     {"name": "CpuArchitectureType", "value": "x64"},
      |     {"name": "LowPriorityCapable", "value": "True"}]},
      |  {"name": "Standard_D4ps_v5", "family": "standardDPSv5Family", "tier": "Standard",
      |   "capabilities": [
      |     {"name": "vCPUs", "value": "4"}, {"name": "MemoryGB", "value": "16"},
      |     {"name": "CpuArchitectureType", "value": "Arm64"},
      |     {"name": "LowPriorityCapable", "value": "False"}]}
      |]}""".stripMargin

  /** meterName → (storage_id, size GiB) — the reference's
    * STORAGE_METER_MAPPING rule table (`_azure.py:1271-1311` shape). */
  private[ingest] val storageMeterMapping: Seq[(String, String, Double)] = Seq(
    ("P10 LRS Disk", "premium-ssd", 128.0),
    ("P20 LRS Disk", "premium-ssd", 512.0),
    ("P30 LRS Disk", "premium-ssd", 1024.0))

  private[ingest] val GibToGb = 1.073741824

  private val pageSchema = new StructType()
    .add("url", StringType).add("NextPageLink", StringType)
    .add("Items", ArrayType(new StructType()
      .add("serviceName", StringType).add("type", StringType)
      .add("armSkuName", StringType).add("meterName", StringType)
      .add("armRegionName", StringType).add("productName", StringType)
      .add("unitOfMeasure", StringType).add("tierMinimumUnits", DoubleType)
      .add("retailPrice", DoubleType).add("currencyCode", StringType)))

  private val skuSchema = new StructType()
    .add("values", ArrayType(new StructType()
      .add("name", StringType).add("family", StringType).add("tier", StringType)
      .add("capabilities", ArrayType(new StructType()
        .add("name", StringType).add("value", StringType)))))

  private def pages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pricePages.toDF("payload")
      .select(from_json(col("payload"), pageSchema).as("p"))
      .select(col("p.url").as("url"), col("p.NextPageLink").as("next"),
        col("p.Items").as("items"))
  }

  /** The page-walk invariant the driver-side fetcher maintains: exactly one
    * terminal page, and every NextPageLink resolves to a fetched page.
    * Throws on a broken chain — a silently half-fetched price list is the
    * worst possible ingest outcome.
    *
    * Chain validation is two eager jobs over every page, and a Pull hits
    * ~8 inventory surfaces that each start from this frame — so the check
    * is memoized per session (ADVICE r04): on a thousand-page pull the
    * pages are parsed and walked once, not once per surface. The memo
    * holds a flag, not the frame — a frame pins its session, so a weak
    * session key with a frame value would never be collected — and the
    * frame itself is a local relation, rebuilt per call without a job. */
  private val validated = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private[ingest] def validatedPages(spark: SparkSession): DataFrame = {
    val p = pages(spark)
    validated.synchronized {
      if (!validated.contains(spark)) {
        val links = p.select(col("next")).filter(col("next").isNotNull)
        val dangling = links.join(p.select(col("url")),
          links("next") === col("url"), "left_anti").count()
        val terminals = p.filter(col("next").isNull).count()
        require(dangling == 0 && terminals == 1,
          s"broken page chain: $dangling dangling links, $terminals terminal pages")
        validated.add(spark)
      }
    }
    p
  }

  /** Every meter row across all pages (the reference's accumulated
    * `data += json['Items']`, as one explode). */
  private[ingest] def meterRows(spark: SparkSession): DataFrame =
    validatedPages(spark)
      .select(explode(col("items")).as("m"))
      .select(col("m.serviceName").as("service"), col("m.type").as("price_type"),
        col("m.armSkuName").as("sku_name"), col("m.meterName").as("meter"),
        col("m.armRegionName").as("region_id"), col("m.productName").as("product"),
        col("m.unitOfMeasure").as("unit_of_measure"),
        col("m.tierMinimumUnits").as("tier_min"),
        col("m.retailPrice").as("retail_price"), col("m.currencyCode").as("currency"))

  private def skuRows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(skuCatalog).toDF("payload")
      .select(explode(from_json(col("payload"), skuSchema).getField("values")).as("s"))
      .select(col("s.name").as("sku_name"), col("s.family").as("family"),
        map_from_entries(col("s.capabilities")).as("caps"))
  }

  // ---------------------------------------------------------- inventories

  def inventoryComplianceFrameworks(spark: SparkSession): DataFrame =
    SeedTables.complianceFrameworks(spark)

  def inventoryCountries(spark: SparkSession): DataFrame =
    SeedTables.countries(spark)

  def inventoryRegions(spark: SparkSession): DataFrame =
    withVendor(meterRows(spark).select(col("region_id")).distinct()
      .withColumn("name", initcap(regexp_replace(col("region_id"), "-", " ")))
      .withColumn("aliases", array().cast(ArrayType(StringType)))
      .withColumn("country_id", lit("US"))
      .withColumn("green_energy", lit(false)))

  /** Numbered availability zones per region (`_azure.py` models 3). */
  def inventoryZones(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(inventoryRegions(spark).select(col("region_id"))
      .crossJoin(Seq("1", "2", "3").toDF("name"))
      .withColumn("zone_id", concat(col("region_id"), lit("-"), col("name"))))
  }

  /** Capability-pair projection: vCPUs/MemoryGB/architecture come out of
    * the name/value map, ARM by the Arm64 capability (not a name regex). */
  def inventoryServers(spark: SparkSession): DataFrame =
    withVendor(skuRows(spark).select(
      col("sku_name").as("server_id"),
      col("sku_name").as("name"),
      col("sku_name").as("api_reference"),
      col("family"),
      col("caps").getItem("vCPUs").cast("int").as("vcpus"),
      (col("caps").getItem("MemoryGB").cast("double") * 1024).cast("long")
        .as("memory_amount"),
      when(col("caps").getItem("CpuArchitectureType") === "Arm64", "arm64")
        .otherwise("x86_64").as("cpu_architecture"),
      lit("dedicated").as("cpu_allocation"),
      lit("active").as("status")))

  /** On-demand = Consumption VM meters whose meterName is NOT a spot
    * meter; each priced SKU fans out to the region's zones (J3). */
  def inventoryServerPrices(spark: SparkSession): DataFrame = {
    val vm = meterRows(spark)
      .filter(col("service") === "Virtual Machines" &&
        col("price_type") === "Consumption" && !col("meter").contains("Spot"))
    val zones = inventoryZones(spark).select(col("region_id"), col("zone_id"))
    withVendor(vm
      .join(broadcast(skuRows(spark).select(col("sku_name"))), Seq("sku_name"))
      .join(zones, Seq("region_id"))
      .select(col("sku_name").as("server_id"), col("region_id"), col("zone_id"),
        lit("linux").as("operating_system"), lit("ondemand").as("allocation"),
        lit("hour").as("unit"), round(col("retail_price"), 4).as("price"),
        col("currency")))
  }

  def inventoryServerPricesSpot(spark: SparkSession): DataFrame = {
    val vm = meterRows(spark)
      .filter(col("service") === "Virtual Machines" && col("meter").contains("Spot"))
    val zones = inventoryZones(spark).select(col("region_id"), col("zone_id"))
    withVendor(vm.join(zones, Seq("region_id"))
      .select(col("sku_name").as("server_id"), col("region_id"), col("zone_id"),
        lit("linux").as("operating_system"), lit("spot").as("allocation"),
        lit("hour").as("unit"), round(col("retail_price"), 4).as("price"),
        col("currency")))
  }

  def inventoryStorages(spark: SparkSession): DataFrame = {
    import spark.implicits._
    withVendor(Seq(
      ("premium-ssd", "Premium SSD Managed Disk", "ssd", 20000L, 900L, 4L, 32767L))
      .toDF("storage_id", "name", "storage_type", "max_iops", "max_throughput",
        "min_size", "max_size"))
  }

  /** The `_azure.py:1330-1395` tier build: each disk-size meter becomes a
    * tier whose `upper` is the disk capacity in GB and whose price is
    * normalized to $/GB/month; per (region, storage) the tiers chain via
    * O2 (lower = previous upper), and the headline price is the lowest
    * tier's. */
  def inventoryStoragePrices(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val mapping = storageMeterMapping.toDF("meter", "storage_id", "size_gib")
    val tiers = meterRows(spark)
      .filter(col("service") === "Storage" && col("unit_of_measure") === "1/Month")
      .join(broadcast(mapping), Seq("meter"))
      .select(col("region_id"), col("storage_id"), col("currency"),
        round(col("size_gib") * GibToGb, 4).as("upper"),
        round(col("retail_price") / col("size_gib") / GibToGb, 4).as("price"))
    val chained = TierOps.cumulativeBounds(tiers,
      Seq("region_id", "storage_id", "currency"), "upper")
    withVendor(chained
      .groupBy(col("region_id"), col("storage_id"), col("currency"))
      .agg(TierOps.sortTiersBy(
        collect_list(struct(col("lower"), col("upper"), col("price"))), "upper")
        .as("price_tiered"))
      .withColumn("price", col("price_tiered").getItem(0).getField("price"))
      .withColumn("unit", lit("gb_month")))
  }

  def inventoryDatabases(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "database")

  def inventoryDatabasePrices(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "database_price")

  /** `tierMinimumUnits` thresholds → bounded tiers (the inverse O2 chain:
    * upper = next tier's lower, last unbounded — `_azure.py:1412-1431`). */
  def inventoryTrafficPrices(spark: SparkSession): DataFrame = {
    val t = meterRows(spark)
      .filter(col("service") === "Bandwidth")
      .select(col("region_id"), col("currency"),
        when(col("meter").contains(" In"), "in").otherwise("out").as("direction"),
        col("tier_min").as("lower"), round(col("retail_price"), 4).as("price"))
    val chained = TierOps.cumulativeUppers(t,
      Seq("region_id", "direction", "currency"), "lower")
    withVendor(chained
      .groupBy(col("region_id"), col("direction"), col("currency"))
      .agg(TierOps.sortTiersBy(
        collect_list(struct(col("lower"), col("upper"), col("price"))), "lower")
        .as("price_tiered"))
      .withColumn("price", col("price_tiered").getItem(0).getField("price"))
      .withColumn("unit", lit("gb")))
  }

  def inventoryIpv4Prices(spark: SparkSession): DataFrame =
    withVendor(meterRows(spark)
      .filter(col("service") === "IP Addresses")
      .select(col("region_id"), round(col("retail_price"), 4).as("price"),
        col("currency"))
      .withColumn("unit", lit("hour")))

  def inventoryBenchmarkScores(spark: SparkSession): DataFrame =
    VendorInventory.empty(spark, "benchmark_score")

  override def inventoryVendors(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((vendorId, "Meter Cloud", "US", 2026))
      .toDF("vendor_id", "name", "country_id", "founding_year")
  }
}

object MeterVendor {
  /** Default retail-price pages: `url` is the page's own address,
    * `NextPageLink` points at the next page (null on the last), Items are
    * flat meters. */
  val defaultPricePages: Seq[String] = Seq(
    """{"url": "https://prices.example/api/retail/prices?page=1",
      |"NextPageLink": "https://prices.example/api/retail/prices?page=2",
      |"Items": [
      |  {"serviceName": "Virtual Machines", "type": "Consumption",
      |   "armSkuName": "Standard_D4_v5", "meterName": "D4 v5",
      |   "armRegionName": "mt-east", "productName": "Dv5 Series",
      |   "unitOfMeasure": "1 Hour", "retailPrice": 0.192, "currencyCode": "USD"},
      |  {"serviceName": "Virtual Machines", "type": "Consumption",
      |   "armSkuName": "Standard_E8_v5", "meterName": "E8 v5",
      |   "armRegionName": "mt-east", "productName": "Ev5 Series",
      |   "unitOfMeasure": "1 Hour", "retailPrice": 0.504, "currencyCode": "USD"},
      |  {"serviceName": "Virtual Machines", "type": "Consumption",
      |   "armSkuName": "Standard_D4_v5", "meterName": "D4 v5 Spot",
      |   "armRegionName": "mt-east", "productName": "Dv5 Series",
      |   "unitOfMeasure": "1 Hour", "retailPrice": 0.0768, "currencyCode": "USD"},
      |  {"serviceName": "Virtual Machines", "type": "Consumption",
      |   "armSkuName": "Standard_D4_v5", "meterName": "D4 v5", "armRegionName": "mt-west",
      |   "productName": "Dv5 Series", "unitOfMeasure": "1 Hour",
      |   "retailPrice": 0.211, "currencyCode": "USD"}
      |]}""".stripMargin,
    """{"url": "https://prices.example/api/retail/prices?page=2",
      |"NextPageLink": "https://prices.example/api/retail/prices?page=3",
      |"Items": [
      |  {"serviceName": "Storage", "type": "Consumption",
      |   "meterName": "P10 LRS Disk", "armRegionName": "mt-east",
      |   "productName": "Premium SSD Managed Disks",
      |   "unitOfMeasure": "1/Month", "retailPrice": 17.92, "currencyCode": "USD"},
      |  {"serviceName": "Storage", "type": "Consumption",
      |   "meterName": "P20 LRS Disk", "armRegionName": "mt-east",
      |   "productName": "Premium SSD Managed Disks",
      |   "unitOfMeasure": "1/Month", "retailPrice": 66.56, "currencyCode": "USD"},
      |  {"serviceName": "Storage", "type": "Consumption",
      |   "meterName": "P30 LRS Disk", "armRegionName": "mt-east",
      |   "productName": "Premium SSD Managed Disks",
      |   "unitOfMeasure": "1/Month", "retailPrice": 122.88, "currencyCode": "USD"},
      |  {"serviceName": "Storage", "type": "Consumption",
      |   "meterName": "P10 LRS Disk", "armRegionName": "mt-west",
      |   "productName": "Premium SSD Managed Disks",
      |   "unitOfMeasure": "1/Month", "retailPrice": 19.71, "currencyCode": "USD"},
      |  {"serviceName": "Storage", "type": "Consumption",
      |   "meterName": "P20 LRS Disk", "armRegionName": "mt-west",
      |   "productName": "Premium SSD Managed Disks",
      |   "unitOfMeasure": "1/Month", "retailPrice": 73.22, "currencyCode": "USD"}
      |]}""".stripMargin,
    """{"url": "https://prices.example/api/retail/prices?page=3",
      |"NextPageLink": null,
      |"Items": [
      |  {"serviceName": "Bandwidth", "type": "Consumption",
      |   "meterName": "Standard Data Transfer Out", "armRegionName": "mt-east",
      |   "productName": "Bandwidth", "unitOfMeasure": "1 GB",
      |   "tierMinimumUnits": 0.0, "retailPrice": 0.0, "currencyCode": "USD"},
      |  {"serviceName": "Bandwidth", "type": "Consumption",
      |   "meterName": "Standard Data Transfer Out", "armRegionName": "mt-east",
      |   "productName": "Bandwidth", "unitOfMeasure": "1 GB",
      |   "tierMinimumUnits": 100.0, "retailPrice": 0.087, "currencyCode": "USD"},
      |  {"serviceName": "Bandwidth", "type": "Consumption",
      |   "meterName": "Standard Data Transfer Out", "armRegionName": "mt-east",
      |   "productName": "Bandwidth", "unitOfMeasure": "1 GB",
      |   "tierMinimumUnits": 10240.0, "retailPrice": 0.083, "currencyCode": "USD"},
      |  {"serviceName": "Bandwidth", "type": "Consumption",
      |   "meterName": "Standard Data Transfer In", "armRegionName": "mt-east",
      |   "productName": "Bandwidth", "unitOfMeasure": "1 GB",
      |   "tierMinimumUnits": 0.0, "retailPrice": 0.0, "currencyCode": "USD"},
      |  {"serviceName": "IP Addresses", "type": "Consumption",
      |   "meterName": "Basic IPv4 Static Public IP", "armRegionName": "mt-east",
      |   "productName": "IP Addresses", "unitOfMeasure": "1 Hour",
      |   "retailPrice": 0.0036, "currencyCode": "USD"}
      |]}""".stripMargin)

  /** Storage-meter fixture rows as SQL VALUES — lets an external oracle
    * reproduce the tiered-price build from the same literals. Drift
    * between these and the JSON page fixtures shows up as a red gate row
    * (the Spark side parses the pages), so the duplication self-checks. */
  def storageMeterValuesSql: String =
    Seq(
      ("P10 LRS Disk", "mt-east", 17.92), ("P20 LRS Disk", "mt-east", 66.56),
      ("P30 LRS Disk", "mt-east", 122.88),
      ("P10 LRS Disk", "mt-west", 19.71), ("P20 LRS Disk", "mt-west", 73.22))
      .map { case (m, r, p) => s"('$m', '$r', $p)" }.mkString(", ")
  def storageMappingValuesSql: String =
    new MeterVendor().storageMeterMapping
      .map { case (m, s, g) => s"('$m', '$s', $g)" }.mkString(", ")
}
