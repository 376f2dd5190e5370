package graft.ingest

import graft.ops.Cols
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vendor-payload transforms (reference P2-P7 + J1/J3): price extraction
  * from pricing-terms JSON, region-alias broadcast joins, zone fan-out,
  * instance-type annotation, CPU/manufacturer standardization, unit
  * conversions. All pure Column expressions — codegen'd, shuffle-free
  * except the two joins, whose dimension sides are broadcast. */
object VendorIngest {

  // ---- P6: price extraction from AWS-style terms JSON -----------------
  /** `{"OnDemand": {termId: {"priceDimensions": {dimId: {"pricePerUnit":
    * {"USD": "0.145"}, ...}}}}}` (FIXTURES A1; reference
    * `vendors/_aws.py:405-447`). USD preferred, else the first currency by
    * sorted key; price rounded to 4 decimals (P9). */
  private val termsSchema = MapType(StringType, new StructType()
    .add("priceDimensions", MapType(StringType, new StructType()
      .add("pricePerUnit", MapType(StringType, StringType))
      .add("beginRange", StringType)
      .add("endRange", StringType))))

  def extractOnDemandPrice(termsJson: Column): Column = {
    val onDemand = try_element_at(
      from_json(termsJson, MapType(StringType, termsSchema)), lit("OnDemand"))
    val term = try_element_at(onDemand, array_min(map_keys(onDemand)))
    val dims = term.getField("priceDimensions")
    val dim = try_element_at(dims, array_min(map_keys(dims)))
    val ppu = dim.getField("pricePerUnit")
    val raw = coalesce(try_element_at(ppu, lit("USD")),
      try_element_at(ppu, array_min(map_keys(ppu))))
    round(raw.cast("double"), 4)
  }

  /** Currency actually used by [[extractOnDemandPrice]]. */
  def extractCurrency(termsJson: Column): Column = {
    val onDemand = try_element_at(
      from_json(termsJson, MapType(StringType, termsSchema)), lit("OnDemand"))
    val term = try_element_at(onDemand, array_min(map_keys(onDemand)))
    val dims = term.getField("priceDimensions")
    val dim = try_element_at(dims, array_min(map_keys(dims)))
    val ppu = dim.getField("pricePerUnit")
    when(try_element_at(ppu, lit("USD")).isNotNull, lit("USD"))
      .otherwise(array_min(map_keys(ppu)))
  }

  // ---- J1: region lookup by name OR alias ----------------------------
  /** The reference builds a driver-side dict keyed by region name and every
    * alias (`utils.py:118-143`); here the region dimension explodes to one
    * row per (key → region) and broadcast-joins to the fact side. */
  def joinRegionByAlias(products: DataFrame, regions: DataFrame,
                        locationCol: String): DataFrame = {
    val keyed = regions.withColumn("__key",
      explode(array_union(array(col("name")), coalesce(col("aliases"), array()))))
    products.join(broadcast(keyed), col(locationCol) === col("__key"), "left")
      .drop("__key")
  }

  // ---- J3: zone-availability fan-out ---------------------------------
  /** Replicate each priced product row once per zone offering it
    * (`_aws.py:985-1032`): a plain equi-join against an offerings frame —
    * the join fans out rows, no explode needed. */
  def zoneFanout(products: DataFrame, offerings: DataFrame,
                 keys: Seq[String] = Seq("instance_type", "region_id")): DataFrame =
    products.join(offerings, keys)

  // ---- P3: instance-type annotation ----------------------------------
  /** Decode AWS-style ids (`m5d.2xlarge`, `db.r6g.large`) into family /
    * generation / suffix features and a human description
    * (`_aws.py:180-255`). */
  def annotateInstanceType(id: Column): Column = {
    val bare = regexp_replace(id, "^db\\.", "")
    val family = regexp_extract(bare, "^([a-z]+)", 1)
    val gen = regexp_extract(bare, "^[a-z]+([0-9]+)", 1)
    val suffix = regexp_extract(bare, "^[a-z]+[0-9]+([a-z-]*)\\.", 1)
    val size = regexp_extract(bare, "\\.(.+)$", 1)
    struct(family.as("family"), gen.as("generation"),
      suffix.as("suffix"), size.as("size"),
      concat_ws(" ",
        familyDesc(family),
        concat(lit("gen"), gen),
        when(suffix.contains("g"), lit("ARM")).otherwise(lit(null)),
        when(suffix.contains("d"), lit("NVMe")).otherwise(lit(null)),
        when(suffix.contains("n"), lit("fast-network")).otherwise(lit(null)),
        size).as("description"))
  }

  private def familyDesc(family: Column): Column = {
    val m = map(
      lit("m"), lit("General purpose"), lit("c"), lit("Compute optimized"),
      lit("r"), lit("Memory optimized"), lit("x"), lit("Memory optimized extra"),
      lit("i"), lit("Storage optimized"), lit("d"), lit("Dense storage"),
      lit("t"), lit("Burstable"), lit("p"), lit("GPU accelerated"),
      lit("g"), lit("Graphics accelerated"))
    coalesce(try_element_at(m, family), lit("Other"))
  }

  // ---- P4: CPU / manufacturer standardization ------------------------
  /** Marketing-noise cleanup rules in the spirit of the reference's ~20
    * regex chains (`inspector.py:760-1012`). */
  def standardizeCpuModel(model: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      model,
      "\\((R|TM|C)\\)", ""), // (R)/(TM) marks
      "(?i)\\b(cpu|processor)\\b", ""), // filler words
      "@ ?[0-9.]+ ?[GM]Hz", ""), // clock suffix
      "\\s+", " "))

  def standardizeManufacturer(m: Column): Column =
    when(lower(m).rlike("intel"), "Intel")
      .when(lower(m).rlike("amd"), "AMD")
      .when(lower(m).rlike("ampere"), "Ampere")
      .when(lower(m).rlike("(aws|amazon|annapurna)"), "AWS")
      .when(lower(m).rlike("apple"), "Apple")
      .otherwise(initcap(m))

  // ---- P7: inspector-vs-vendor override precedence --------------------
  /** Field-by-field precedence (`inspector.py:1397-1443`): inspector wins
    * for the listed vendors, but never overrides with null. */
  def preferInspector(vendorCol: Column, inspectorCol: Column,
                      vendorId: Column, inspectorWinsFor: Seq[String]): Column =
    when(vendorId.isin(inspectorWinsFor: _*), coalesce(inspectorCol, vendorCol))
      .otherwise(coalesce(vendorCol, inspectorCol))

  // ---- P5: unit conversions ------------------------------------------
  def gibToGb(c: Column): Column = c * Cols.GibToGb
  def mibToMb(c: Column): Column = c * Cols.MibToMb

  // ---- A5-adjacent: disk expansion -----------------------------------
  /** Disks declared `{SizeInGB, Count}` expand `Count` times
    * (`_aws.py:292-313`): total size without exploding. */
  def totalDiskSize(disks: Column): Column =
    coalesce(aggregate(disks, lit(0L),
      (acc, d) => acc + d.getField("size") * d.getField("count")), lit(0L))
}
