package graft.queries

import graft.Tables
import graft.ingest.SeedTables
import graft.schema.{Schemas, Validate}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 operators with SQL-expressible semantics: static
  * seed scan (S5), full-table scan (S6), schema conform/validate (P1),
  * membership check (E3), global top-k (O3/O4 at table scope). */
object MiscQueries extends QueryPack {

  // S4 fixture: one description tree per (process, sf dir) — written once,
  // removed on JVM exit. 25 tiny files built driver-side is fixture
  // CONSTRUCTION; the ingest under test is the distributed read.json path.
  private val s4Cache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def s4Fixture(s: org.apache.spark.sql.SparkSession, dir: String): String =
    s4Cache.computeIfAbsent(dir, _ => {
      val root = graft.ops.Checkpoint.tempDir("graft_s4")
      Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .collect().foreach { r =>
          val k = r.get(0).toString.toLong
          val name = r.getString(1)
          val d = root.resolve(s"v${r.get(2)}/$name/descriptions")
          java.nio.file.Files.createDirectories(d)
          val json =
            if (k == 13) "{ this is not json"                    // unparsable → skipped
            else if (k % 5 == 0)                                  // missing required fields → skipped
              s"""{"page": ["$name", "p2"],
                 |  "og_description": "og $name"}""".stripMargin
            else
              s"""{"page": ["$name", "p2"],
                 |  "description": "Nation $name",
                 |  "og_description": "og $name",
                 |  "meta_description": "meta $name",
                 |  "tagline": "tag $name",
                 |  "bullet_points": ["b1", "b2", "b3"],
                 |  "categories": ["General", "Compute"]}""".stripMargin
          java.nio.file.Files.write(d.resolve("output.json"),
            json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      root.toString
    })

  val queries: Map[String, Q] = Map(
    // ---- S4: descriptions data-dump ingest — glob read over the
    //      per-server output.json tree, path-derived keys, validation
    //      skips (missing fields, corrupt JSON), server-id recovery join
    "s4_descriptions" -> ((s, dir) => {
      val root = s4Fixture(s, dir)
      val servers = Tables.nation(s, dir).select(
        concat(lit("v"), col("n_regionkey")).as("vendor_id"),
        col("n_nationkey").cast("string").as("server_id"),
        col("n_name").as("api_reference"))
      graft.ingest.DescriptionIngest.ingest(s, root, servers)
        .select(col("vendor_id"), col("server_id"), col("description"),
          col("og_description"), col("meta_description"), col("tagline"),
          size(col("page")).cast("long").as("n_page"),
          size(col("bullet_points")).cast("long").as("n_bullets"),
          element_at(col("categories"), 1).as("category_1"))
        .orderBy(col("vendor_id"), col("server_id"))
    }),

    // ---- S5: compiled-in static seed table (countries)
    "s5_seed_countries" -> ((s, _) => {
      SeedTables.countries(s)
        .select(col("country_id"), col("continent"), col("status"))
        .orderBy(col("country_id"))
    }),

    // ---- S6: full-table scan (hash/copy/dump input shape)
    "s6_table_scan" -> ((s, dir) => {
      Tables.region(s, dir).orderBy(col("r_regionkey"))
    }),

    // ---- O2 inside a real ingest: the meter vendor's paginated storage
    //      meters become per-(region, storage) tier chains — upper = disk
    //      GB, lower = previous upper, headline = lowest tier's price.
    //      Tiers flattened to rows (arrays can't cross the driver gate).
    "o2_tier_ingest" -> ((s, _) => {
      new graft.ingest.MeterVendor().inventoryStoragePrices(s)
        .select(col("region_id"), col("storage_id"), col("price").as("headline"),
          explode(col("price_tiered")).as("t"))
        .select(col("region_id"), col("storage_id"),
          col("t.lower").as("tier_lower"), col("t.upper").as("tier_upper"),
          col("t.price").as("tier_price"), col("headline"))
        .orderBy(col("region_id"), col("storage_id"), col("tier_upper"))
    }),

    // ---- O2 variant: the monthly-cap tier derivation — hourly/monthly
    //      string-decimal quotes parse exactly, the cap (in hours) is
    //      their floored ratio, and usage beyond the cap prices at zero.
    "o2_monthly_cap" -> ((s, _) => {
      new graft.ingest.CapVendor().inventoryServerPrices(s)
        .select(col("server_id"), col("region_id"), col("price").as("hourly"),
          explode(col("price_tiered")).as("t"))
        .select(col("server_id"), col("region_id"), col("hourly"),
          col("t.lower").as("tier_lower"), col("t.upper").as("tier_upper"),
          col("t.price").as("tier_price"))
        .orderBy(col("server_id"), col("region_id"), col("tier_lower"))
    }),

    // ---- P1: validation conform — add missing cols, cast, fill defaults
    "p1_conform" -> ((s, dir) => {
      val target = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_comment",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("status",
          org.apache.spark.sql.types.StringType)))
      Validate.conform(Tables.nation(s, dir), target, Map("status" -> "active"))
        .orderBy(col("n_nationkey"))
    }),

    // ---- E3: membership check both directions (known-set reconciliation)
    "e3_membership" -> ((s, dir) => {
      val present = Tables.lineitem(s, dir).select(col("l_partkey").as("p_partkey")).distinct()
      val all = Tables.part(s, dir).select(col("p_partkey"))
      val unknown = present.join(all, Seq("p_partkey"), "left_anti")
        .withColumn("side", lit("unknown_key"))
      val unused = all.join(present, Seq("p_partkey"), "left_anti")
        .withColumn("side", lit("unused_part"))
      unknown.unionByName(unused).orderBy(col("side"), col("p_partkey"))
    }),

    // ---- P2/P5/A5: vendor-payload projection end to end — a nested
    //      EC2-shaped JSON payload is built from part rows, parsed with
    //      from_json, and flattened through the real unit-conversion and
    //      disk-expansion helpers; the oracle computes the same fields
    //      straight off the table
    "p2_payload_project" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val payloadSchema = new StructType()
        .add("instance_type", StringType)
        .add("cpu", new StructType().add("vcpus", LongType))
        .add("memory", new StructType().add("size_mib", LongType))
        .add("disks", ArrayType(new StructType()
          .add("size", LongType).add("count", LongType)))
      val raw = Tables.part(s, dir).select(col("p_partkey"),
        to_json(struct(
          col("p_name").as("instance_type"),
          struct(col("p_size").cast("long").as("vcpus")).as("cpu"),
          // floor() before the long cast: Spark truncates double→long,
          // DuckDB rounds — floor makes both sides explicit and equal
          struct(floor(col("p_retailprice") * 10).cast("long").as("size_mib")).as("memory"),
          array(
            struct(lit(100L).as("size"), col("p_size").cast("long").as("count")),
            struct(lit(50L).as("size"), lit(2L).as("count"))).as("disks")
        )).as("payload"))
      raw.select(col("p_partkey"),
          from_json(col("payload"), payloadSchema).as("p"))
        .select(col("p_partkey"),
          col("p.instance_type").as("instance_type"),
          col("p.cpu.vcpus").as("vcpus"),
          round(graft.ingest.VendorIngest.mibToMb(col("p.memory.size_mib")), 4)
            .as("memory_mb"),
          graft.ingest.VendorIngest.totalDiskSize(col("p.disks")).as("storage_gb"))
        .orderBy(col("p_partkey"))
    }),

    // ---- P7: override precedence — inspector beats vendor only for the
    //      designated vendors and never overrides with null
    "p7_override" -> ((s, dir) => {
      val n = Tables.nation(s, dir)
        .withColumn("vendor_id",
          when(col("n_nationkey") % 2 === 0, "gcp").otherwise("aws"))
        .withColumn("vendor_val", col("n_nationkey") * 10)
        .withColumn("inspector_val",
          when(col("n_nationkey") % 3 === 0, lit(null).cast("long"))
            .otherwise(col("n_nationkey") * 100))
      n.select(col("n_nationkey"), col("vendor_id"),
          graft.ingest.VendorIngest.preferInspector(col("vendor_val"),
            col("inspector_val"), col("vendor_id"), Seq("gcp")).as("effective"))
        .orderBy(col("n_nationkey"))
    }),

    // ---- J10: range join — orders priced into region-derived tiers via
    //      the binned equi-join (never a nested-loop inequality join);
    //      exact-decimal sums keep the aggregate order-insensitive
    "j10_range_join" -> ((s, dir) => {
      val tiers = Tables.region(s, dir).select(
        col("r_regionkey").as("tier"),
        (col("r_regionkey") * 40000.0).as("lo"),
        ((col("r_regionkey") + 1) * 40000.0).as("hi"))
      val priced = graft.ops.RangeJoin.pointInInterval(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
        tiers, "o_totalprice", "lo", "hi", binWidth = 40000.0)
      priced.groupBy(col("tier"))
        .agg(count(lit(1)).as("n_orders"),
          graft.ops.Cols.moneySum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("tier"))
    }),

    // ---- P2 variant (ZonalVendor): dynamic-key price pivot — the plan id
    //      lives in the JSON KEY NAME; keys route to ondemand/spot rows,
    //      GPU plans gate on device availability, and the monthly cap is
    //      the constant 672-hour billing-policy tier.
    "p2_zonal_pivot" -> ((s, _) => {
      val v = new graft.ingest.ZonalVendor()
      val od = v.inventoryServerPrices(s)
        .select(col("region_id"), col("server_id"), col("allocation"), col("price"),
          element_at(col("price_tiered"), 1).getField("upper").as("cap_hours"))
      val spot = v.inventoryServerPricesSpot(s)
        .select(col("region_id"), col("server_id"), col("allocation"), col("price"),
          lit(null).cast("double").as("cap_hours"))
      od.unionByName(spot)
        .orderBy(col("region_id"), col("server_id"), col("allocation"))
    }),

    // ---- P2 variant (ZonalVendor): the separate storage-billing catalog —
    //      storage_* price keys resolve against the static catalog (unknown
    //      ids drop), hourly cents convert to gb_month.
    "p2_storage_billing" -> ((s, _) => {
      val v = new graft.ingest.ZonalVendor()
      v.inventoryStoragePrices(s)
        .join(v.inventoryStorages(s)
          .select(col("storage_id"), col("storage_type"), col("max_iops")),
          Seq("storage_id"))
        .select(col("region_id"), col("storage_id"), col("storage_type"),
          col("max_iops"), col("unit"), col("price"))
        .orderBy(col("region_id"), col("storage_id"))
    }),

    // ---- P2 variant (CatalogVendor): commerce-catalog server projection —
    //      keep-last dedupe by invoice name (catalog insert order), GPU
    //      count/memory inferred from the FLAVOR NAME via the broadcast
    //      rule table with the technical blob as fallback, and the two
    //      differently-shaped disk arrays folded with array HOFs.
    "p2_gpu_name_rules" -> ((s, _) => {
      new graft.ingest.CatalogVendor().inventoryServers(s)
        .select(col("server_id"), col("family"), col("vcpus"),
          col("cpu_allocation"), col("memory_amount"), col("gpu_count"),
          col("gpu_memory_min"), col("gpu_memory_total"),
          col("gpu_manufacturer"), col("gpu_model"), col("storage_size"),
          col("storage_type"), col("network_speed"),
          col("network_speed_max"), col("status"))
        .orderBy(col("server_id"))
    }),

    // ---- J5 variant (CatalogVendor): computed storage-price key — the
    //      plan code is BUILT from the storage id plus a `.3AZ` suffix
    //      exactly when the region's zone count (an aggregate of another
    //      inventory) exceeds one; microcent hourly quotes → gb_month.
    "j5_storage_key" -> ((s, _) => {
      new graft.ingest.CatalogVendor().inventoryStoragePrices(s)
        .select(col("region_id"), col("storage_id"), col("unit"),
          col("price"), col("currency"))
        .orderBy(col("region_id"), col("storage_id"))
    }),

    // ---- J3 variant (CatalogVendor): offer→zone fan-out with synthetic
    //      zones for zone-less regions, windows/unknown-region decoys
    //      dropped, microcent prices ÷ 10^8.
    "j3_catalog_fanout" -> ((s, _) => {
      new graft.ingest.CatalogVendor().inventoryServerPrices(s)
        .select(col("region_id"), col("zone_id"), col("server_id"),
          col("operating_system"), col("allocation"), col("unit"),
          col("price"), col("price_upfront"), col("currency"))
        .orderBy(col("region_id"), col("zone_id"), col("server_id"))
    }),

    // ---- P7 variant (OverrideVendor): field-level per-location price
    //      overrides inside the location fan-out — a sparse override MAP
    //      beats the plan's base price field by field, the monthly cap
    //      derives from whichever pair won, zero-price plans carry no cap.
    "p7_location_override" -> ((s, _) => {
      val v = new graft.ingest.OverrideVendor()
      v.inventoryServerPrices(s).unionByName(v.inventoryServerPricesSpot(s))
        .select(col("region_id"), col("server_id"), col("allocation"),
          col("price"),
          when(size(col("price_tiered")) > 0,
            element_at(col("price_tiered"), 1).getField("upper")).as("cap_hours"))
        .orderBy(col("region_id"), col("server_id"), col("allocation"))
    }),

    // ---- P5 variant (OverrideVendor): fractional GPU counts over the
    //      union of two plan catalogs — string fractions ("1/2"), the
    //      vram-total/per-GPU ratio, and the metal fallback rule table;
    //      allocation derived from which CPU field the catalog quotes;
    //      iterative CPU-model prefix strip.
    "p5_fractional_gpu" -> ((s, _) => {
      new graft.ingest.OverrideVendor().inventoryServers(s)
        .select(col("server_id"), col("family"), col("vcpus"),
          col("cpu_cores"), col("cpu_allocation"), col("cpu_speed"),
          col("cpu_family"), col("cpu_model"), col("gpu_count"),
          col("gpu_memory_min"), col("gpu_memory_total"),
          col("gpu_manufacturer"), col("gpu_family"), col("gpu_model"),
          col("storage_size"), col("storage_type"), col("ipv4"), col("status"))
        .orderBy(col("server_id"))
    }),

    // ---- P2 variant (SkuVendor): SKU price list keyed by INTERNAL region
    //      ids resolved through alias lists, one price per region fanned
    //      out to its zones, each row ANNOTATED active/inactive from the
    //      nested availability tree (WithStock only) — rows are kept
    //      either way, unlike the zonal vendor's gating.
    "p2_sku_status" -> ((s, _) => {
      new graft.ingest.SkuVendor().inventoryServerPrices(s)
        .select(col("region_id"), col("zone_id"), col("server_id"),
          col("operating_system"), col("price"), col("currency"), col("status"))
        .orderBy(col("region_id"), col("zone_id"), col("server_id"))
    }),

    // ---- P5 variant (SkuVendor): GPU-spec suffix parsing ("A10*1/12" →
    //      0.0833), the memory-total rule that switches semantics on the
    //      count (total for fractional/single, per-GPU for multiples),
    //      internal model-name rules, burstable-beats-shared allocation,
    //      and bandwidth-weighting network speeds with per-field unit
    //      conversions.
    "p5_gpu_spec_rules" -> ((s, _) => {
      new graft.ingest.SkuVendor().inventoryServers(s)
        .select(col("server_id"), col("family"), col("vcpus"),
          col("cpu_allocation"), col("cpu_architecture"), col("cpu_speed"),
          col("memory_amount"), col("gpu_count"), col("gpu_memory_min"),
          col("gpu_memory_total"), col("gpu_manufacturer"), col("gpu_family"),
          col("gpu_model"), col("storage_size"), col("storage_type"),
          col("network_speed"), col("network_speed_max"),
          col("network_storage_speed_baseline"),
          col("network_storage_speed_max"), col("status"))
        .orderBy(col("server_id"))
    }),

    // ---- F2 variant (SkuVendor): storage SKUs filtered by performance
    //      level (flat products keep PL1 only, ESSD keeps PL0-PL3 with an
    //      id suffix), hourPrice rows convert to gb_month via ×730,
    //      unknown regions skipped.
    "f2_storage_pl_filter" -> ((s, _) => {
      new graft.ingest.SkuVendor().inventoryStoragePrices(s)
        .select(col("region_id"), col("storage_id"), col("unit"),
          col("price"), col("currency"))
        .orderBy(col("region_id"), col("storage_id"))
    }),

    // ---- O3: global top-k. orderBy().limit(k) compiles to
    //      TakeOrderedAndProject: each task keeps a k-row heap, the driver
    //      merges 32 heaps — no global sort, no single-task window. The
    //      rank window only ever sees the k surviving rows; the literal
    //      partition key states that k-boundedness explicitly, so a clean
    //      run logs zero "moving all data to a single partition" warnings.
    "o3_global_topk" -> ((s, dir) => {
      val top = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
      // non-foldable constant key: lit(0) would be constant-folded back
      // to an empty partition spec (and the warning) by the optimizer.
      // Spark-version dependence: as of 4.1 Catalyst does not simplify
      // `col % 1`; a future rule folding it would only restore the
      // cosmetic warning (ranks unchanged — all rows share key 0), and
      // PlanShapeSpec/ScaleOpsSpec pin the plan so the fold would surface.
      val w = Window.partitionBy(col("o_orderkey") % lit(1))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      top.withColumn("rank", row_number().over(w))
        .select(col("rank"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("rank"))
    }))

  val oracle: Map[String, String] = Map(
    // CatalogVendor fixture literals as VALUES (self-checking duplication:
    // drift against the JSON payload turns the row red). The oracle
    // rebuilds keep-last dedupe, name-prefix rule joins and the blob
    // fallbacks from the literal columns.
    "p2_gpu_name_rules" ->
      s"""WITH a(invoice_name, plan_code, pos, vcpus, mem_gb, subtype,
         |       gpu_blob_n, gpu_blob_gib, gpu_blob_model, nvme_gb, ssd_gb,
         |       active, microcents, bw_level, vrack_level) AS (VALUES
         |  ${graft.ingest.CatalogVendor.serverAddonValuesSql}),
         |g(prefix, divisor, gib_per_gpu, rule_model) AS (VALUES
         |  ${graft.ingest.CatalogVendor.gpuRuleValuesSql}),
         |f(prefix, family) AS (VALUES
         |  ${graft.ingest.CatalogVendor.familyRuleValuesSql}),
         |last AS (SELECT *, row_number() OVER (
         |    PARTITION BY invoice_name ORDER BY pos DESC) AS rn FROM a),
         |b AS (SELECT *,
         |    regexp_extract(invoice_name, '^([a-z0-9]+)', 1) AS prefix,
         |    TRY_CAST(NULLIF(regexp_extract(invoice_name, '([0-9]+)$$', 1), '')
         |      AS INTEGER) AS name_size
         |  FROM last WHERE rn = 1),
         |j AS (SELECT b.*, g.divisor, g.gib_per_gpu, g.rule_model, f.family
         |  FROM b LEFT JOIN g USING (prefix) LEFT JOIN f USING (prefix)),
         |c AS (SELECT *,
         |    COALESCE(CASE WHEN divisor IS NOT NULL AND name_size IS NOT NULL
         |        THEN CAST(floor(name_size / divisor) AS INTEGER) END,
         |      NULLIF(gpu_blob_n, 0), 0) AS gpu_count,
         |    COALESCE(gib_per_gpu * 1024,
         |      NULLIF(gpu_blob_gib, 0) * CAST(1024 AS BIGINT)) AS mem_each
         |  FROM j)
         |SELECT invoice_name AS server_id, family, vcpus,
         |  CASE WHEN subtype = 'discovery' THEN 'shared'
         |       ELSE 'dedicated' END AS cpu_allocation,
         |  CAST(mem_gb AS BIGINT) * 1024 AS memory_amount, gpu_count,
         |  CASE WHEN gpu_count > 0 THEN mem_each END AS gpu_memory_min,
         |  CASE WHEN gpu_count > 0 THEN mem_each * gpu_count END AS gpu_memory_total,
         |  CASE WHEN gpu_count > 0 THEN 'NVIDIA' END AS gpu_manufacturer,
         |  CASE WHEN gpu_count > 0
         |    THEN COALESCE(rule_model, NULLIF(gpu_blob_model, '')) END AS gpu_model,
         |  CAST(nvme_gb + ssd_gb AS BIGINT) AS storage_size,
         |  CASE WHEN nvme_gb > 0 THEN 'nvme_ssd'
         |       WHEN ssd_gb > 0 THEN 'ssd' END AS storage_type,
         |  bw_level / 1000.0 AS network_speed,
         |  NULLIF(vrack_level, 0) / 1000.0 AS network_speed_max,
         |  CASE WHEN active = 1 THEN 'active' ELSE 'inactive' END AS status
         |FROM c ORDER BY server_id""".stripMargin,
    "j5_storage_key" ->
      s"""WITH v(plan_code, microcents) AS (VALUES
         |  ${graft.ingest.CatalogVendor.volumeValuesSql}),
         |z(region_id, n_zones) AS (VALUES
         |  ${graft.ingest.CatalogVendor.regionZoneValuesSql}),
         |s(storage_id) AS (VALUES
         |  ${graft.ingest.CatalogVendor.storageIdValuesSql}),
         |k AS (SELECT region_id, storage_id,
         |    'volume.' || storage_id || '.consumption' ||
         |      CASE WHEN n_zones > 1 THEN '.3AZ' ELSE '' END AS plan_code
         |  FROM s CROSS JOIN z)
         |SELECT region_id, storage_id, 'gb_month' AS unit,
         |  round(microcents / 1e8 * 730, 4) AS price, 'EUR' AS currency
         |FROM k JOIN v USING (plan_code)
         |ORDER BY region_id, storage_id""".stripMargin,
    "j3_catalog_fanout" ->
      s"""WITH a(invoice_name, plan_code, pos, vcpus, mem_gb, subtype,
         |       gpu_blob_n, gpu_blob_gib, gpu_blob_model, nvme_gb, ssd_gb,
         |       active, microcents, bw_level, vrack_level) AS (VALUES
         |  ${graft.ingest.CatalogVendor.serverAddonValuesSql}),
         |o(region_id, os_type, plan_code) AS (VALUES
         |  ${graft.ingest.CatalogVendor.offerValuesSql}),
         |z(region_id, zone_id) AS (VALUES
         |  ${graft.ingest.CatalogVendor.zoneValuesSql}),
         |last AS (SELECT *, row_number() OVER (
         |    PARTITION BY invoice_name ORDER BY pos DESC) AS rn FROM a)
         |SELECT o.region_id, z.zone_id, l.invoice_name AS server_id,
         |  'linux' AS operating_system, 'ondemand' AS allocation,
         |  'hour' AS unit, round(l.microcents / 1e8, 4) AS price,
         |  0.0 AS price_upfront, 'EUR' AS currency
         |FROM o
         |JOIN last l ON o.plan_code = l.plan_code AND l.rn = 1
         |JOIN z ON o.region_id = z.region_id
         |WHERE o.os_type = 'linux'
         |ORDER BY o.region_id, z.zone_id, server_id""".stripMargin,
    // ZonalVendor fixture literals as VALUES (drift against the JSON
    // payload turns this row red — self-checking duplication, like
    // o2_monthly_cap's)
    "p2_zonal_pivot" ->
      s"""WITH pk(zone, key, cents) AS (VALUES
         |  ${graft.ingest.ZonalVendor.priceKeyValuesSql}),
         |avail(zone, plan, amount) AS (VALUES
         |  ${graft.ingest.ZonalVendor.gpuAvailabilityValuesSql}),
         |sp AS (SELECT zone AS region_id, substring(key, 13) AS plan,
         |    CAST(cents AS DOUBLE) AS cents
         |  FROM pk WHERE key LIKE 'server_plan_%'),
         |gated AS (SELECT s.* FROM sp s
         |  LEFT JOIN avail a ON s.region_id = a.zone AND s.plan = a.plan
         |  WHERE s.plan NOT LIKE 'GPU%' OR COALESCE(a.amount, 0) > 0),
         |od AS (SELECT region_id, plan AS server_id, 'ondemand' AS allocation,
         |    round(cents / 100, 4) AS price, CAST(672 AS DOUBLE) AS cap_hours
         |  FROM gated WHERE plan NOT LIKE '%SPOT%'),
         |spot AS (SELECT region_id, replace(plan, 'SPOT-', '') AS server_id,
         |    'spot' AS allocation, round(cents / 100, 4) AS price,
         |    CAST(NULL AS DOUBLE) AS cap_hours
         |  FROM gated WHERE plan LIKE '%SPOT%')
         |SELECT * FROM od UNION ALL SELECT * FROM spot
         |ORDER BY region_id, server_id, allocation""".stripMargin,
    "p2_storage_billing" ->
      s"""WITH pk(zone, key, cents) AS (VALUES
         |  ${graft.ingest.ZonalVendor.priceKeyValuesSql}),
         |cat(storage_id, storage_type, max_iops) AS (VALUES
         |  ${graft.ingest.ZonalVendor.storageCatalogValuesSql}),
         |sp AS (SELECT zone AS region_id, substring(key, 9) AS storage_id,
         |    CAST(cents AS DOUBLE) AS cents
         |  FROM pk WHERE key LIKE 'storage_%')
         |SELECT region_id, storage_id, storage_type,
         |  CAST(max_iops AS BIGINT) AS max_iops, 'gb_month' AS unit,
         |  round(cents / 100 * 24 * 30, 4) AS price
         |FROM sp JOIN cat USING (storage_id)
         |ORDER BY region_id, storage_id""".stripMargin,
    // SkuVendor fixtures as VALUES. The availability triples and SKU rows
    // are the SAME Scala lists the nested JSON payloads are generated
    // from (cannot drift); the instance-type rows are hand-mirrored from
    // the JSON pages (drift turns the gate red).
    "p2_sku_status" ->
      s"""WITH s(vm_region_no, server_id, price) AS (VALUES
         |  ${graft.ingest.SkuVendor.serverSkuValuesSql}),
         |a(alias_id, region_id) AS (VALUES
         |  ${graft.ingest.SkuVendor.aliasValuesSql}),
         |z(region_id, zone_id) AS (VALUES
         |  ${graft.ingest.SkuVendor.zoneValuesSql}),
         |av(region_id, zone_id, server_id, status_category) AS (VALUES
         |  ${graft.ingest.SkuVendor.availabilityValuesSql})
         |SELECT a.region_id, z.zone_id, s.server_id,
         |  'linux' AS operating_system, s.price, 'USD' AS currency,
         |  CASE WHEN av.status_category = 'WithStock' THEN 'active'
         |       ELSE 'inactive' END AS status
         |FROM s
         |JOIN a ON s.vm_region_no = a.alias_id
         |JOIN z ON z.region_id = a.region_id
         |LEFT JOIN av ON av.region_id = a.region_id AND av.zone_id = z.zone_id
         |  AND av.server_id = s.server_id
         |ORDER BY a.region_id, z.zone_id, s.server_id""".stripMargin,
    "p5_gpu_spec_rules" ->
      s"""WITH it(server_id, family, vcpus, mem_gib, category, credit, arch,
         |        freq, gpu_spec, gpu_amount, gpu_mem_gib, ls_amount,
         |        ls_capacity, ls_category, bw_rx) AS (VALUES
         |  ${graft.ingest.SkuVendor.instanceTypeValuesSql}),
         |w(server_id, vpc_bw, vpc_burst, ebs_bw, ebs_burst) AS (VALUES
         |  ${graft.ingest.SkuVendor.weightingValuesSql}),
         |av(region_id, zone_id, server_id, status_category) AS (VALUES
         |  ${graft.ingest.SkuVendor.availabilityValuesSql}),
         |act AS (SELECT DISTINCT server_id FROM av
         |  WHERE status_category = 'WithStock'),
         |wflat AS (SELECT server_id, v, kind FROM (
         |    SELECT server_id, vpc_bw AS v, 'vpc' AS kind FROM w
         |    UNION ALL SELECT server_id, vpc_burst, 'vpc' FROM w
         |    UNION ALL SELECT server_id, ebs_bw, 'ebs' FROM w
         |    UNION ALL SELECT server_id, ebs_burst, 'ebs' FROM w) u
         |  WHERE v IS NOT NULL),
         |wagg AS (SELECT server_id,
         |    max(CASE WHEN kind = 'vpc' THEN v END) / 1024.0 / 1000 AS net_max,
         |    CAST(min(CASE WHEN kind = 'ebs'
         |      THEN round(CAST(v AS BIGINT) * 8 / 1000000.0) END) AS BIGINT) AS nss_base,
         |    CAST(max(CASE WHEN kind = 'ebs'
         |      THEN round(CAST(v AS BIGINT) * 8 / 1000000.0) END) AS BIGINT) AS nss_max
         |  FROM wflat GROUP BY server_id),
         |g AS (SELECT it.*,
         |    NULLIF(regexp_extract(gpu_spec, '/(\\d+)$$', 1), '') AS den,
         |    NULLIF(regexp_extract(gpu_spec, '\\*(\\d+)/\\d+$$', 1), '') AS num,
         |    NULLIF(regexp_extract(gpu_spec, '\\*(\\d+)$$', 1), '') AS mult,
         |    CASE WHEN gpu_spec IN ('', '0', 'NULL', 'NA', 'N/A') THEN NULL
         |         ELSE regexp_replace(regexp_replace(regexp_replace(gpu_spec,
         |           '^(NVIDIA |Tesla |Nvidia Tesla |Radeon Pro |AMD |Quadro |Gaudi |GeeForce )', ''),
         |           '(\\*1)?/\\d+$$', ''), '\\*1$$', '') END AS m0
         |  FROM it),
         |c AS (SELECT g.*,
         |    CASE WHEN gpu_spec = '' THEN CAST(gpu_amount AS DOUBLE)
         |         WHEN den IS NOT NULL THEN
         |           round(CAST(COALESCE(num, '1') AS DOUBLE) / CAST(den AS DOUBLE), 4)
         |         WHEN mult IS NOT NULL THEN CAST(mult AS DOUBLE)
         |         ELSE CAST(gpu_amount AS DOUBLE) END AS gpu_count,
         |    CAST(gpu_mem_gib AS BIGINT) * 1024 AS per_gpu
         |  FROM g)
         |SELECT c.server_id, c.family, c.vcpus,
         |  CASE WHEN credit > 0 THEN 'burstable'
         |       WHEN category = 'Shared' THEN 'shared'
         |       ELSE 'dedicated' END AS cpu_allocation,
         |  CASE WHEN arch = 'ARM' THEN 'arm64' ELSE 'x86_64' END AS cpu_architecture,
         |  NULLIF(freq, 0) AS cpu_speed,
         |  CAST(mem_gib * 1024 AS BIGINT) AS memory_amount,
         |  gpu_count, per_gpu AS gpu_memory_min,
         |  CASE WHEN gpu_count >= 1 THEN CAST(gpu_count * per_gpu AS BIGINT)
         |       ELSE per_gpu END AS gpu_memory_total,
         |  CASE WHEN m0 LIKE 'G49%' OR m0 IN ('L20', 'L20N', 'vGPU8')
         |    THEN 'NVIDIA' END AS gpu_manufacturer,
         |  CASE WHEN m0 LIKE 'G49%' OR m0 IN ('L20', 'vGPU8') THEN 'Ada Lovelace'
         |       WHEN m0 = 'L20N' THEN 'Blackwell' END AS gpu_family,
         |  CASE WHEN m0 LIKE 'G49%' OR m0 LIKE 'GPU H%' OR m0 IN ('L20N', 'vGPU8')
         |    THEN NULL ELSE m0 END AS gpu_model,
         |  CAST(floor(ls_amount * ls_capacity * 1073741824.0 / 1000000000.0)
         |    AS BIGINT) AS storage_size,
         |  CASE WHEN ls_category = 'local_ssd_pro' THEN 'ssd'
         |       WHEN ls_category = 'local_hdd_pro' THEN 'hdd' END AS storage_type,
         |  NULLIF(bw_rx / 1024.0 / 1000, 0) AS network_speed,
         |  wagg.net_max AS network_speed_max,
         |  wagg.nss_base AS network_storage_speed_baseline,
         |  wagg.nss_max AS network_storage_speed_max,
         |  CASE WHEN act.server_id IS NOT NULL THEN 'active'
         |       ELSE 'inactive' END AS status
         |FROM c
         |LEFT JOIN wagg ON c.server_id = wagg.server_id
         |LEFT JOIN act ON c.server_id = act.server_id
         |ORDER BY c.server_id""".stripMargin,
    "f2_storage_pl_filter" ->
      s"""WITH r(vm_region_no, category, pl, price, price_type) AS (VALUES
         |  ${graft.ingest.SkuVendor.storageSkuValuesSql}),
         |a(alias_id, region_id) AS (VALUES
         |  ${graft.ingest.SkuVendor.aliasValuesSql}),
         |k AS (SELECT a.region_id,
         |    CASE WHEN category IN ('cloud', 'cloud_ssd', 'cloud_efficiency')
         |         THEN category
         |         ELSE category || '-' || lower(pl) END AS storage_id,
         |    CASE WHEN price_type = 'hourPrice' THEN price * 730
         |         ELSE price END AS price
         |  FROM r JOIN a ON r.vm_region_no = a.alias_id
         |  WHERE (category IN ('cloud', 'cloud_ssd', 'cloud_efficiency')
         |         AND pl = 'PL1')
         |     OR (category NOT IN ('cloud', 'cloud_ssd', 'cloud_efficiency')
         |         AND pl IN ('PL0', 'PL1', 'PL2', 'PL3')))
         |SELECT region_id, storage_id, 'gb_month' AS unit, price,
         |  'USD' AS currency
         |FROM k ORDER BY region_id, storage_id""".stripMargin,
    // OverrideVendor fixture literals as VALUES (self-checking duplication
    // against the JSON payloads): the oracle replays the location fan-out
    // with field-level override precedence and the derived monthly cap.
    "p7_location_override" ->
      s"""WITH p(plan_id, ptype, vcpu_count, cpu_count, cpu_threads, cpu_model,
         |       cpu_mhz, ram_mb, disk, disk_count, disk_type, gpu_brand,
         |       gpu_type, gpu_vram_gb, gpu_count_str, hourly, monthly,
         |       deploy_od, deploy_spot, spot_hourly, spot_monthly) AS (VALUES
         |  ${graft.ingest.OverrideVendor.planValuesSql}),
         |l(plan_id, region_id) AS (VALUES
         |  ${graft.ingest.OverrideVendor.locationValuesSql}),
         |o(plan_id, region_id, ov_h, ov_m, ov_sh, ov_sm) AS (VALUES
         |  ${graft.ingest.OverrideVendor.overrideValuesSql}),
         |od AS (SELECT l.region_id, p.plan_id AS server_id,
         |    'ondemand' AS allocation,
         |    COALESCE(o.ov_h, p.hourly) AS h, COALESCE(o.ov_m, p.monthly) AS m
         |  FROM p JOIN l USING (plan_id)
         |  LEFT JOIN o ON o.plan_id = p.plan_id AND o.region_id = l.region_id
         |  WHERE p.deploy_od = 1),
         |sp AS (SELECT l.region_id, p.plan_id AS server_id,
         |    'spot' AS allocation,
         |    COALESCE(o.ov_sh, p.spot_hourly) AS h,
         |    COALESCE(o.ov_sm, p.spot_monthly) AS m
         |  FROM p JOIN l USING (plan_id)
         |  LEFT JOIN o ON o.plan_id = p.plan_id AND o.region_id = l.region_id
         |  WHERE p.deploy_spot = 1),
         |u AS (SELECT * FROM od UNION ALL SELECT * FROM sp)
         |SELECT region_id, server_id, allocation, h AS price,
         |  CASE WHEN h > 0 THEN floor(m / h) END AS cap_hours
         |FROM u ORDER BY region_id, server_id, allocation""".stripMargin,
    // OverrideVendor server projection: two unioned plan catalogs, the
    // existence-driven CPU allocation, string-fraction / ratio-derived /
    // fallback-table GPU counts, min(per-GPU, total) VRAM, iterative
    // CPU-model prefix strip, substring family rules.
    "p5_fractional_gpu" ->
      s"""WITH p(plan_id, ptype, vcpu_count, cpu_count, cpu_threads, cpu_model,
         |       cpu_mhz, ram_mb, disk, disk_count, disk_type, gpu_brand,
         |       gpu_type, gpu_vram_gb, gpu_count_str, hourly, monthly,
         |       deploy_od, deploy_spot, spot_hourly, spot_monthly) AS (VALUES
         |  ${graft.ingest.OverrideVendor.planValuesSql}),
         |f(ptype, family) AS (VALUES
         |  ${graft.ingest.OverrideVendor.planTypeValuesSql}),
         |dk(disk_key, storage_type) AS (VALUES
         |  ${graft.ingest.OverrideVendor.diskTypeValuesSql}),
         |g(gpu_type, vram_gb, rule_gpu_family) AS (VALUES
         |  ${graft.ingest.OverrideVendor.gpuTypeValuesSql}),
         |fb(plan_id, fb_gpu_type, fb_gpu_count, fb_vram_total) AS (VALUES
         |  ${graft.ingest.OverrideVendor.fallbackValuesSql}),
         |b AS (SELECT p.*, f.family,
         |    COALESCE(p.gpu_type, fb.fb_gpu_type) AS eff_gpu_type,
         |    COALESCE(NULLIF(p.gpu_vram_gb, 0), fb.fb_vram_total, 0) AS vram_total,
         |    COALESCE(
         |      CASE WHEN p.gpu_count_str LIKE '%/%'
         |        THEN round(CAST(split_part(p.gpu_count_str, '/', 1) AS DOUBLE) /
         |                   CAST(split_part(p.gpu_count_str, '/', 2) AS DOUBLE), 4)
         |        ELSE TRY_CAST(p.gpu_count_str AS DOUBLE) END,
         |      CAST(fb.fb_gpu_count AS DOUBLE)) AS api_count
         |  FROM p LEFT JOIN f USING (ptype) LEFT JOIN fb USING (plan_id)),
         |c AS (SELECT b.*, g.vram_gb, g.rule_gpu_family,
         |    COALESCE(b.api_count,
         |      CASE WHEN g.vram_gb IS NOT NULL AND b.vram_total > 0
         |        THEN round(CAST(b.vram_total AS DOUBLE) / g.vram_gb, 4) END,
         |      0.0) AS gpu_count_eff,
         |    COALESCE(b.disk_type, b.ptype) AS disk_key
         |  FROM b LEFT JOIN g ON b.eff_gpu_type = g.gpu_type)
         |SELECT c.plan_id AS server_id, c.family,
         |  COALESCE(c.vcpu_count, c.cpu_threads) AS vcpus,
         |  c.cpu_count AS cpu_cores,
         |  CASE WHEN c.vcpu_count IS NOT NULL THEN 'shared'
         |       ELSE 'dedicated' END AS cpu_allocation,
         |  c.cpu_mhz / 1000.0 AS cpu_speed,
         |  CASE WHEN lower(c.cpu_model) LIKE '%epyc%'
         |         OR lower(c.cpu_model) LIKE '%turin%'
         |         OR lower(c.cpu_model) LIKE '%genoa%' THEN 'EPYC'
         |       WHEN lower(c.cpu_model) LIKE '%grace%'
         |         OR lower(c.cpu_model) LIKE '%neoverse%' THEN 'Grace'
         |       WHEN lower(c.cpu_model) LIKE 'e-%'
         |         OR lower(c.cpu_model) LIKE 'e3-%'
         |         OR lower(c.cpu_model) LIKE 'gold %'
         |         OR lower(c.cpu_model) LIKE 'platinum %' THEN 'Xeon'
         |  END AS cpu_family,
         |  NULLIF(trim(regexp_replace(c.cpu_model,
         |    '^(?:(?:EPYC|Grace|Platinum|Gold) +|E3-|E-)+', '')), '') AS cpu_model,
         |  c.gpu_count_eff AS gpu_count,
         |  CASE WHEN c.vram_gb IS NOT NULL AND c.vram_total > 0
         |    THEN CAST(least(c.vram_gb, c.vram_total) AS BIGINT) * 1024
         |    ELSE CAST(0 AS BIGINT) END AS gpu_memory_min,
         |  CAST(c.vram_total AS BIGINT) * 1024 AS gpu_memory_total,
         |  CASE WHEN c.eff_gpu_type IS NOT NULL
         |    THEN COALESCE(NULLIF(c.gpu_brand, ''),
         |                  split_part(c.eff_gpu_type, '_', 1))
         |  END AS gpu_manufacturer,
         |  c.rule_gpu_family AS gpu_family,
         |  CASE WHEN c.eff_gpu_type IS NOT NULL THEN
         |    CASE WHEN strpos(c.eff_gpu_type, '_') > 0
         |      THEN split_part(c.eff_gpu_type, '_', 2)
         |      ELSE c.eff_gpu_type END
         |  END AS gpu_model,
         |  CAST(c.disk AS BIGINT) * COALESCE(c.disk_count, 1) AS storage_size,
         |  dk.storage_type,
         |  CASE WHEN c.plan_id = 'vc2-1c-0.5gb-v6' THEN 0 ELSE 1 END AS ipv4,
         |  CASE WHEN c.plan_id = 'vc2-1c-0.5gb-free' THEN 'inactive'
         |       ELSE 'active' END AS status
         |FROM c LEFT JOIN dk USING (disk_key)
         |ORDER BY server_id""".stripMargin,
    // the fixture derives every field deterministically from nation rows;
    // nationkey 13 is written corrupt and multiples of 5 incomplete, so
    // the oracle filters exactly the rows the validator must skip
    "s4_descriptions" ->
      """SELECT 'v' || CAST(n_regionkey AS VARCHAR) AS vendor_id,
        |  CAST(n_nationkey AS VARCHAR) AS server_id,
        |  'Nation ' || n_name AS description,
        |  'og ' || n_name AS og_description,
        |  'meta ' || n_name AS meta_description,
        |  'tag ' || n_name AS tagline,
        |  CAST(2 AS BIGINT) AS n_page, CAST(3 AS BIGINT) AS n_bullets,
        |  'General' AS category_1
        |FROM nation WHERE n_nationkey % 5 <> 0 AND n_nationkey <> 13
        |ORDER BY vendor_id, server_id""".stripMargin,
    // seed VALUES generated from the same Scala rows the engine compiles
    // in (cannot drift)
    "s5_seed_countries" ->
      s"""SELECT country_id, continent, 'active' AS status
         |FROM (VALUES ${SeedTables.countryValuesSql}) t(country_id, continent)
         |ORDER BY country_id""".stripMargin,
    "s6_table_scan" -> "SELECT * FROM region ORDER BY r_regionkey",
    "o2_monthly_cap" ->
      s"""WITH q(server_id, location, hourly, monthly) AS (VALUES
         |  ${graft.ingest.CapVendor.priceQuoteValuesSql}),
         |c AS (SELECT server_id, location AS region_id,
         |    CAST(hourly AS DECIMAL(12,4)) AS h,
         |    floor(CAST(monthly AS DECIMAL(12,4)) / CAST(hourly AS DECIMAL(12,4))) AS cap
         |  FROM q),
         |t AS (
         |  SELECT server_id, region_id, CAST(h AS DOUBLE) AS hourly,
         |    0.0 AS tier_lower, CAST(cap AS DOUBLE) AS tier_upper,
         |    CAST(h AS DOUBLE) AS tier_price FROM c
         |  UNION ALL
         |  SELECT server_id, region_id, CAST(h AS DOUBLE),
         |    CAST(cap + 1 AS DOUBLE), CAST('Infinity' AS DOUBLE), 0.0 FROM c)
         |SELECT * FROM t ORDER BY server_id, region_id, tier_lower""".stripMargin,
    "o2_tier_ingest" ->
      s"""WITH meters(meter, region_id, monthly) AS (VALUES
         |  ${graft.ingest.MeterVendor.storageMeterValuesSql}),
         |map(meter, storage_id, size_gib) AS (VALUES
         |  ${graft.ingest.MeterVendor.storageMappingValuesSql}),
         |t AS (SELECT region_id, storage_id,
         |    round(size_gib * 1.073741824, 4) AS tier_upper,
         |    round(monthly / size_gib / 1.073741824, 4) AS tier_price
         |  FROM meters JOIN map USING (meter)),
         |c AS (SELECT region_id, storage_id, tier_upper, tier_price,
         |    COALESCE(lag(tier_upper) OVER (
         |      PARTITION BY region_id, storage_id ORDER BY tier_upper), 0.0)
         |      AS tier_lower,
         |    first_value(tier_price) OVER (
         |      PARTITION BY region_id, storage_id ORDER BY tier_upper) AS headline
         |  FROM t)
         |SELECT region_id, storage_id, tier_lower, tier_upper, tier_price, headline
         |FROM c ORDER BY region_id, storage_id, tier_upper""".stripMargin,
    "p7_override" ->
      """SELECT n_nationkey,
        |  CASE WHEN n_nationkey % 2 = 0 THEN 'gcp' ELSE 'aws' END AS vendor_id,
        |  CASE WHEN n_nationkey % 2 = 0
        |    THEN COALESCE(CASE WHEN n_nationkey % 3 = 0 THEN NULL
        |                       ELSE n_nationkey * 100 END, n_nationkey * 10)
        |    ELSE COALESCE(n_nationkey * 10,
        |                  CASE WHEN n_nationkey % 3 = 0 THEN NULL
        |                       ELSE n_nationkey * 100 END)
        |  END AS effective
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "p2_payload_project" ->
      """SELECT p_partkey, p_name AS instance_type,
        |  CAST(p_size AS BIGINT) AS vcpus,
        |  ROUND(CAST(floor(p_retailprice * 10) AS BIGINT) * 1.048576, 4) AS memory_mb,
        |  100 * CAST(p_size AS BIGINT) + 100 AS storage_gb
        |FROM part ORDER BY p_partkey""".stripMargin,
    "p1_conform" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(NULL AS VARCHAR) AS n_comment, 'active' AS status
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "e3_membership" ->
      """SELECT p_partkey, side FROM (
        |  SELECT DISTINCT l_partkey AS p_partkey, 'unknown_key' AS side FROM lineitem
        |  WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
        |  UNION ALL
        |  SELECT p_partkey, 'unused_part' AS side FROM part
        |  WHERE p_partkey NOT IN (SELECT DISTINCT l_partkey FROM lineitem))
        |ORDER BY side, p_partkey""".stripMargin,
    "j10_range_join" ->
      """WITH tiers AS (SELECT r_regionkey AS tier, r_regionkey * 40000.0 AS lo,
        |  (r_regionkey + 1) * 40000.0 AS hi FROM region)
        |SELECT tier, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY tier ORDER BY tier""".stripMargin,
    "o3_global_topk" ->
      """SELECT rank, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin)
}
