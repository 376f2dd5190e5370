package graft.ingest

import graft.SparkSpec
import graft.schema.Schemas

class PullSpec extends SparkSpec {

  test("pull conforms, dedups and sinks every record type") {
    val dir = graft.TestDir("graft-pull")
    val counts = Pull.pull(spark, new DemoVendor, Pull.parquetSink(dir))
    // every registry table except the orchestrator-owned _metadata
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    assert(counts("vendor") == 1 && counts("benchmark") == 57)
    assert(counts("server_price") == 4) // zone fan-out
    assert(counts("country") == 39)
    assert(counts("benchmark_score") == 2) // bw_mem rd + wr

    // written frames conform to registry schemas (names + order)
    val sp = spark
    val written = sp.read.parquet(s"$dir/server_price")
    assert(written.columns.toSeq == Schemas.serverPrice.fieldNames.toSeq)
    // prices extracted from terms JSON and rounded
    val prices = written.select("price").collect().map(_.getDouble(0)).toSet
    assert(prices == Set(0.10, 0.08, 0.40))
  }

  test("grid vendor: nested machine-type and SKU JSON through the same contract") {
    val sp = spark
    val dir = graft.TestDir("graft-pull-grid")
    val counts = Pull.pull(spark, new GridVendor, Pull.parquetSink(dir))
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    // 5 distinct machine types across 3 zone payloads (n2-standard-4 dedups)
    assert(counts("server") == 5)
    assert(counts("region") == 2 && counts("zone") == 3)

    val servers = sp.read.parquet(s"$dir/server")
    val byName = servers.collect().map(r => r.getAs[String]("name") -> r).toMap
    // family from name prefix, ARM by t2a, shared-core flag, deprecation
    assert(byName("t2a-standard-8").getAs[String]("cpu_architecture") == "arm64")
    assert(byName("n2-standard-4").getAs[String]("cpu_architecture") == "x86_64")
    assert(byName("e2-micro").getAs[String]("cpu_allocation") == "shared")
    assert(byName("n1-standard-2").getAs[String]("status") == "inactive")
    assert(byName("g2-standard-4").getAs[Double]("gpu_count") == 1.0)
    assert(byName("g2-standard-4").getAs[String]("gpu_model") == "nvidia-l4")
    assert(byName("n2-standard-4").getAs[String]("family") == "n2")

    // units+nanos SKU price, family-joined, zone fan-out: n2 in 3 zones
    val prices = sp.read.parquet(s"$dir/server_price")
      .filter(org.apache.spark.sql.functions.col("allocation") === "ondemand")
      .collect()
      .map(r => (r.getAs[String]("server_id"), r.getAs[String]("zone_id"),
        r.getAs[Double]("price")))
    val n2 = prices.filter(_._1 == "3001")
    assert(n2.length == 3)
    assert(n2.filter(_._2.startsWith("gr-east1")).forall(_._3 == 0.1942))
    assert(n2.filter(_._2.startsWith("gr-west1")).forall(_._3 == 0.2137))
    assert(prices.filter(_._1 == "3005").forall(_._3 == 1.12))
  }

  test("meter vendor: paginated meters, capability pairs, tier chains") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    val dir = graft.TestDir("graft-pull-meter")
    val counts = Pull.pull(spark, new MeterVendor, Pull.parquetSink(dir))
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    assert(counts("region") == 2 && counts("zone") == 6) // 3 AZs per region
    assert(counts("server") == 3)

    // capability-pair projection: arch from Arm64 capability, memory GB→MB
    val servers = sp.read.parquet(s"$dir/server")
      .collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(servers("Standard_D4ps_v5").getAs[String]("cpu_architecture") == "arm64")
    assert(servers("Standard_D4_v5").getAs[String]("cpu_architecture") == "x86_64")
    assert(servers("Standard_E8_v5").getAs[Int]("vcpus") == 8)
    assert(servers("Standard_E8_v5").getAs[Long]("memory_amount") == 65536L)

    // on-demand: D4 in 2 regions + E8 in 1, × 3 zones; spot is its own
    // inventory surface (meterName-based spot detection)
    assert(counts("server_price") == 9)
    val spot = new MeterVendor().inventoryServerPricesSpot(spark).collect()
    assert(spot.length == 3 && spot.forall(_.getAs[Double]("price") == 0.0768))

    // O2 chain: storage tiers lower = previous upper, headline = lowest tier
    val st = sp.read.parquet(s"$dir/storage_price").collect()
      .map(r => r.getAs[String]("region_id") -> r).toMap
    val east = st("mt-east").getSeq[org.apache.spark.sql.Row](
      st("mt-east").fieldIndex("price_tiered"))
    assert(east.size == 3)
    assert(east.head.getAs[Double]("lower") == 0.0)
    assert(east(1).getAs[Double]("lower") == east.head.getAs[Double]("upper"))
    assert(east(2).getAs[Double]("lower") == east(1).getAs[Double]("upper"))
    assert(st("mt-east").getAs[Double]("price") == east.head.getAs[Double]("price"))

    // inverse O2: traffic uppers = next lower, last unbounded
    val trRow = sp.read.parquet(s"$dir/traffic_price")
      .filter(col("direction") === "out").collect().head
    val tr = trRow.getSeq[org.apache.spark.sql.Row](trRow.fieldIndex("price_tiered"))
    assert(tr.map(_.getAs[Double]("lower")) == Seq(0.0, 100.0, 10240.0))
    assert(tr.map(_.getAs[Double]("upper")) == Seq(100.0, 10240.0, Double.PositiveInfinity))
  }

  test("cap vendor: monthly-cap tiers, alias-resolved regions, cpu rule table") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    val dir = graft.TestDir("graft-pull-cap")
    val counts = Pull.pull(spark, new CapVendor, Pull.parquetSink(dir))
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    assert(counts("region") == 2 && counts("zone") == 2 && counts("server") == 3)
    assert(counts("server_price") == 4) // cpx11 in 2 regions + cax21 + ccx33

    // cpu rule table joins by family prefix; deprecation flips status
    val servers = sp.read.parquet(s"$dir/server")
      .collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(servers("cax21").getAs[String]("cpu_architecture") == "arm64")
    assert(servers("cax21").getAs[String]("cpu_manufacturer") == "Ampere")
    assert(servers("ccx33").getAs[String]("status") == "inactive")
    assert(servers("cpx11").getAs[Long]("memory_amount") == 2000L)

    // monthly-cap tier arithmetic on exact decimals:
    // fsn1 cpx11: 3.85 / 0.006 = 641.67 → cap 641; beyond the cap costs 0
    val prices = sp.read.parquet(s"$dir/server_price").collect()
      .map(r => (r.getAs[String]("server_id"), r.getAs[String]("region_id")) -> r).toMap
    val fsn = prices(("104", "fsn1"))
    assert(fsn.getAs[Double]("price") == 0.006)
    val tiers = fsn.getSeq[org.apache.spark.sql.Row](fsn.fieldIndex("price_tiered"))
    assert(tiers.map(t => (t.getAs[Double]("lower"), t.getAs[Double]("upper"),
      t.getAs[Double]("price"))) ==
      Seq((0.0, 641.0, 0.006), (642.0, Double.PositiveInfinity, 0.0)))
    // ash resolves whether quoted by name or the Ashburn alias
    assert(prices.contains(("104", "ash")) && prices(("104", "ash")).getAs[Double]("price") == 0.0069)
  }

  test("zonal vendor: dynamic-key pivot, gpu gating, storage catalog") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    val dir = graft.TestDir("graft-pull-zonal")
    val v = new ZonalVendor
    val counts = Pull.pull(spark, v, Pull.parquetSink(dir))
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    // dev-lab is non-public: 3 regions, 1-1 dummy zones
    assert(counts("region") == 3 && counts("zone") == 3)
    assert(counts("server") == 6) // 7 plans minus the SPOT one
    // ondemand pivot: de-fra1 3 keys + us-chi1 2 (GPU gated: amount=0)
    // + fi-hel2 3 — the spot key and the spot-GPU key route elsewhere
    assert(counts("server_price") == 8)
    // storage keys resolve against the catalog: backup drops, 5 survive
    assert(counts("storage_price") == 5)
    assert(counts("traffic_price") == 4)  // 2 zones quote bandwidth × 2 dirs
    assert(counts("ipv4_price") == 3)

    // plan-name parsing: family mapping + GPU metadata off the rule tables
    val servers = sp.read.parquet(s"$dir/server")
      .collect().map(r => r.getAs[String]("name") -> r).toMap
    assert(servers("1xCPU-2GB").getAs[String]("family") == "General Purpose")
    assert(servers("HICPU-8xCPU-12GB").getAs[String]("family") == "High CPU")
    assert(servers("HICPU-8xCPU-12GB").getAs[String]("description") ==
      "High CPU (8 vCPUs, 12 GiB RAM)")
    val gpu = servers("GPU-8xCPU-64GB-1xL40S")
    assert(gpu.getAs[String]("gpu_model") == "L40S")
    assert(gpu.getAs[String]("gpu_family") == "Ada Lovelace")
    assert(gpu.getAs[Long]("gpu_memory_total") == 48L * 1024)
    assert(servers("CLOUDNATIVE-2xCPU-4GB").getAs[Int]("ipv4") == 0)

    // per-zone prices: cents → EUR, constant 672-hour cap tier
    val prices = sp.read.parquet(s"$dir/server_price").collect()
      .map(r => (r.getAs[String]("server_id"), r.getAs[String]("region_id")) -> r).toMap
    val fra = prices(("1xCPU-2GB", "de-fra1"))
    assert(fra.getAs[Double]("price") == 0.0149)
    val tiers = fra.getSeq[org.apache.spark.sql.Row](fra.fieldIndex("price_tiered"))
    assert(tiers.map(t => (t.getAs[Double]("lower"), t.getAs[Double]("upper"))) ==
      Seq((0.0, 672.0), (673.0, Double.PositiveInfinity)))
    // GPU plan present where devices exist, gated out where amount = 0
    assert(prices.contains(("GPU-8xCPU-64GB-1xL40S", "de-fra1")))
    assert(!prices.contains(("GPU-8xCPU-64GB-1xL40S", "us-chi1")))

    // spot: SPOT- strips after gating; spot GPU never matches availability
    val spot = v.inventoryServerPricesSpot(spark).collect()
      .map(r => (r.getAs[String]("server_id"), r.getAs[String]("region_id"))).toSet
    assert(spot == Set(("2xCPU-4GB", "de-fra1")))

    // storage billing: catalog-joined, gb_month conversion
    val storage = sp.read.parquet(s"$dir/storage_price").collect()
      .map(r => (r.getAs[String]("region_id"), r.getAs[String]("storage_id")) -> r.getAs[Double]("price")).toMap
    assert(storage(("de-fra1", "maxiops")) == 0.2232) // 0.031/100*24*30
    assert(!storage.contains(("de-fra1", "backup")))
  }

  test("catalog vendor: addon filtering, name-rule gpus, computed storage keys") {
    import org.apache.spark.sql.functions.col
    val sp = spark
    val dir = graft.TestDir("graft-pull-catalog")
    val v = new CatalogVendor
    val counts = Pull.pull(spark, v, Pull.parquetSink(dir))
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    // 12 catalog addons → 7 servers: monthly/windows/blob-less decoys drop,
    // the duplicate b3-8 dedups keep-last
    assert(counts("server") == 7)
    assert(counts("region") == 3)
    // one listed 3-zone region + two synthetic single-zone regions
    assert(counts("zone") == 5)
    // PAR 5 linux offers × 3 zones + BHS 2 × 1 + SGP 1 × 1; windows and
    // unknown-region offers drop
    assert(counts("server_price") == 18)
    // 3 storage products × 3 regions, every computed key resolves
    assert(counts("storage_price") == 9)

    val servers = sp.read.parquet(s"$dir/server")
      .collect().map(r => r.getAs[String]("name") -> r).toMap
    // keep-last dedupe: the revised b3-8 row (bandwidth 2000) won
    assert(servers("b3-8").getAs[Double]("network_speed") == 2.0)
    // name rule beats the blob: h100-760 → 760/380 = 2 × 80 GiB Hopper
    assert(servers("h100-760").getAs[Double]("gpu_count") == 2.0)
    assert(servers("h100-760").getAs[Long]("gpu_memory_total") == 2L * 80 * 1024)
    assert(servers("h100-760").getAs[String]("gpu_model") == "H100")
    // rule fires with no gpu blob at all: a10-45 → 45/45 = 1 × A10
    assert(servers("a10-45").getAs[Double]("gpu_count") == 1.0)
    assert(servers("a10-45").getAs[String]("gpu_model") == "A10")
    // no rule prefix → technical blob fallback
    assert(servers("gpu-custom-1").getAs[Double]("gpu_count") == 1.0)
    assert(servers("gpu-custom-1").getAs[String]("gpu_model") == "RTX 4000")
    // nvme disks replicate by number; storage disks classify by substring
    assert(servers("h100-760").getAs[Long]("storage_size") == 2L * 3840 + 200)
    assert(servers("i1-180").getAs[Long]("storage_size") == 4L * 1920)
    assert(servers("a10-45").getAs[String]("storage_type") == "ssd")
    assert(servers("c3-32").getAs[String]("storage_type") == "nvme_ssd")
    // discovery subtype shares cores; empty tag list deactivates
    assert(servers("d2-4").getAs[String]("cpu_allocation") == "shared")
    assert(servers("i1-180").getAs[String]("status") == "inactive")

    // synthetic zones for the zone-less regions
    val zones = sp.read.parquet(s"$dir/zone")
      .collect().map(_.getAs[String]("zone_id")).toSet
    assert(zones.contains("na-east-bhs-a") && zones.contains("ap-sgp-a"))

    // computed storage key: `.3AZ` exactly in the multi-zone region
    val storage = sp.read.parquet(s"$dir/storage_price").collect()
      .map(r => (r.getAs[String]("region_id"), r.getAs[String]("storage_id"))
        -> r.getAs[Double]("price")).toMap
    assert(storage(("EU-WEST-PAR", "classic")) == 0.06)  // 8220 microcents ×730
    assert(storage(("AP-SGP", "classic")) == 0.04)       // 5480 microcents ×730
    assert(storage(("EU-WEST-PAR", "high-speed-gen2")) == 0.24)

    // the unknown-region offer is surfaced, not silently lost
    val unknown = v.unknownRegionOffers(spark).collect()
    assert(unknown.length == 1 && unknown.head.getAs[String]("region_id") == "EU-CENTRAL-XX")

    // APAC-only tiered outbound traffic: 1 TiB free then overage
    val tr = sp.read.parquet(s"$dir/traffic_price")
      .filter(col("direction") === "out").collect()
      .map(r => r.getAs[String]("region_id") -> r).toMap
    val sgp = tr("AP-SGP").getSeq[org.apache.spark.sql.Row](
      tr("AP-SGP").fieldIndex("price_tiered"))
    assert(sgp.size == 2 && sgp.head.getAs[Double]("price") == 0.0)
    assert(tr("EU-WEST-PAR").getSeq[org.apache.spark.sql.Row](
      tr("EU-WEST-PAR").fieldIndex("price_tiered")).isEmpty)
  }

  test("zonal vendor fails loudly on a public zone without manual metadata") {
    val v = new ZonalVendor {
      override private[ingest] val regionMeta = Seq(
        ("de-fra1", "DE", "Frankfurt", 8.6821, 50.1109, 2017, true),
        ("us-chi1", "US", "Chicago", -87.6298, 41.8781, 2014, false))
    }
    val e = intercept[IllegalStateException] { v.inventoryRegions(spark) }
    assert(e.getMessage.contains("fi-hel2"))
  }

  test("meter vendor refuses a broken page chain") {
    val missingTail = MeterVendor.defaultPricePages.take(2) // link → absent page 3
    val e = intercept[IllegalArgumentException] {
      new MeterVendor(missingTail).inventoryRegions(spark).count()
    }
    assert(e.getMessage.contains("broken page chain"))
  }

  test("meter vendor validates its page chain once per session") {
    val v = new MeterVendor()
    val (_, first) = jobsOf(v.validatedPages(spark))
    assert(first > 0, "the first call must walk the chain")
    assert(jobsOf(v.validatedPages(spark))._2 == 0)
    val other = spark.newSession()
    assert(jobsOf(v.validatedPages(other))._2 > 0,
      "a new session must validate again")
    assert(jobsOf(v.validatedPages(other))._2 == 0)
  }

  test("sku vendor refuses an incomplete page chain") {
    // drop the tail page: remaining pages still declare TotalCount=6 but
    // only 4 rows parse — the batch analogue of a dangling NextPageToken
    val v = new SkuVendor {
      override private[ingest] def serverSkuPages = super.serverSkuPages.init
    }
    val e = intercept[IllegalArgumentException] {
      v.inventoryServerPrices(spark).count()
    }
    assert(e.getMessage.contains("SKU page chain incomplete"))
  }

  test("metadata sink: versioned key/value upsert on Derby (K6)") {
    val sp = spark
    val url = "jdbc:derby:memory:metatest;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    c.createStatement().execute(graft.sinks.DdlGen.createTable("_metadata",
      Schemas.tables("_metadata")._1, Seq("key"), graft.sinks.DdlGen.Derby))
    c.close()
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    graft.sinks.MetadataSink.write(
      graft.sinks.MetadataSink.rows(sp, "1.0.0", ts1, Some("ci-run-1"),
        Seq("license" -> "MPL-2.0", "license" -> "BSL")), // later dup wins
      url, graft.sinks.DdlGen.Derby, ts1)
    graft.sinks.MetadataSink.write(
      graft.sinks.MetadataSink.rows(sp, "1.0.1", ts2), url, graft.sinks.DdlGen.Derby, ts2)
    val c2 = java.sql.DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery(
      """SELECT "KEY", "VALUE" FROM "_METADATA" ORDER BY "KEY"""")
    val out = Iterator.continually(rs).takeWhile(_.next())
      .map(r => r.getString(1) -> r.getString(2)).toMap
    c2.close()
    assert(out("sc_version") == "1.0.1") // second release merged over first
    assert(out("license") == "BSL")
    assert(out("published_by") == "ci-run-1") // untouched by second write
    assert(out.size == 4)
  }

  test("pull is idempotent per PK (keep-last dedup)") {
    val sp = spark; import sp.implicits._
    val v = new DemoVendor {
      override def inventoryIpv4Prices(spark: org.apache.spark.sql.SparkSession) = {
        import spark.implicits._
        // duplicate PK rows: last occurrence must win
        Seq(("dc-east", 0.004), ("dc-east", 0.006))
          .toDF("region_id", "price")
          .withColumn("vendor_id", org.apache.spark.sql.functions.lit("demo"))
          .withColumn("unit", org.apache.spark.sql.functions.lit("hour"))
          .withColumn("currency", org.apache.spark.sql.functions.lit("USD"))
      }
    }
    val dir = graft.TestDir("graft-pull2")
    Pull.pull(spark, v, Pull.parquetSink(dir))
    val rows = spark.read.parquet(s"$dir/ipv4_price")
      .select("region_id", "price").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows("dc-east") == 0.006)
  }

  test("sku vendor: alias-resolved sku prices, availability annotation, gpu spec rules") {
    val sp = spark
    val dir = graft.TestDir("graft-pull-sku")
    val v = new SkuVendor
    val counts = Pull.pull(spark, v, Pull.parquetSink(dir))
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    assert(counts("region") == 3 && counts("zone") == 5)
    assert(counts("server") == 8)
    // 6 SKU rows: one quotes an unknown internal region (skipped), the 5
    // resolved ones fan out to their region's zones (2+2+2+2+1)
    assert(counts("server_price") == 9)
    assert(counts("storage") == 7)
    // 10 storage SKUs: PLX + non-PL1 flat + unknown region drop → 7
    assert(counts("storage_price") == 7)
    assert(counts("traffic_price") == 6 && counts("ipv4_price") == 3)

    // availability ANNOTATES instead of gating: rows survive inactive
    val prices = sp.read.parquet(s"$dir/server_price").collect()
      .map(r => (r.getAs[String]("region_id"), r.getAs[String]("zone_id"),
        r.getAs[String]("server_id")) -> r).toMap
    assert(prices(("hz-north", "hz-north-a", "ecs.g7.large"))
      .getAs[String]("status") == "active")
    assert(prices(("hz-north", "hz-north-b", "ecs.g7.large"))
      .getAs[String]("status") == "inactive") // not listed in that zone
    assert(prices(("hz-north", "hz-north-a", "ecs.t6.large"))
      .getAs[String]("status") == "inactive") // ClosedWithStock ≠ WithStock
    assert(prices(("us-east", "us-east-b", "ecs.gn8v.48xlarge"))
      .getAs[String]("status") == "active")
    assert(prices(("us-east", "us-east-b", "ecs.gn8v.48xlarge"))
      .getAs[Double]("price") == 12.708)
    assert(!prices.keySet.exists(_._1.startsWith("ap-south"))) // unknown skipped

    // spot: only quotes carrying the preemptible-discount rule survive,
    // priced from the instanceType detail line
    val spot = v.inventoryServerPricesSpot(spark).collect()
      .map(r => (r.getAs[String]("zone_id"), r.getAs[String]("server_id")) ->
        r.getAs[Double]("price")).toMap
    assert(spot == Map(("us-east-b", "ecs.gn8v.48xlarge") -> 3.812,
      ("us-east-a", "ecs.g7.large") -> 0.049))

    // GPU spec rules + the count-dependent memory-total semantics
    val servers = sp.read.parquet(s"$dir/server").collect()
      .map(r => r.getAs[String]("server_id") -> r).toMap
    val frac = servers("ecs.sgn7i.2xlarge") // "A10*1/12" → 0.0833, total = GPUMemorySize
    assert(frac.getAs[Double]("gpu_count") == 0.0833)
    assert(frac.getAs[Long]("gpu_memory_total") == 2048L)
    assert(frac.getAs[String]("gpu_model") == "A10")
    val multi = servers("ecs.gn8v.48xlarge") // 8 GPUs → per-GPU semantics
    assert(multi.getAs[Long]("gpu_memory_min") == 48L * 1024)
    assert(multi.getAs[Long]("gpu_memory_total") == 8 * 48L * 1024)
    assert(multi.getAs[String]("gpu_model") == "L20") // rule keeps the model
    assert(multi.getAs[String]("gpu_family") == "Ada Lovelace")
    val internal = servers("ecs.gi7s.16xlarge") // internal name G49
    assert(internal.getAs[Double]("gpu_count") == 4.0)
    assert(internal.getAs[String]("gpu_model") == null)
    assert(internal.getAs[String]("gpu_family") == "Ada Lovelace")
    assert(internal.getAs[String]("gpu_manufacturer") == "NVIDIA")

    // burstable beats the Shared category check; ARM maps; local storage
    // converts GiB → GB truncated
    assert(servers("ecs.t6.large").getAs[String]("cpu_allocation") == "burstable")
    assert(servers("ecs.s6.small").getAs[String]("cpu_allocation") == "shared")
    assert(servers("ecs.g7.large").getAs[String]("cpu_allocation") == "dedicated")
    val arm = servers("ecs.i4.4xlarge")
    assert(arm.getAs[String]("cpu_architecture") == "arm64")
    assert(arm.getAs[Long]("storage_size") == 3839L) // int(2*1788 GiB → GB)
    assert(arm.getAs[String]("storage_type") == "ssd")
    // server status: WithStock anywhere → active
    assert(servers("ecs.g7.large").getAs[String]("status") == "active")
    assert(servers("ecs.t6.large").getAs[String]("status") == "inactive")
    assert(servers("ecs.i4.4xlarge").getAs[String]("status") == "inactive")

    // bandwidth weighting (pre-conform frame carries the extended fields)
    val g7 = v.inventoryServers(spark).collect()
      .map(r => r.getAs[String]("server_id") -> r).toMap.apply("ecs.g7.large")
    assert(g7.getAs[Double]("network_speed") == 1.2)
    assert(g7.getAs[Double]("network_speed_max") == 5.0)
    assert(g7.getAs[Long]("network_storage_speed_baseline") == 2000L)
    assert(g7.getAs[Long]("network_storage_speed_max") == 4000L)

    // storage SKU filter + hourPrice conversion
    val storage = sp.read.parquet(s"$dir/storage_price").collect()
      .map(r => (r.getAs[String]("region_id"), r.getAs[String]("storage_id")) ->
        r.getAs[Double]("price")).toMap
    assert(storage(("hz-north", "cloud_essd-pl0")) == 0.0001 * 730)
    assert(storage(("hz-north", "cloud_essd-pl3")) == 0.1956)
    assert(storage(("us-east", "cloud_ssd")) == 0.0953)
    assert(!storage.contains(("hz-north", "cloud_essd-plx")))

    // traffic: first POSITIVE tier wins; inbound free
    val traffic = sp.read.parquet(s"$dir/traffic_price").collect()
      .map(r => (r.getAs[String]("region_id"), r.getAs[String]("direction")) ->
        r.getAs[Double]("price")).toMap
    assert(traffic(("hz-north", "out")) == 0.076)
    assert(traffic(("hz-north", "in")) == 0.0)
  }

  test("override vendor: field-level location overrides, fractional gpus, gated storage") {
    val sp = spark
    val dir = graft.TestDir("graft-pull-override")
    val v = new OverrideVendor
    val counts = Pull.pull(spark, v, Pull.parquetSink(dir))
    assert(counts.keySet == Schemas.tables.keySet - "_metadata")
    assert(counts("region") == 3 && counts("zone") == 3)
    assert(counts("server") == 8) // 6 virtual + 2 metal, one unioned parse
    assert(counts("server_price") == 12) // ondemand fan-out over locations
    assert(counts("storage") == 2)
    // options-gated: ams sells both block products, ewr one, sgp none
    assert(counts("storage_price") == 3)
    assert(counts("traffic_price") == 6 && counts("ipv4_price") == 3)

    def tiers(r: org.apache.spark.sql.Row) =
      r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("price_tiered"))
        .map(t => (t.getAs[Double]("lower"), t.getAs[Double]("upper"),
          t.getAs[Double]("price")))

    // field-level override precedence inside the fan-out: sgp overrides
    // the ondemand pair, the other regions keep the base; the monthly cap
    // derives from whichever pair won (16.0/0.024 → 666 vs 12.0/0.018)
    val od = sp.read.parquet(s"$dir/server_price").collect()
      .map(r => (r.getAs[String]("server_id"), r.getAs[String]("region_id")) -> r).toMap
    assert(od(("vc2-2c-4gb", "ams")).getAs[Double]("price") == 0.018)
    val sgp = od(("vc2-2c-4gb", "sgp"))
    assert(sgp.getAs[Double]("price") == 0.024)
    assert(tiers(sgp) == Seq((0.0, 666.0, 0.024),
      (667.0, Double.PositiveInfinity, 0.0)))

    // zero-price plan survives with an EMPTY tier chain
    val free = od(("vc2-1c-0.5gb-free", "ams"))
    assert(free.getAs[Double]("price") == 0.0 && tiers(free).isEmpty)

    // partial spot override: ewr's map entry only carries the spot pair,
    // so ewr overrides while ams falls back to the base, field by field
    val spot = v.inventoryServerPricesSpot(spark).collect()
      .map(r => (r.getAs[String]("server_id"), r.getAs[String]("region_id")) -> r).toMap
    assert(spot.keySet == Set(("vhf-4c-16gb", "ams"), ("vhf-4c-16gb", "ewr")))
    assert(spot(("vhf-4c-16gb", "ams")).getAs[Double]("price") == 0.019)
    assert(spot(("vhf-4c-16gb", "ewr")).getAs[Double]("price") == 0.017)

    // fractional GPU counts: "1/2" string fraction, vram ratio, and the
    // manual metal fallback for API rows with no GPU fields at all
    val servers = sp.read.parquet(s"$dir/server").collect()
      .map(r => r.getAs[String]("server_id") -> r).toMap
    val half = servers("vcg-l40s-12c-100g-24vram")
    assert(half.getAs[Double]("gpu_count") == 0.5)
    assert(half.getAs[Long]("gpu_memory_min") == 24L * 1024) // min(48, 24) GiB
    val ratio = servers("vcg-a16-2c-8g-2vram")
    assert(ratio.getAs[Double]("gpu_count") == 0.125) // 2 GiB of a 16 GiB card
    assert(ratio.getAs[String]("gpu_model") == "A16")
    val metal = servers("vdm-mi300x-96c-1536gb-1536vram")
    assert(metal.getAs[Double]("gpu_count") == 8.0)
    assert(metal.getAs[String]("gpu_manufacturer") == "AMD")
    assert(metal.getAs[String]("gpu_family") == "CDNA3")
    assert(metal.getAs[Long]("gpu_memory_total") == 1536L * 1024)

    // which CPU field exists decides the allocation; iterative prefix strip
    assert(metal.getAs[String]("cpu_allocation") == "dedicated")
    assert(metal.getAs[String]("cpu_model") == "9334")
    assert(metal.getAs[String]("cpu_family") == "EPYC")
    val vbm = servers("vbm-24c-256gb")
    assert(vbm.getAs[String]("cpu_model") == "6448H")
    assert(vbm.getAs[String]("cpu_family") == "Xeon")
    assert(vbm.getAs[Int]("vcpus") == 48) // threads fill vcpus for metal
    assert(servers("vc2-2c-4gb").getAs[String]("cpu_allocation") == "shared")
    assert(servers("vc2-1c-0.5gb-v6").getAs[Int]("ipv4") == 0)
    assert(servers("vc2-1c-0.5gb-free").getAs[String]("status") == "inactive")

    // options-gated storage pricing joins the static catalog
    val storage = sp.read.parquet(s"$dir/storage_price").collect()
      .map(r => (r.getAs[String]("region_id"), r.getAs[String]("storage_id")) ->
        r.getAs[Double]("price")).toMap
    assert(storage.keySet.map(_._1) == Set("ams", "ewr"))
    assert(storage(("ams", "block_storage_storage_opt")) == 0.025)
    assert(storage(("ewr", "block_storage_high_perf")) == 0.10)
  }
}
