package graft

import graft.ingest.SeedTables
import graft.ops.{CanonicalJson, Checkpoint, HashDiff, ParquetOpen}
import graft.ops.Checkpoint.Releasables._
import graft.schema.Schemas
import graft.sinks.{DdlGen, Upsert}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.sql.DriverManager

import scala.util.Using

/** End-to-end lifecycle demo main mirroring the reference's `pull` + `sync`
  * entry points (SURVEY §3.1-3.2) against embedded Derby:
  *
  *   seeds → validate/conform → DDL create → bulk upsert (K1)
  *   → second run with changed rows → row hashes (A10) → snapshot diff (E1)
  *   → soft-delete sweep (K3) → re-upsert → SCD twin append.
  *
  * Run: `sbt "runMain graft.Pipeline"` — prints a stage-by-stage summary.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    // one per-run root with a subdir per stage output, removed after the
    // session stops, even when a stage assert fails
    Using.resource(Checkpoint.tempDir("graft-pipeline")) { root =>
      def stageDir(name: String): String =
        java.nio.file.Files.createDirectory(root.resolve(name)).toString
      Using.resource(Harness.session(Harness.cpus))(run(_, stageDir))
    }
  }

  private def run(spark: SparkSession, stageDir: String => String): Unit = {
    val url = "jdbc:derby:memory:graftdemo;create=true"
    val conn = DriverManager.getConnection(url)
    val tables = Seq("country", "compliance_framework")
    tables.foreach { t =>
      val (schema, pks) = Schemas.tables(t)
      conn.createStatement().execute(DdlGen.createTable(t, schema, pks, DdlGen.Derby))
      conn.createStatement().execute(
        DdlGen.createTable(s"${t}_scd", schema, Schemas.scdKey(t), DdlGen.Derby))
    }
    conn.close()
    println(s"[pipeline] created ${tables.size} tables + scd twins (Derby)")

    // ---- run 1: seed upsert (stable observed_at for idempotent demo)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val countries = SeedTables.countries(spark).withColumn("observed_at", lit(t0))
    Upsert.writeJdbc(countries, url, "country", Seq("country_id"), DdlGen.Derby)
    println(s"[pipeline] upserted ${countries.count()} countries")

    // ---- run 2: a changed row + a new row + a vanished row
    val changed = countries
      .withColumn("continent",
        when(col("country_id") === "US", lit("NORTH AMERICA")).otherwise(col("continent")))
      .filter(col("country_id") =!= "ZA")
      .unionByName(countries.filter(col("country_id") === "US")
        .withColumn("country_id", lit("XX")))

    // ---- hash + diff (A10 + E1) via the native canonical_json expression
    graft.plans.GraftExtensions.register(spark)
    val oldH = CanonicalJson.tableHashNative(countries, Seq("country_id"))
    val newH = CanonicalJson.tableHashNative(changed, Seq("country_id"))
    val diff = HashDiff.diff(newH, oldH, Seq("country_id"))
    val byChange = diff.groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"[pipeline] diff: $byChange")
    assert(byChange.get("new").contains(1L), "expected 1 new row (XX)")
    assert(byChange.get("update").contains(1L), "expected 1 updated row (US)")
    assert(byChange.get("deleted").contains(1L), "expected 1 deleted row (ZA)")

    // ---- sync orchestrator (§3.2): same comparison, one call
    val syncStamp = lit(java.sql.Timestamp.valueOf("2026-02-01 00:00:00"))
    val syncR = graft.ops.Sync.sync(changed, countries, Seq("country_id"), syncStamp)
    println(s"[pipeline] sync: stats=${syncR.stats} standard_rows=${syncR.standard.count()}")
    assert(syncR.stats == byChange && syncR.standard.count() == 3)

    // ---- soft-delete sweep + re-upsert (K3 + K1)
    val swept = HashDiff.softDeleteSweep(countries, changed, Seq("country_id"))
      .filter(col("status") === "inactive")
    val merged = changed.unionByName(swept)
    Upsert.writeJdbc(merged, url, "country", Seq("country_id"), DdlGen.Derby)

    // ---- SCD append: the sync's version-stamped change set (new + update
    //      + deleted, reference cli.py:587-597) upserted into the twin
    Upsert.writeJdbc(syncR.scd, url, "country_scd", Schemas.scdKey("country"), DdlGen.Derby)

    // ---- verify final DB state through JDBC read-back
    val c2 = DriverManager.getConnection(url)
    def q(sql: String): Long = {
      val rs = c2.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    }
    val total = q("SELECT COUNT(*) FROM country")
    val inactive = q("SELECT COUNT(*) FROM country WHERE status = 'inactive'")
    val us = {
      val rs = c2.createStatement()
        .executeQuery("SELECT continent FROM country WHERE country_id = 'US'")
      rs.next(); rs.getString(1)
    }
    val scd = q("SELECT COUNT(*) FROM country_scd")
    c2.close()
    println(s"[pipeline] final: $total countries ($inactive inactive), US → $us, $scd scd rows")
    // 3 scd rows: new XX + updated US + deleted ZA (all versioned)
    assert(total == 40 && inactive == 1 && us == "NORTH AMERICA" && scd == 3)

    vendorStage(spark, url)
    pullStage(spark, url, stageDir)
    streamingStage(spark)
    multimodalStage(spark)
    curationTailStage(spark, stageDir)
    retrievalStage(spark, stageDir)
    println("[pipeline] OK")
  }

  /** Retrieval stage (round-8 continuation): the serving-side story —
    * hybrid BM25 + dense RRF fusion over the same corpus the curation
    * tail produced, plus the novelty gate a pipeline applies before
    * admitting a batch near an eval set. */
  private def retrievalStage(spark: SparkSession, stageDir: String => String): Unit = {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val lex = graft.text.Bm25.topK(docs.filter(col("doc_id") < 5), docs,
        "doc_id", "text", k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = graft.similarity.Cosine.topK(emb.filter(col("vec_id") < 5),
        emb, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val fused = graft.retrieval.Fusion.rrf(Seq(lex, dense), "query_id",
      "doc_id", "rank", topK = 5)
    val nFused = fused.count()
    // <= not ==: a sparse/regenerated corpus may give a probe query fewer
    // than 5 scored docs — that's a degraded count, not a broken stage
    assert(nFused > 0 && nFused <= 25,
      s"fusion emitted $nFused rows, expected 1..25 (5 queries × ≤5)")
    val bucket = graft.text.TextAnalysis.splitBucket(col("doc_id"))
    val novel = graft.text.Decontaminate.noveltyScores(docs, "doc_id", "text", 8,
        trainPred = bucket < 80, testPred = bucket >= 90)
      .filter(col("overlap_ppm") < 500000).count()
    assert(novel > 0, "novelty gate rejected the whole corpus")
    println(s"[pipeline] retrieval: hybrid fused top-5 for 5 queries " +
      s"($nFused rows), novelty gate kept $novel train docs")

    // round 9: MMR-diversify the fused list (serving tail) — candidates
    // are the fused docs with their vectors and dense query-sim
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        graft.similarity.Cosine.toDouble(col("embedding")).as("qv"))
    val cand = fused.select(col("query_id"), col("doc_id"))
      .join(emb.select(col("vec_id").as("doc_id"),
        graft.similarity.Cosine.toDouble(col("embedding")).as("v")), "doc_id")
      .join(q, "query_id")
      .select(col("query_id"), col("doc_id"), col("v"),
        round(graft.similarity.Cosine.cosine(col("qv"), col("v"),
          graft.similarity.Cosine.normSq(col("qv")),
          graft.similarity.Cosine.normSq(col("v"))) * 1000000, 0)
          .cast("long").as("qsim_micro"))
    val reranked = graft.retrieval.Mmr.rerank(cand, k = 3)
    val nRr = reranked.count()
    assert(nRr > 0 && nRr <= 15, s"mmr emitted $nRr rows, expected 1..15")

    // round 10: segmented streaming index maintenance — two waves fold
    // into a stored BM25 index; the served search must see BOTH
    val idxDir = stageDir("idx")
    val sink = graft.streaming.StreamingIndexMaintenance
      .indexSink(spark, idxDir, "doc_id", "text") _
    sink(docs.filter(col("doc_id") % 2 === 0), 0L)
    sink(docs.filter(col("doc_id") % 2 =!= 0), 1L)
    val latest = graft.streaming.StreamingIndexMaintenance.readLatest(spark, idxDir)
    val served = graft.text.Bm25.searchIndex(docs.filter(col("doc_id") < 3),
      latest, "doc_id", "text", k = 5)
    assert(graft.streaming.Segments.highWater(idxDir) == 1L)
    // deterministic wave check: the INDEX must contain docs from both
    // waves (search-result parity would be data-dependent — the same
    // flakiness class the fusion assert above was relaxed for)
    val idxParity = latest.doclen.select((col("did") % 2).as("p")).distinct().count()
    assert(idxParity == 2, s"index missing a wave: $idxParity parities in doclen")
    val nServed = served.count()
    assert(nServed > 0, "versioned index served nothing")

    // round 11: DELETE mid-lifecycle — the transition no spec crossed
    // before: tombstone a doc the streamed index is actively serving,
    // assert it vanishes from the served top-k (soft delete — stored
    // segments untouched), compact the tombstone away, re-append
    // the same doc, and assert it serves again at its original spot
    // (delete + append ≡ rebuild bit-for-bit, so the round trip restores
    // the exact index)
    val top = served.orderBy(col("query_id"), col("rank"))
      .select(col("query_id"), col("doc_id")).first()
    val (probeId, target) = (top.getLong(0), top.getLong(1))
    val probe = docs.filter(col("doc_id") === probeId)
    val tombDf = docs.filter(col("doc_id") === target).select(col("doc_id"))
    val delIdx = graft.text.Bm25.deleteFromIndex(tombDf, latest, "doc_id")
    val goneN = graft.text.Bm25.searchIndex(probe, delIdx, "doc_id", "text", k = 5)
      .filter(col("doc_id") === target).count()
    assert(goneN == 0, s"tombstoned doc $target still served")
    val cmpDir = stageDir("cmp")
    graft.text.Bm25.writeIndex(delIdx, cmpDir) // compaction makes it durable
    graft.text.Bm25.release(delIdx)
    val reAdded = graft.text.Bm25.appendToIndex(
      docs.filter(col("doc_id") === target),
      graft.text.Bm25.readIndex(spark, cmpDir), "doc_id", "text")
    val backN = graft.text.Bm25.searchIndex(probe, reAdded, "doc_id", "text", k = 5)
      .filter(col("doc_id") === target).count()
    assert(backN == 1, s"re-appended doc $target did not return to the top-k")
    graft.text.Bm25.release(reAdded)

    // round 10: representative-only serving — build the rep state over
    // one half, fold the other half incrementally, persist, search from
    // the stored form; the index must hold at most one row-set per
    // cluster (reps only), never the raw corpus
    // the stage's caches are released when it ends, so later pipeline
    // stages don't run under its storage pressure
    Using.Manager { use =>
      def sharrOf(df: org.apache.spark.sql.DataFrame) =
        use(graft.dedup.MinHash.hashedShingleArray(df, "doc_id", "text", 2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val st0 = graft.dedup.RepIndex.build(
        sharrOf(docs.filter(col("doc_id") % 2 === 0)), "doc_id")
      val st1 = use(graft.dedup.RepIndex.append(
        sharrOf(docs.filter(col("doc_id") % 2 =!= 0)), st0, "doc_id"))
      val repDir = stageDir("rep")
      graft.dedup.RepIndex.write(st1, repDir)
      val repState = graft.dedup.RepIndex.read(spark, repDir)
      val nDocs = repState.labels.count()
      val nReps = repState.sharr.select(col("doc_id")).count()
      assert(nDocs == docs.count(), s"rep labels cover $nDocs of ${docs.count()}")
      assert(nReps <= nDocs, s"reps $nReps exceed corpus $nDocs")
      val probeSharr = sharrOf(docs.filter(col("doc_id") < 3))
      val repHits = graft.dedup.RepIndex.search(
        probeSharr, repState, "doc_id").count()
      // round 11: the pruned stored-search path must serve the same rows
      // as the canonical read+search (pbucket is a pure function of
      // band_hash — the partition columns only prune the scan)
      val prunedHits = graft.dedup.RepIndex.searchStored(spark,
        probeSharr, repDir, "doc_id").count()
      assert(prunedHits == repHits,
        s"pruned stored search served $prunedHits rows, canonical $repHits")
      // round 11: rep-index delete over the stored form — tombstoning a
      // rep re-roots its cluster and promotes from the cold member store
      val tombRep = repState.sharr.select(col("doc_id"))
        .orderBy(col("doc_id")).limit(1)
      val delState = use(graft.dedup.RepIndex.delete(tombRep, repState, "doc_id"))
      val nAfterDel = delState.labels.count()
      assert(nAfterDel == nDocs - 1,
        s"delete left $nAfterDel labels, expected ${nDocs - 1}")
      println(s"[pipeline] serving: MMR reranked $nRr rows; segmented index " +
        s"holds both waves ($nServed hits for 3 probes; delete/re-append " +
        s"round-tripped doc $target); rep index $nReps reps / $nDocs docs " +
        s"($repHits rep hits, pruned search equal, delete re-rooted)")
    }.get
  }

  /** Curation tail (round 8): paragraph dedup against a persisted block
    * index, then shard materialization with manifests — the last mile of
    * a training-data pipeline, driven end-to-end on real testdata. */
  private def curationTailStage(spark: SparkSession, stageDir: String => String): Unit = {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val idx = graft.text.TextAnalysis.blockIndex(old, "doc_id", "text", 20)
    val deduped = graft.text.TextAnalysis.blockDedupAgainstBloom(
      batch, idx, "doc_id", "text", 20)
    val survivors = deduped.filter(col("n_kept") > 0)
      .select(col("doc_id"), col("text_clean").as("text"))
    val nIn = batch.count(); val nOut = survivors.count()
    assert(nOut > 0 && nOut <= nIn, s"curation tail lost the corpus: $nIn -> $nOut")
    val outDir = stageDir("shards")
    graft.ops.Sharding.shardedWrite(survivors, "doc_id", outDir, nShards = 4)
    val manifest = graft.ops.Sharding.manifest(survivors, "doc_id", "text", 4)
      .collect()
    val written = ParquetOpen(spark, outDir).count()
    assert(written == nOut, s"shard write dropped rows: $nOut -> $written")
    assert(manifest.map(_.getLong(1)).sum == nOut)
    println(s"[pipeline] curation tail: $nIn batch docs -> $nOut kept, " +
      s"4 shards (docs per shard: ${manifest.map(_.getLong(1)).mkString("/")})")
  }

  /** Vendor-inventory stage (reference §3.1 `inventory_server_prices`):
    * raw priced-product payloads → terms-JSON price extraction (P6) →
    * region alias resolution (J1) → zone fan-out (J3) → instance
    * annotation (P3) → conform to the server_price schema (P1) → upsert. */
  private def vendorStage(spark: SparkSession, url: String): Unit = {
    import spark.implicits._
    import graft.ingest.VendorIngest
    import graft.schema.Validate

    val conn2 = DriverManager.getConnection(url)
    val (spSchema, spPks) = Schemas.tables("server_price")
    conn2.createStatement().execute(
      DdlGen.createTable("server_price", spSchema, spPks, DdlGen.Derby))
    conn2.close()

    def terms(p: String) =
      s"""{"OnDemand": {"t": {"priceDimensions": {"d": {"pricePerUnit": {"USD": "$p"}}}}}}"""
    val products = Seq(
      ("m5.large", "US East", terms("0.096")),
      ("m5d.2xlarge", "us-east-1", terms("0.452")),
      ("r6g.large", "EU Dublin", terms("0.1008"))).toDF("instance_type", "location", "terms")
    val regions = Seq(
      ("us-east-1", Seq("N. Virginia", "US East")),
      ("eu-west-1", Seq("EU Dublin"))).toDF("name", "aliases")
      .withColumn("region_id", col("name"))
    val offerings = Seq(
      ("m5.large", "us-east-1", "use1-az1"), ("m5.large", "us-east-1", "use1-az2"),
      ("m5d.2xlarge", "us-east-1", "use1-az1"), ("r6g.large", "eu-west-1", "euw1-az3"))
      .toDF("instance_type", "region_id", "zone_id")

    val priced = VendorIngest.joinRegionByAlias(products, regions, "location")
      .withColumn("price", VendorIngest.extractOnDemandPrice(col("terms")))
      .withColumn("currency", VendorIngest.extractCurrency(col("terms")))
    val fanned = VendorIngest.zoneFanout(priced, offerings)
      .withColumn("anno", VendorIngest.annotateInstanceType(col("instance_type")))
      .select(lit("aws").as("vendor_id"), col("region_id"), col("zone_id"),
        col("instance_type").as("server_id"), lit("linux").as("operating_system"),
        lit("ondemand").as("allocation"), lit("hour").as("unit"),
        col("price"), col("currency"), col("anno.description").as("__desc"))
    val conformed = Validate.conform(fanned, spSchema,
      Map("status" -> "active"))
      .withColumn("observed_at", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    val (valid, invalid) = Validate.partition(conformed, spSchema)
    Upsert.writeJdbc(valid, url, "server_price", spPks, DdlGen.Derby)

    val c3 = DriverManager.getConnection(url)
    val rs = c3.createStatement().executeQuery(
      "SELECT COUNT(*), MIN(price), MAX(price) FROM server_price")
    rs.next()
    val (n, minP, maxP) = (rs.getLong(1), rs.getDouble(2), rs.getDouble(3))
    c3.close()
    println(s"[pipeline] vendor: $n server_price rows (invalid=${invalid.count()}), " +
      s"price range $minP..$maxP")
    assert(n == 4 && minP == 0.096 && maxP == 0.452)
  }

  /** Full `pull` over the 13-record-type vendor contract (reference §3.1)
    * through the conform→dedup→sink orchestrator, followed by the
    * workload-score recompute over the freshly-written benchmark scores
    * (the reference's final pull step) and the `_metadata` release-info
    * upsert (K6, `cli.py:242-319`). */
  private def pullStage(spark: SparkSession, url: String,
                        stageDir: String => String): Unit = {
    import spark.implicits._
    val dir = stageDir("pull")
    val counts = graft.ingest.Pull.pull(spark, new graft.ingest.DemoVendor,
      graft.ingest.Pull.parquetSink(dir))
    println(s"[pipeline] pull: ${counts.size} record types, " +
      s"${counts.values.sum} rows (server_price=${counts("server_price")})")
    assert(counts.size == 19 && counts("server_price") == 4)

    // second concrete vendor: nested machine-type / SKU JSON payloads
    // (GCP-shaped) through the SAME orchestrator and sinks
    val gridDir = stageDir("grid")
    val gridCounts = graft.ingest.Pull.pull(spark, new graft.ingest.GridVendor,
      graft.ingest.Pull.parquetSink(gridDir))
    println(s"[pipeline] grid pull: ${gridCounts.size} record types, " +
      s"servers=${gridCounts("server")} prices=${gridCounts("server_price")}")
    assert(gridCounts.size == 19 && gridCounts("server") == 5)

    // third concrete vendor: paginated retail-price meters with O2 tier
    // chains (Azure-shaped) through the SAME orchestrator and sinks
    val meterDir = stageDir("meter")
    val meterCounts = graft.ingest.Pull.pull(spark, new graft.ingest.MeterVendor,
      graft.ingest.Pull.parquetSink(meterDir))
    val meterTiers = ParquetOpen(spark, s"$meterDir/storage_price")
      .select(explode(col("price_tiered"))).count()
    println(s"[pipeline] meter pull: ${meterCounts.size} record types, " +
      s"prices=${meterCounts("server_price")} storage_tiers=$meterTiers")
    assert(meterCounts.size == 19 && meterCounts("server_price") == 9 && meterTiers == 5)

    // fourth concrete vendor: SDK-typed server types with paired
    // hourly/monthly quotes → monthly-cap tiers (Hetzner-shaped)
    val capDir = stageDir("cap")
    val capCounts = graft.ingest.Pull.pull(spark, new graft.ingest.CapVendor,
      graft.ingest.Pull.parquetSink(capDir))
    val capZero = ParquetOpen(spark, s"$capDir/server_price")
      .select(explode(col("price_tiered")).as("t"))
      .filter(col("t.price") === 0.0).count()
    println(s"[pipeline] cap pull: ${capCounts.size} record types, " +
      s"prices=${capCounts("server_price")} zero-priced-cap-tiers=$capZero")
    assert(capCounts.size == 19 && capCounts("server_price") == 4 && capZero == 4)

    // fifth concrete vendor: per-zone price list with dynamic attribute
    // keys + separate storage-billing catalog (UpCloud-shaped)
    val zonalDir = stageDir("zonal")
    val zonalCounts = graft.ingest.Pull.pull(spark, new graft.ingest.ZonalVendor,
      graft.ingest.Pull.parquetSink(zonalDir))
    println(s"[pipeline] zonal pull: ${zonalCounts.size} record types, " +
      s"prices=${zonalCounts("server_price")} storage_prices=${zonalCounts("storage_price")}")
    assert(zonalCounts.size == 19 && zonalCounts("server_price") == 8 &&
      zonalCounts("storage_price") == 5)

    // sixth concrete vendor: one commerce catalog with nested addon blobs,
    // GPU specs inferred from flavor names, computed storage keys
    // (OVH-shaped)
    val catDir = stageDir("catalog")
    val catCounts = graft.ingest.Pull.pull(spark, new graft.ingest.CatalogVendor,
      graft.ingest.Pull.parquetSink(catDir))
    val catGpus = ParquetOpen(spark, s"$catDir/server")
      .agg(sum(col("gpu_count"))).collect().head.getDouble(0)
    println(s"[pipeline] catalog pull: ${catCounts.size} record types, " +
      s"servers=${catCounts("server")} prices=${catCounts("server_price")} " +
      s"storage_prices=${catCounts("storage_price")} gpus=$catGpus")
    assert(catCounts.size == 19 && catCounts("server") == 7 &&
      catCounts("server_price") == 18 && catCounts("storage_price") == 9 &&
      catGpus == 4.0)

    // recompute workload scores from the written benchmark_score table
    val scores = ParquetOpen(spark, s"$dir/benchmark_score")
      .filter(col("status") === "active")
      .select(concat_ws("/", col("vendor_id"), col("server_id")).as("unit_id"),
        col("benchmark_id"), col("score"))
    val entries = graft.analytics.WorkloadScores.entriesDf(spark, Seq(
      ("mem_bandwidth", 0, "bw_mem:rd", 2.0, true, "ignore", 1e-4),
      ("mem_bandwidth", 1, "bw_mem:wr", 1.0, true, "ignore", 1e-4)))
    val wl = graft.analytics.WorkloadScores.compute(scores, entries, Seq("unit_id"),
      withBreakdown = true)
    val row = wl.collect().head
    val comps = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("breakdown"))
    println(s"[pipeline] workload recompute: ${wl.count()} composite rows, " +
      s"score=${row.getAs[Double]("score")} components=${comps.size} " +
      s"shares=${comps.map(_.getAs[Double]("weight_share")).sum}")
    assert(wl.count() == 1 && comps.size == 2 &&
      math.abs(comps.map(_.getAs[Double]("weight_share")).sum - 1.0) < 1e-12)

    // K6: metadata release info — 2-column upsert on key (cli.py:242-319);
    // the second write merges (updates published_at, keeps key count)
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    val c = DriverManager.getConnection(url)
    c.createStatement().execute(DdlGen.createTable(
      graft.sinks.MetadataSink.Table, Schemas.tables(graft.sinks.MetadataSink.Table)._1,
      Seq("key"), DdlGen.Derby))
    c.close()
    graft.sinks.MetadataSink.write(
      graft.sinks.MetadataSink.rows(spark, "0.1.0", ts1,
        publishedBy = Some("pipeline-demo"), extra = Seq("license" -> "MPL-2.0")),
      url, DdlGen.Derby, ts1)
    graft.sinks.MetadataSink.write(
      graft.sinks.MetadataSink.rows(spark, "0.1.1", ts2), url, DdlGen.Derby, ts2)
    val c4 = DriverManager.getConnection(url)
    val rs2 = c4.createStatement().executeQuery(
      """SELECT COUNT(*) FROM "_METADATA"""")
    rs2.next(); val nKeys = rs2.getLong(1)
    val rs3 = c4.createStatement().executeQuery(
      """SELECT "VALUE" FROM "_METADATA" WHERE "KEY" = 'sc_version'""")
    rs3.next(); val ver = rs3.getString(1)
    c4.close()
    println(s"[pipeline] metadata: $nKeys keys, sc_version=$ver")
    assert(nKeys == 4 && ver == "0.1.1") // merge updated version, kept extras
  }

  /** Streaming stage: spot-price-style observations through watermarked
    * dedup + change detection, driven by a MemoryStream source. */
  private def streamingStage(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.streaming.PriceStream
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[PriceStream.PriceObs]
    val q = PriceStream.priceChanges(mem.toDS()).writeStream
      .format("memory").queryName("pipeline_changes").outputMode("append").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    mem.addData(PriceStream.PriceObs("m5.large/us-east-1a", ts(1), 0.096),
      PriceStream.PriceObs("m5.large/us-east-1a", ts(2), 0.096),
      PriceStream.PriceObs("m5.large/us-east-1a", ts(3), 0.104))
    q.processAllAvailable()
    q.stop()
    val changes = spark.sql("SELECT COUNT(*) FROM pipeline_changes").collect().head.getLong(0)
    println(s"[pipeline] streaming price-change rows: $changes (from 3 observations)")
    assert(changes == 2, "expected 2 price changes (initial + one move)")
  }

  /** Multimodal stage: binary media rows → REAL image/video decode
    * (ImageIO + MJPEG-in-AVI) and perceptual features → cosine neighbors;
    * a corrupt payload exercises the error branch of the batch plumbing
    * end to end. */
  private def multimodalStage(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.functions.col
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(48, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 48)
        img.setRGB(x, y, ((x * 31 + y * 17 + seed) * 2654435761L).toInt & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def frame(seed: Int) =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png(seed)))
    val avi = graft.multimodal.Avi.encodeMjpeg((0 until 3).map(frame), fps = 4)
    val media = ((1L to 6L).map(i => Multimodal.MediaRow(i, "image", png(i.toInt % 3))) :+
      Multimodal.MediaRow(7L, "video", avi) :+
      Multimodal.MediaRow(8L, "image", "corrupt".getBytes)).toDS()
    val decoded = Multimodal.decode(media)
    val okImages = decoded.filter(col("metadata.format") === "png").count()
    val errors = decoded.filter(col("metadata.format") === "error").count()
    // realistic flow: undecodable rows are filtered after decode, before
    // the (much more expensive) feature pass
    val goodIds = decoded.filter(col("metadata.format") =!= "error")
      .select("media_id").as[Long].collect().toSet
    val feats = Multimodal.imageFeatures(
      media.filter(m => m.kind == "image" && goodIds.contains(m.media_id))).toDF()
    val knn = graft.similarity.Cosine.topK(
      feats.filter(col("media_id") === 1L), feats, "media_id", "feature", k = 3)
      .collect()
    // seeds repeat mod 3 → media 4 shares media 1's pixels exactly
    assert(knn.head.getAs[Long]("neighbor_id") == 4L &&
      knn.head.getAs[Double]("sim") > 0.999)
    val videoMeta = decoded.filter(col("kind") === "video")
      .select("metadata.format", "metadata.n_frames").collect().head
    assert(videoMeta.getString(0) == "avi/mjpeg" && videoMeta.getInt(1) == 3)
    val frameFeats = Multimodal.videoFrameFeatures(
      media.filter(_.kind == "video"), everyN = 1).count()
    val frames = Multimodal.frameSamplePlan(decoded, everyN = 30)
    println(s"[pipeline] multimodal: decoded_png=$okImages errors=$errors " +
      s"knn=${knn.length} video_frames=$frameFeats sampled_frames=${frames.count()}")
    assert(okImages == 6 && errors == 1 && knn.length == 3 &&
      frameFeats == 3 && frames.count() > 0)
  }
}
