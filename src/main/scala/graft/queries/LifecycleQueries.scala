package graft.queries

import graft.Tables
import graft.sinks.JsonDump
import org.apache.spark.sql.functions._

/** Oracle gates for lifecycle operators that previously had only
  * rows-only/spec coverage: the K4 JSON dump (verified by writing and
  * reading back a real partitioned dump), P6 nested-terms price
  * extraction (`vendors/_aws.py:405-447`), P4 standardization chains
  * (`inspector.py:760-1012`), and U4 regex-validated line parsing with
  * best-per-group summary rows (`inspector.py:496-576`). */
object LifecycleQueries extends QueryPack {

  // One dump dir per process, removed on JVM exit: k4 runs several times
  // per session (warmup + timed runs + Verify) and SaveMode.Overwrite
  // reuses the path — no temp-dir leak across invocations.
  private lazy val k4Dir: String = graft.ops.Checkpoint.tempDir("graft_k4").toString

  val queries: Map[String, Q] = Map(
    // ---- K4: JSON dump round-trip — dump supplier partitioned by nation
    //      key, read the files back with the declared schema, and emit the
    //      rows. The oracle is the source table itself: the query passes
    //      iff the dump lost nothing (values, types, partition columns).
    //      The dump write is deliberately part of the measured query (it IS
    //      the operator); the dir is reused, not leaked.
    "k4_json_roundtrip" -> ((s, dir) => {
      val supplier = Tables.supplier(s, dir)
      val tmp = k4Dir
      JsonDump.dump(supplier, tmp, "supplier", Seq("s_nationkey"))
      s.read.schema(supplier.schema).json(s"$tmp/supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- P6: price extraction from nested terms JSON — build an AWS-terms
    //      shaped document per order (unknown SKU/dimension keys, currency
    //      map), then dig OnDemand → first SKU → priceDimensions → first
    //      dimension → pricePerUnit with USD-preference / first-currency
    //      fallback, exactly the reference's digging order.
    "p6_price_extract" -> ((s, dir) => {
      val currency = when(col("o_orderkey") % 7 === 0, lit("EUR")).otherwise(lit("USD"))
      // the document is assembled with concat instead of format_string:
      // byte-identical (checked exhaustively at sf0.1 — %d on a long and
      // %s on a double are String.valueOf, exactly Spark's cast-to-string
      // for these types), but codegen-friendly where java.util.Formatter
      // cost ~0.3 s/run of pure per-row overhead (optimization guide §1.2
      // per-task work; round 15)
      val terms = concat(
        lit("""{"OnDemand":{"sku."""), col("o_orderkey"),
        lit("""":{"priceDimensions":{"dim."""), col("o_orderkey"),
        lit("""":{"pricePerUnit":{""""), currency, lit("\":\""),
        col("o_totalprice").cast("string"), lit("\"}}}}}}"))
      val schema = "map<string,map<string,struct<priceDimensions:map<string,struct<pricePerUnit:map<string,string>>>>>>"
      // spread: the JSON parse is the heavy per-row stage and orders
      // arrives as one split at harness scale (see Tables.spread) — the
      // honest-force bench exposed p6 running its 150k from_json calls
      // in a single task (6.4 s; 0.7 s spread across cores)
      val parsed = Tables.spread(s, dir, "orders")
        .select(col("o_orderkey"), from_json(terms, schema, Map.empty[String, String]).as("terms"))
        .select(col("o_orderkey"),
          try_element_at(map_values(try_element_at(col("terms"), lit("OnDemand"))), lit(1))
            .getField("priceDimensions").as("dims"))
        .select(col("o_orderkey"),
          try_element_at(map_values(col("dims")), lit(1)).getField("pricePerUnit").as("ppu"))
        .select(
          col("o_orderkey"),
          try_element_at(map_keys(col("ppu")), lit(1)).as("currency"),
          coalesce(try_element_at(col("ppu"), lit("USD")),
            try_element_at(map_values(col("ppu")), lit(1))).cast("double").as("price"))
        // persisted (caller-owned cache, the LM-frame convention): the
        // final ORDER BY is a range exchange whose partitioner SAMPLES its
        // child — unpersisted, the whole interpreted from_json pass ran
        // TWICE per run (sampling job + map stage; measured 16 s of task
        // time for 150k rows at sf0.1, the single most expensive query of
        // the r14 driver bench at 12.4 s on a contended host). Cached, the
        // parse runs once and both sort passes read 3 narrow columns.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      parsed.orderBy(col("o_orderkey"))
    }),

    // ---- K3/W1 end-to-end: sync → SCD-append → current-view round-trip.
    //      Snapshot v1 (all nations) is synced against a v2 source with one
    //      deleted key and the %4 keys updated; the sync's scd frame is
    //      appended into the history twin keyed (pk, observed_at) and the
    //      current view + version counts are read back. Any defect in
    //      change classification, version stamping, append idempotence, or
    //      the window read shows up as a value mismatch.
    "w4_scd_roundtrip" -> ((s, dir) => {
      val t1 = to_timestamp(lit("2026-01-01 00:00:00"))
      val t2 = to_timestamp(lit("2026-02-01 00:00:00"))
      val base = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val target = base.withColumn("comment", lit("v1"))
        .withColumn("status", lit("active")).withColumn("observed_at", t1)
      val source = base.filter(col("n_nationkey") =!= 3)
        .withColumn("comment",
          when(col("n_nationkey") % 4 === 0, "v2").otherwise(lit("v1")))
        .withColumn("status", lit("active"))
        .withColumn("observed_at", t2)
      val r = graft.ops.Sync.sync(source, target, Seq("n_nationkey"), scdObservedAt = t2)
      val history = graft.ops.Sync.applyScd(target, r.scd, Seq("n_nationkey"))
      val current = graft.ops.Scd.currentView(history, Seq("n_nationkey"))
      val versions = history.groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_versions"))
      current.join(versions, "n_nationkey")
        .select(col("n_nationkey"), col("n_name"), col("comment"), col("status"),
          col("observed_at"), col("n_versions"))
        .orderBy(col("n_nationkey"))
    }),

    // ---- P4: standardization chains — collapse whitespace + case-fold the
    //      free-text name, strip the vendor prefix off the brand code, take
    //      the family token from the type (regex/prefix cleanup shapes)
    "p4_standardize" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(col("p_partkey"),
          regexp_replace(upper(trim(col("p_name"))), "\\s+", " ").as("name_std"),
          regexp_replace(col("p_brand"), "^Brand#", "").as("brand_code"),
          lower(element_at(split(col("p_type"), " "), 1)).as("family"))
        .orderBy(col("p_partkey"))
    }),

    // ---- U4: regex-validated text lines → typed rows + best1 summary rows
    //      unioned back (stressng/bw_mem CSV-line shape): serialize events
    //      to lines, keep only lines matching the pattern, split + cast,
    //      then append one best-score row per operation.
    "u4_regex_lines" -> ((s, dir) => {
      val lines = Tables.events(s, dir)
        .select(concat_ws(" ", col("event_type"), col("event_id"), col("value")).as("line"))
      val parsed = lines.filter(col("line").rlike("^(purchase|click) [0-9]+ "))
        .select(split(col("line"), " ").as("f"))
        .select(element_at(col("f"), 1).as("operation"),
          element_at(col("f"), 2).cast("bigint").as("event_id"),
          element_at(col("f"), 3).cast("double").as("score"))
      val detail = parsed.select(col("operation"), col("event_id"), col("score"),
        lit("row").as("kind"))
      val best = parsed.groupBy(col("operation"))
        .agg(max(col("score")).as("score"))
        .select(col("operation"), lit(null).cast("bigint").as("event_id"),
          col("score"), lit("best1").as("kind"))
      detail.unionByName(best).orderBy(col("kind"), col("operation"), col("event_id"))
    }))

  val oracle: Map[String, String] = Map(
    "w4_scd_roundtrip" ->
      """SELECT n_nationkey, n_name,
        |  CASE WHEN n_nationkey <> 3 AND n_nationkey % 4 = 0 THEN 'v2'
        |    ELSE 'v1' END AS comment,
        |  CASE WHEN n_nationkey = 3 THEN 'inactive' ELSE 'active' END AS status,
        |  CASE WHEN n_nationkey = 3 OR n_nationkey % 4 = 0
        |    THEN TIMESTAMP '2026-02-01 00:00:00'
        |    ELSE TIMESTAMP '2026-01-01 00:00:00' END AS observed_at,
        |  CAST(CASE WHEN n_nationkey = 3 OR n_nationkey % 4 = 0 THEN 2 ELSE 1 END
        |    AS BIGINT) AS n_versions
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "k4_json_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "p6_price_extract" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN 'EUR' ELSE 'USD' END AS currency,
        |  CAST(CAST(o_totalprice AS VARCHAR) AS DOUBLE) AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "p4_standardize" ->
      """SELECT p_partkey,
        |  regexp_replace(upper(trim(p_name)), '\s+', ' ', 'g') AS name_std,
        |  regexp_replace(p_brand, '^Brand#', '') AS brand_code,
        |  lower(string_split(p_type, ' ')[1]) AS family
        |FROM part ORDER BY p_partkey""".stripMargin,
    "u4_regex_lines" ->
      """WITH parsed AS (
        |  SELECT event_type AS operation, event_id, value AS score
        |  FROM events WHERE event_type IN ('purchase', 'click'))
        |SELECT operation, event_id, score, 'row' AS kind FROM parsed
        |UNION ALL
        |SELECT operation, NULL AS event_id, MAX(score) AS score, 'best1' AS kind
        |FROM parsed GROUP BY operation
        |ORDER BY kind, operation, event_id""".stripMargin)
}
