package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Inspector data-dump parsers (reference S3 + U1-U7,
  * `src/sc_crawler/inspector.py`): each takes a DataFrame of raw file
  * contents keyed by (vendor_id, server_id) — the shape a
  * `spark.read.text`/`wholeTextFiles` scan with `input_file_name()`
  * produces — and emits benchmark_score-shaped rows
  * (vendor_id, server_id, benchmark_id, config map, score).
  *
  * All parsers are line/JSON splits + regex extraction + window ops: pure
  * map-side work except the keep-best / first-crossing windows, which
  * shuffle on (vendor, server) — i.e. embarrassingly parallel over a
  * 100 TB dump tree.
  */
object InspectorParsers {

  private val keyCols = Seq(col("vendor_id"), col("server_id"))

  private def lines(df: DataFrame): DataFrame =
    df.select(keyCols :+ explode(split(col("content"), "\n")).as("line"): _*)

  /** bw_mem stdout lines `rd 64.00 13087.10` → (operation, size_mb,
    * bandwidth) rows (reference `inspector.py:356-371`). */
  def parseBwMem(raw: DataFrame): DataFrame =
    lines(raw)
      .filter(col("line").rlike("^[a-z]+ [0-9.]+ [0-9.]+$"))
      .select(keyCols ++ Seq(
        concat(lit("bw_mem:"), regexp_extract(col("line"), "^([a-z]+) ", 1)).as("benchmark_id"),
        map(lit("operation"), regexp_extract(col("line"), "^([a-z]+) ", 1),
          lit("size_mb"), regexp_extract(col("line"), "^[a-z]+ ([0-9.]+) ", 1)).as("config"),
        regexp_extract(col("line"), " ([0-9.]+)$", 1).cast("double").as("score")): _*)

  /** stressng CSV `cores,bogo_ops` rows → per-cores scores plus best-1-core
    * and best-any-cores summary rows (reference `inspector.py:216-221,
    * 496-576`). */
  def parseStressNg(raw: DataFrame): DataFrame = {
    val rows = lines(raw)
      .filter(col("line").rlike("^[0-9]+,[0-9.]+$"))
      .select(keyCols ++ Seq(
        split(col("line"), ",").getItem(0).cast("int").as("cores"),
        split(col("line"), ",").getItem(1).cast("double").as("bogo_ops")): _*)
    val perCores = rows.select(keyCols ++ Seq(
      lit("stressng:cpu").as("benchmark_id"),
      map(lit("cores"), col("cores").cast("string")).as("config"),
      col("bogo_ops").as("score")): _*)
    val best1 = rows.filter(col("cores") === 1)
      .groupBy(keyCols: _*).agg(max(col("bogo_ops")).as("score"))
      .select(keyCols ++ Seq(lit("stressng:best1").as("benchmark_id"),
        map().cast(MapType(StringType, StringType)).as("config"), col("score")): _*)
    val bestn = rows.groupBy(keyCols: _*).agg(max(col("bogo_ops")).as("score"))
      .select(keyCols ++ Seq(lit("stressng:bestn").as("benchmark_id"),
        map().cast(MapType(StringType, StringType)).as("config"), col("score")): _*)
    perCores.unionByName(best1).unionByName(bestn)
  }

  /** passmark YAML `Results:` section `KEY: value` pairs → one row per key,
    * benchmark_id `passmark:<lower(key)>` (U1, reference
    * `inspector.py:53-70, 446-476`). */
  def parsePassmark(raw: DataFrame): DataFrame =
    lines(raw)
      .filter(col("line").rlike("^\\s+[A-Z_]+:\\s+[0-9.]+\\s*$"))
      .select(keyCols ++ Seq(
        concat(lit("passmark:"),
          lower(regexp_extract(col("line"), "^\\s+([A-Z_]+):", 1))).as("benchmark_id"),
        map().cast(MapType(StringType, StringType)).as("config"),
        regexp_extract(col("line"), ":\\s+([0-9.]+)\\s*$", 1).cast("double").as("score")): _*)

  private val geekbenchSchema = MapType(StringType,
    MapType(StringType, new StructType()
      .add("score", DoubleType).add("description", StringType)))

  /** geekbench results.json `{"Single-Core Performance": {workload:
    * {score, description}}}` → rows with config.cores single/multi (U2,
    * reference `inspector.py:404-444`). */
  def parseGeekbench(raw: DataFrame): DataFrame =
    raw.select(keyCols :+ explode(from_json(col("content"), geekbenchSchema)).as(Seq("section", "workloads")): _*)
      .select(keyCols ++ Seq(
        when(col("section").startsWith("Single"), "single").otherwise("multi").as("cores"),
        explode(col("workloads")).as(Seq("workload", "w"))): _*)
      .select(keyCols ++ Seq(
        concat(lit("geekbench:"), lower(regexp_replace(col("workload"), "\\s+", "_"))).as("benchmark_id"),
        map(lit("cores"), col("cores")).as("config"),
        col("w.score").as("score")): _*)

  /** membench CSV `operation,size_kb,bandwidth_mb_s` plus the synthesized
    * RAM-scope row: the first size per operation exceeding the server's
    * total cache (U5, reference `inspector.py:642-726`). */
  def parseMembench(raw: DataFrame, cacheTotalKb: Long): DataFrame = {
    val rows = lines(raw)
      .filter(col("line").rlike("^[a-z]+,[0-9]+,[0-9.]+$"))
      .select(keyCols ++ Seq(
        split(col("line"), ",").getItem(0).as("operation"),
        split(col("line"), ",").getItem(1).cast("long").as("size_kb"),
        split(col("line"), ",").getItem(2).cast("double").as("bandwidth")): _*)
    val measured = rows.select(keyCols ++ Seq(
      lit("membench").as("benchmark_id"),
      map(lit("operation"), col("operation"), lit("size_kb"), col("size_kb").cast("string"))
        .as("config"),
      col("bandwidth").as("score")): _*)
    val w = Window.partitionBy(keyCols :+ col("operation"): _*).orderBy(col("size_kb"))
    val ram = rows.filter(col("size_kb") > cacheTotalKb)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(keyCols ++ Seq(
        lit("membench").as("benchmark_id"),
        map(lit("operation"), col("operation"), lit("scope"), lit("RAM")).as("config"),
        col("bandwidth").as("score")): _*)
    measured.unionByName(ram)
  }

  /** [[parseMembench]] with the cache threshold DERIVED per server from
    * parsed hardware specs ([[HardwareParsers.cacheTotalsKib]]) instead of
    * a hand-fed constant — matching the reference, which reads
    * `cpu_l3_cache_total || cpu_l2_cache_total || cpu_l1d_cache_total`
    * off the server row (`inspector.py:652-655`). The totals frame is
    * dimension-sized → broadcast join, still map-side. */
  def parseMembench(raw: DataFrame, cacheTotalsKib: DataFrame): DataFrame = {
    val rows = lines(raw)
      .filter(col("line").rlike("^[a-z]+,[0-9]+,[0-9.]+$"))
      .select(keyCols ++ Seq(
        split(col("line"), ",").getItem(0).as("operation"),
        split(col("line"), ",").getItem(1).cast("long").as("size_kb"),
        split(col("line"), ",").getItem(2).cast("double").as("bandwidth")): _*)
      .join(broadcast(cacheTotalsKib), Seq("vendor_id", "server_id"), "left")
    val measured = rows.select(keyCols ++ Seq(
      lit("membench").as("benchmark_id"),
      map(lit("operation"), col("operation"), lit("size_kb"), col("size_kb").cast("string"))
        .as("config"),
      col("bandwidth").as("score")): _*)
    val w = Window.partitionBy(keyCols :+ col("operation"): _*).orderBy(col("size_kb"))
    val ram = rows.filter(col("size_kb") > col("cache_total_kib"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(keyCols ++ Seq(
        lit("membench").as("benchmark_id"),
        map(lit("operation"), col("operation"), lit("scope"), lit("RAM")).as("config"),
        col("bandwidth").as("score")): _*)
    measured.unionByName(ram)
  }

  private val compressionSchema = MapType(StringType,
    MapType(StringType, ArrayType(new StructType()
      .add("ratio", DoubleType)
      .add("compression_speed", DoubleType)
      .add("decompression_speed", DoubleType))))

  /** compression matrix `{algo: {level: [runs]}}` × 3 measurements → one
    * keep-best row per (algo, level, measurement) (U3, reference
    * `inspector.py:373-401`). */
  def parseCompression(raw: DataFrame): DataFrame = {
    val runs = raw
      .select(keyCols :+ explode(from_json(col("content"), compressionSchema))
        .as(Seq("algo", "levels")): _*)
      .select(keyCols ++ Seq(col("algo"), explode(col("levels")).as(Seq("level", "runs"))): _*)
      .select(keyCols ++ Seq(col("algo"), col("level"), explode(col("runs")).as("run")): _*)
    val stacked = runs.select(keyCols ++ Seq(col("algo"), col("level"),
      expr("stack(3, 'ratio', run.ratio, 'compress', run.compression_speed, " +
        "'decompress', run.decompression_speed)").as(Seq("measurement", "value"))): _*)
    stacked.groupBy(keyCols ++ Seq(col("algo"), col("level"), col("measurement")): _*)
      .agg(max(col("value")).as("score"))
      .select(keyCols ++ Seq(
        concat_ws(":", lit("compression"), col("algo"), col("measurement")).as("benchmark_id"),
        map(lit("algo"), col("algo"), lit("level"), col("level"),
          lit("measurement"), col("measurement")).as("config"),
        col("score")): _*)
  }

  /** nvidia-smi XML → per-GPU rows (S3's XML shape, reference
    * `inspector.py:137-229`): JDK DOM parsing inside a UDF — the one
    * genuinely procedural parser (XML has no from_json equivalent). */
  private val parseGpuXmlUdf = udf { (xml: String) =>
    try {
      val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
      val gpus = doc.getElementsByTagName("gpu")
      (0 until gpus.getLength).map { i =>
        val g = gpus.item(i).asInstanceOf[org.w3c.dom.Element]
        def text(tag: String): String = {
          val ns = g.getElementsByTagName(tag)
          if (ns.getLength > 0) ns.item(0).getTextContent.trim else null
        }
        (text("product_name"), text("fb_memory_usage_total"), text("graphics_clock"))
      }
    } catch { case _: Throwable => Seq.empty[(String, String, String)] }
  }

  def parseNvidiaSmi(raw: DataFrame): DataFrame =
    raw.select(keyCols :+ explode(parseGpuXmlUdf(col("content"))).as("gpu"): _*)
      .select(keyCols ++ Seq(
        col("gpu._1").as("gpu_model"),
        regexp_extract(col("gpu._2"), "([0-9]+)", 1).cast("long").as("memory_mib"),
        regexp_extract(col("gpu._3"), "([0-9]+)", 1).cast("int").as("graphics_clock_mhz")): _*)

  private val llmSchema = new StructType()
    .add("model_filename", StringType).add("n_prompt", LongType)
    .add("n_gen", LongType).add("avg_ts", DoubleType)

  /** llm_speed JSONL: one JSON per line; prompt_processing vs
    * text_generation by n_prompt/n_gen (U6, reference
    * `inspector.py:728-755`). */
  def parseLlmSpeed(raw: DataFrame): DataFrame =
    lines(raw).filter(trim(col("line")) =!= "")
      .select(keyCols :+ from_json(col("line"), llmSchema).as("j"): _*)
      .filter(col("j").isNotNull && col("j.avg_ts").isNotNull)
      .select(keyCols ++ Seq(
        concat(lit("llm_speed:"),
          when(col("j.n_gen") === 0, "prompt_processing").otherwise("text_generation"))
          .as("benchmark_id"),
        map(lit("model"), col("j.model_filename"),
          lit("tokens"), (col("j.n_prompt") + col("j.n_gen")).cast("string")).as("config"),
        col("j.avg_ts").as("score")): _*)

  /** static_web / redis CSV: keep the best rps per (size, connections) and
    * derive extrapolated rps + throughput rows (O3 + U7, reference
    * `inspector.py:578-640`). Expects header
    * `size,connections,rps,server_usrsys,client_usrsys`. */
  def parseRps(raw: DataFrame, framework: String): DataFrame = {
    val rows = lines(raw)
      .filter(col("line").rlike("^[0-9]+,[0-9]+,[0-9.]+,[0-9.]+,[0-9.]+$"))
      .select(keyCols ++ Seq(
        split(col("line"), ",").getItem(0).cast("long").as("size"),
        split(col("line"), ",").getItem(1).cast("int").as("connections"),
        split(col("line"), ",").getItem(2).cast("double").as("rps"),
        split(col("line"), ",").getItem(3).cast("double").as("server_usrsys"),
        split(col("line"), ",").getItem(4).cast("double").as("client_usrsys")): _*)
    val w = Window.partitionBy(keyCols ++ Seq(col("size"), col("connections")): _*)
      .orderBy(col("rps").desc, col("server_usrsys").asc)
    val best = rows.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val measured = best.select(keyCols ++ Seq(
      lit(s"$framework:rps").as("benchmark_id"),
      map(lit("size"), col("size").cast("string"),
        lit("connections"), col("connections").cast("string")).as("config"),
      col("rps").as("score")): _*)
    val extrapolated = best.filter(col("server_usrsys") > 0).select(keyCols ++ Seq(
      lit(s"$framework:rps_extrapolated").as("benchmark_id"),
      map(lit("size"), col("size").cast("string"),
        lit("connections"), col("connections").cast("string")).as("config"),
      (col("rps") / col("server_usrsys") * (col("server_usrsys") + col("client_usrsys")))
        .as("score")): _*)
    val throughput = best.select(keyCols ++ Seq(
      lit(s"$framework:throughput").as("benchmark_id"),
      map(lit("size"), col("size").cast("string"),
        lit("connections"), col("connections").cast("string")).as("config"),
      (col("rps") * col("size")).as("score")): _*)
    measured.unionByName(extrapolated).unionByName(throughput)
  }
}
