package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Runs one workload in one JVM and writes every raw observation as JSON
  * for `run.py`, which turns them into metrics and checks the references.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --out FILE --cores N --budget SECONDS [--oracle-out DIR]
  *
  * Phases: session start, the workload's artifact writes, reference ops,
  * untimed warm-up ops whose result fingerprints the timed runs must
  * reproduce, then closed-loop passes until S seconds have passed (at
  * least one; none that would end past the JVM's time budget). With
  * `--trace 1` even passes are traced (per-op job groups, Catalyst
  * phases, plan health, spans) and odd passes are not, so the cost of
  * tracing itself is measured in the same run: at least three passes, so
  * the traced pass sits between two untraced ones and their median
  * cancels most of the warming from pass to pass. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, cores: Int,
                        budget: Double, oracleOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("data"), m("work"), m("out"), m("cores").toInt, m("budget").toDouble,
      m.get("oracle-out"))
  }

  /** Fixed work for the calibration probe that brackets the run. */
  val CalIters = 150000000L

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.analyzer.singlePassResolver.enabledTentatively", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** CacheManager entries (the count is Spark-internal API, so read it
    * reflectively; 0 when a Spark version lacks it). */
  def cacheEntries(spark: SparkSession): Int =
    try {
      val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    } catch { case NonFatal(_) => 0 }

  /** Cache entries plus persistent RDDs still alive. */
  def blocksAlive(spark: SparkSession): Int =
    cacheEntries(spark) + spark.sparkContext.getPersistentRDDs.size

  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Heap still in use after a full collection. The first collection lets
    * Spark's ContextCleaner see unreachable broadcasts and shuffles; the
    * second one, after the cleaner has had time to drop their blocks,
    * measures what is really still alive. */
  def heapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU seconds this JVM has used, over all its threads. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the hypervisor has taken from this machine's CPUs (the
    * `steal` column of /proc/stat), or 0 where the kernel does not say. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+")(8).toDouble / 100.0 finally src.close()
    } catch { case NonFatal(_) => 0.0 }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val bootS = (System.currentTimeMillis - jvmStart) / 1e3
    val setupSteal0 = stealS()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] phase $what at ${(System.currentTimeMillis - jvmStart) / 1e3}%.2f s")
    val calPre = graft.Bench.calibrate(CalIters)
    new java.io.File(s"${a.work}/local").mkdirs()
    val workload = Workloads(a.workload, a.data, a.work, a.seed)

    // One session start: a second session in the same JVM starts in a
    // fiftieth of the first one's time, so repeating it would not measure
    // set-up; run-to-run spread is left to the median over runs.
    val s0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - s0) / 1e9
    phase("session")
    val artifact = workload.setup(spark)
    val sc = spark.sparkContext
    val listener = new GroupListener
    if (a.trace) sc.addSparkListener(listener)
    val spans = mutable.ArrayBuffer.empty[Span]
    val records = mutable.ArrayBuffer.empty[JValue]

    /** Builds and executes one op; returns its record and fingerprint. */
    def execute(op: Op, pass: Int, traced: Boolean,
                resetAfter: Boolean = workload.resetAfterEachOp): (JObject, Option[String], Option[DataFrame]) = {
      val group = s"${GroupListener.Prefix}$pass-${records.size}-${op.name}"
      if (traced) sc.setJobGroup(group, s"${a.workload} pass $pass ${op.name}")
      val c0 = cpuS()
      val st0 = stealS()
      val t0 = System.nanoTime()
      val m0 = System.currentTimeMillis
      var t1, t2 = t0
      var m1 = m0
      val attempt = try {
        val df = op.run(op)
        t1 = System.nanoTime(); m1 = System.currentTimeMillis
        val rdd = df.queryExecution.toRdd
        rdd.count()
        t2 = System.nanoTime()
        Right((df, rdd))
      } catch {
        case NonFatal(e) =>
          t2 = System.nanoTime()
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally if (traced) sc.clearJobGroup()
      val cpu = cpuS() - c0
      val steal = stealS() - st0
      // untimed from here on
      System.err.println(f"[perfbench] pass $pass%d ${op.name}%s wall=${(t2 - t0) / 1e9}%.3f " +
        attempt.fold(e => s"FAILED $e", _ => "ok"))
      val fp = attempt.toOption.flatMap { case (df, rdd) =>
        try Some(Fingerprint.of(rdd, df.schema).toString)
        catch { case NonFatal(_) => None }
      }
      var fields = List[JField](
        "pass" -> JInt(pass), "traced" -> JBool(traced), "name" -> JString(op.name),
        "layer" -> JString(op.layer), "kind" -> JString(op.kind),
        "family" -> JString(op.family), "fold" -> JInt(op.fold),
        "wall" -> JDouble((t2 - t0) / 1e9), "cpu" -> JDouble(cpu), "steal" -> JDouble(steal),
        "build" -> JDouble((t1 - t0) / 1e9),
        "exec" -> JDouble((t2 - t1) / 1e9), "fold_s" -> JDouble(op.foldS),
        "ok" -> JBool(attempt.isRight), "fp" -> fp.map(JString(_)).getOrElse(JNull),
        "error" -> attempt.left.toOption.map(JString(_)).getOrElse(JNull))
      if (op.kind == "maint") attempt.foreach { case (df, _) =>
        fields :+= "nodes" -> JInt(PlanStats.analyzedNodes(df))
      }
      if (traced) {
        val g = listener.await(sc, group)
        attempt.foreach { case (df, _) =>
          val ph = PlanStats.phases(df)
          val (ex, fb) = PlanStats.exchangesAndFallbacks(df)
          fields ++= List(
            "analysis" -> JDouble(ph.getOrElse("analysis", 0.0)),
            "optimization" -> JDouble(ph.getOrElse("optimization", 0.0)),
            "planning" -> JDouble(ph.getOrElse("planning", 0.0)),
            "plan_nodes" -> JInt(PlanStats.analyzedNodes(df)),
            "exchanges" -> JInt(ex), "fallbacks" -> JInt(fb))
          // spans: op > {build > analysis + build jobs, exec > phases + jobs}
          val base = spans.size
          def ns(ms: Long) = t0 + (ms - m0) * 1000000L
          spans += Span(base, -1, "op", t0, t2)
          spans += Span(base + 1, base, "build", t0, t1)
          spans += Span(base + 2, base, "exec", t1, t2)
          df.queryExecution.tracker.phases.foreach { case (k, v) =>
            val parent = if (v.startTimeMs < m1) base + 1 else base + 2
            spans += Span(spans.size, parent, k, ns(v.startTimeMs), ns(v.endTimeMs))
          }
          g.jobSpans.foreach { case (s, e) =>
            spans += Span(spans.size, if (s < m1) base + 1 else base + 2, "job", ns(s), ns(e))
          }
        }
        fields ++= List(
          "jobs" -> JInt(g.jobs), "build_jobs" -> JInt(g.jobSpans.count(_._1 < m1)),
          "stages" -> JInt(g.stages), "tasks" -> JInt(g.tasks),
          "task_s" -> JDouble(g.taskNs / 1e9), "gc_s" -> JDouble(g.gcMs / 1e3),
          "shuffle_read" -> JInt(g.shuffleRead), "shuffle_write" -> JInt(g.shuffleWrite),
          "spill" -> JInt(g.spill))
      }
      fields :+= "blocks_left" -> JInt(blocksAlive(spark))
      if (resetAfter) reset(spark)
      (JObject(fields), fp, attempt.toOption.map(_._1))
    }

    // untimed: references, then the warm-up ops
    phase("artifacts")
    val t0 = System.nanoTime()
    val threads = workload.setupThreads
    val refs = Parallel.run(threads, workload.references(spark).map { op =>
      () => op.name -> execute(op, -1, traced = false, resetAfter = threads == 1)._2
    }).toMap
    val warm = mutable.LinkedHashMap.empty[String, Option[String]]
    reset(spark)
    warm ++= Parallel.run(threads, workload.warmup(spark).map { op => () =>
      val (_, fp, df) = execute(op, 0, traced = false, resetAfter = false)
      a.oracleOut.foreach { dir =>
        if (graft.SparkEntry.oracleSql.contains(op.name))
          df.foreach(_.write.mode("overwrite").parquet(s"$dir/${op.name}"))
      }
      if (threads == 1) reset(spark)
      op.name -> fp
    }).foldLeft(Map.empty[String, Option[String]]) { case (m, (name, fp)) =>
      // a result that changes between warm-up runs has no reference
      m.updated(name, if (m.get(name).exists(_ != fp)) None else fp)
    }
    reset(spark)
    a.oracleOut.foreach { dir =>
      val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => warm.contains(k) }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
        JsonMethods.compact(JObject(sql.toList.map { case (k, v) => k -> JString(v) })))
    }
    val warmupS = (System.nanoTime() - t0) / 1e9
    // everything from JVM start to here except the calibration probe
    val setupS = (System.currentTimeMillis - jvmStart) / 1e3 - calPre
    val setupSteal = stealS() - setupSteal0
    phase("warm-up")

    // measured closed loop
    val passes = mutable.ArrayBuffer.empty[JValue]
    val minPasses = if (a.trace) 3 else 1
    val start = System.nanoTime()
    var p = 0
    var lastPass = 0.0
    def inBudget = (System.currentTimeMillis - jvmStart) / 1e3 + lastPass < a.budget
    while (p == 0 || ((p < minPasses || (System.nanoTime() - start) / 1e9 < a.seconds) && inBudget)) {
      p += 1
      val traced = a.trace && p % 2 == 0
      reset(spark)
      val ops = workload.pass(spark)
      val spanFrom = spans.size
      val ps = System.nanoTime()
      var timed, timedCpu, timedSteal = 0.0
      ops.foreach { op =>
        val (rec, fp, _) = execute(op, p, traced)
        timed += (rec \ "wall").asInstanceOf[JDouble].num
        timedCpu += (rec \ "cpu").asInstanceOf[JDouble].num
        timedSteal += (rec \ "steal").asInstanceOf[JDouble].num
        if (!warm.contains(op.name)) warm(op.name) = fp
        val expect = op.sameAs.flatMap(refs.get).getOrElse(warm(op.name))
        val ok = fp.isDefined && fp == expect && (op.sameAs.isEmpty || refs.contains(op.sameAs.get))
        records += rec ~ ("checked" -> JBool(ok)) ~ ("expect" -> expect.map(JString(_)).getOrElse(JNull))
      }
      val elapsed = (System.nanoTime() - ps) / 1e9
      lastPass = elapsed
      val self = Spans.selfTimes(spans.drop(spanFrom).toSeq)
      val selfByName = spans.drop(spanFrom).groupBy(_.name).map { case (k, ss) =>
        k -> JDouble(ss.map(s => self(s.id)).sum)
      }
      passes += ("pass" -> JInt(p)) ~ ("traced" -> JBool(traced)) ~ ("wall" -> JDouble(timed)) ~
        ("elapsed" -> JDouble(elapsed)) ~ ("cpu" -> JDouble(timedCpu)) ~
        ("steal" -> JDouble(timedSteal)) ~
        ("heap_mb" -> JDouble(heapMb())) ~ ("self" -> JObject(selfByName.toList))
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    phase("measured")
    spark.stop()
    phase("stopped")
    val calPost = graft.Bench.calibrate(CalIters)

    if (a.trace) {
      val sj = spans.map(s => ("id" -> JInt(s.id)) ~ ("parent" -> JInt(s.parent)) ~
        ("name" -> JString(s.name)) ~ ("start_ns" -> JInt(s.startNs)) ~ ("end_ns" -> JInt(s.endNs)))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.work}/spans.json"),
        JsonMethods.compact(JArray(sj.toList)))
    }
    val out = ("workload" -> JString(a.workload)) ~ ("seed" -> JInt(a.seed)) ~
      ("cores" -> JInt(a.cores)) ~ ("jvm" -> JString(
        s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}")) ~
      ("spark" -> JString(org.apache.spark.SPARK_VERSION)) ~
      ("heap_max_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0)) ~
      ("boot_s" -> JDouble(bootS)) ~ ("session_s" -> JDouble(sessionS)) ~
      ("warmup_s" -> JDouble(warmupS)) ~ ("setup_s" -> JDouble(setupS)) ~
      ("setup_steal_s" -> JDouble(setupSteal)) ~
      ("artifact_write_s" -> JDouble(artifact._1)) ~ ("artifact_bytes" -> JInt(artifact._2)) ~
      ("cal_pre_s" -> JDouble(calPre)) ~ ("cal_post_s" -> JDouble(calPost)) ~
      ("measured_s" -> JDouble(measuredS)) ~
      ("references" -> JObject(refs.toList.map { case (k, v) => k -> v.map(JString(_)).getOrElse(JNull) })) ~
      ("warm" -> JObject(warm.toList.map { case (k, v) => k -> v.map(JString(_)).getOrElse(JNull) })) ~
      ("passes" -> JArray(passes.toList)) ~ ("ops" -> JArray(records.toList))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), JsonMethods.compact(out))
    phase("written")
  }

  private implicit class ObjOps(o: JObject) {
    def ~(f: (String, JValue)): JObject = JObject(o.obj :+ f)
  }
  private implicit class PairOps(f: (String, JValue)) {
    def ~(g: (String, JValue)): JObject = JObject(List(f, g))
  }
}
