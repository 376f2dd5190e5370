package graft

import org.apache.spark.scheduler._

/** Per-query runtime profile (optimization-round measurement tool, guide
  * §1): for each named query — or every query — runs it twice under the
  * Bench session shape (second run = steady state, min of the two like the
  * bench's best-of) and reports wall seconds alongside scheduler-level
  * counters from a SparkListener: jobs, stages, tasks, summed task time,
  * shuffle read/write bytes, input bytes. `wall ≫ taskTime/cores` flags a
  * query bound by sequential stage latency (many tiny stages / driver
  * work), not by compute — the local-mode analogue of fetch-wait.
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=16 \
  *     sbt "runMain graft.ProfileSuite [name1,name2|topN]"
  */
object ProfileSuite {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()

    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shufR = 0L
    @volatile var shufW = 0L
    @volatile var input = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs += m.executorRunTime
          shufR += m.shuffleReadMetrics.totalBytesRead
          shufW += m.shuffleWriteMetrics.bytesWritten
          input += m.inputMetrics.bytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val sel: Seq[String] = args.headOption match {
      case Some(s) if s.forall(_.isDigit) => // topN by committed local bench
        val n = s.toInt
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_LOCAL.json")))
        val j = org.json4s.jackson.JsonMethods.parse(txt)
        import org.json4s._
        val qs = (j \ "queries") match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble }
          case _ => Nil
        }
        val full = SparkEntry.queries.keys.toSeq
        qs.sortBy(-_._2).take(n).flatMap { case (short, _) =>
          full.find(f => f == short || f.startsWith(short + "_")) }
      case Some(s) => s.split(",").toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }

    println(f"${"query"}%-28s ${"wall"}%7s ${"wall2"}%7s ${"build"}%6s ${"plan"}%6s ${"exec"}%6s ${"jobs"}%5s ${"stg"}%5s ${"task"}%6s ${"tt_s"}%7s ${"shR_mb"}%7s ${"shW_mb"}%7s ${"in_mb"}%7s")
    sel.foreach { name =>
      val fn = SparkEntry.queries(name)
      // (wall, buildSec, planSec, execSec): build = the fn() call (frame
      // construction; artifact builds / collects / fixpoints land here),
      // plan = analysis+optimization+physical planning (toRdd), exec = the
      // count job(s).
      def once(): (Double, Double, Double, Double, String) = {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val rdd = df.queryExecution.toRdd
        val t2 = System.nanoTime()
        rdd.count()
        val t3 = System.nanoTime()
        // catalyst phase durations for THIS QueryExecution (ms): analysis,
        // optimization, physical planning. AQE stage execution (inside
        // toRdd for an adaptive plan) is the remainder of the plan column.
        val ph = df.queryExecution.tracker.phases
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}" }
          .toSeq.sorted.mkString(",")
        Harness.reset(spark)
        ((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, ph)
      }
      try {
        val w1 = once()._1
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0; shufR = 0; shufW = 0; input = 0
        val (w2, b2, p2, e2, ph2) = once()
        Thread.sleep(120) // let listener drain
        println(f"$name%-28s $w1%7.2f $w2%7.2f $b2%6.2f $p2%6.2f $e2%6.2f $jobs%5d $stages%5d $tasks%6d ${taskTimeMs / 1e3}%7.2f ${shufR / 1e6}%7.2f ${shufW / 1e6}%7.2f ${input / 1e6}%7.2f  $ph2")
      } catch {
        case e: Throwable =>
          // String.valueOf: a null message (NPE's default) must not throw a
          // second NPE out of the catch and abort the remaining queries
          println(f"$name%-28s FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    spark.stop()
  }
}
