package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** One timed interval of the traced run. Children lie inside their parent;
  * a span's self time is its duration minus its direct children's. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def dur: Double = (endNs - startNs) / 1e9
}

object Spans {
  /** Self seconds per span id: duration minus the summed durations of the
    * span's direct children (never below zero: children measured by
    * another clock, such as Spark's job timestamps, may overlap). */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.dur).sum).toMap
    spans.map(s => s.id -> math.max(0.0, s.dur - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

/** Spark-side counters of one job group (one traced op). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // (startMs, endMs)
}

/** Collects scheduler events per job group. Jobs outside a group (the
  * untraced passes and the harness's own fingerprint jobs) are ignored. */
final class GroupListener extends SparkListener {
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()

  private def stats(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(GroupListener.Prefix)).foreach { g =>
      jobGroup.put(e.jobId, (g, e.time))
      e.stageIds.foreach(stageGroup.put(_, g))
      val s = stats(g)
      s.synchronized(s.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobGroup.get(e.jobId)).foreach { case (g, t0) =>
      val s = stats(g)
      s.synchronized(s.jobSpans += ((t0, e.time)))
    }
    ended.add(e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val s = stats(g)
      s.synchronized { s.stages += 1; s.tasks += e.stageInfo.numTasks }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val m = e.taskMetrics
      if (m != null) {
        val s = stats(g)
        s.synchronized {
          s.taskNs += m.executorRunTime * 1000000L
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** The group's counters once every job Spark ran for it has been
    * delivered to this listener (events arrive asynchronously). */
  def await(sc: org.apache.spark.SparkContext, group: String): GroupStats = {
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 5000000000L
    while (!ids.forall(i => ended.contains(i)) && System.nanoTime() < deadline)
      Thread.sleep(2)
    Option(groups.remove(group)).getOrElse(new GroupStats)
  }
}

object GroupListener { val Prefix = "perfbench-" }

/** Plan health read from an executed query. */
object PlanStats {
  /** Logical nodes of the analyzed plan, subqueries included. */
  def analyzedNodes(df: DataFrame): Int = {
    val plan = df.queryExecution.analyzed
    plan.collectWithSubqueries { case p => p }.size
  }

  private def physicalNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case q: QueryStageExec => q +: physicalNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(physicalNodes)
  }

  /** (exchanges, CodegenFallback expressions) in the final physical plan. */
  def exchangesAndFallbacks(df: DataFrame): (Int, Int) = {
    val nodes = physicalNodes(df.queryExecution.executedPlan)
    val exchanges = nodes.count(_.isInstanceOf[Exchange])
    val fallbacks = nodes.map(_.expressions.map(_.collect {
      case e: CodegenFallback => e
    }.size).sum).sum
    (exchanges, fallbacks)
  }

  /** Seconds per Catalyst phase recorded by the query's planning tracker. */
  def phases(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) =>
      k -> (v.endTimeMs - v.startTimeMs) / 1e3
    }
}
