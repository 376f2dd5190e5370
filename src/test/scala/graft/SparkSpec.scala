package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per JVM; small shuffle fan-out). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark

  /** Spark jobs `body` starts on this thread (and on threads it starts).
    * The listener bus is asynchronous, so a marker job run afterwards
    * fences the count: once its start has arrived, so has every earlier
    * job's. */
  def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${System.nanoTime()}"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$tag-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$tag-fence"), "fence job never reached the listener")
      (out, groups.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }

  /** Deterministic pseudo-random int stream for property-style sweeps
    * (the scalatest-scalacheck bridge is not on the offline classpath).
    * One shared LCG so specs don't grow drifting copies. */
  def seededInts(seed: Long): Int => Int = {
    var s = seed
    bound => {
      s = s * 6364136223846793005L + 1442695040888963407L
      (math.abs(s >> 33) % bound).toInt
    }
  }
}
