package graft.ops

import graft.SparkSpec

/** [[Overlap.map]] — the §2.6 independent-job overlap helper behind
  * PartitionSample's guard probes and the x28b/x28c recall-curve
  * harness. Pins the properties callers lean on: result ORDER follows
  * input order no matter how the bodies interleave, and a body failure
  * propagates at once instead of vanishing into the pool, cancelling
  * the Spark jobs its siblings still run. */
class OverlapSpec extends SparkSpec {

  test("results come back in input order under concurrent execution") {
    // reverse-staggered sleeps: the LAST input finishes first, so an
    // implementation collecting by completion order would reverse them
    val xs = (1 to 8).toSeq
    val out = Overlap.map(xs) { i => Thread.sleep((8 - i) * 30L); i * 10 }
    assert(out == xs.map(_ * 10))
  }

  test("a throwing body propagates to the caller") {
    val e = intercept[RuntimeException] {
      Overlap.map(Seq(1, 2, 3)) { i =>
        if (i == 2) throw new RuntimeException("boom") else i
      }
    }
    assert(e.getMessage == "boom")
  }

  test("single-element and empty inputs run inline") {
    assert(Overlap.map(Seq(7))(_ + 1) == Seq(8))
    assert(Overlap.map(Seq.empty[Int])(_ + 1).isEmpty)
  }

  test("a throwing body cancels a sibling's running Spark job and returns promptly") {
    val sc = spark.sparkContext
    sc.setJobGroup("overlap-spec", "caller's group") // must survive the call
    try {
      val started = System.nanoTime()
      val e = intercept[RuntimeException] {
        Overlap.map(Seq(1, 2)) { i =>
          if (i == 1)
            // a job whose tasks run until killed (or for a minute)
            sc.parallelize(1 to 2, 2).map { x =>
              val tc = org.apache.spark.TaskContext.get()
              val end = System.nanoTime() + 60000000000L
              while (!tc.isInterrupted() && System.nanoTime() < end) Thread.sleep(10)
              x
            }.count()
          else {
            // fail only once the sibling's job is running
            val deadline = System.nanoTime() + 30000000000L
            while (sc.statusTracker.getActiveJobIds().isEmpty &&
                System.nanoTime() < deadline) Thread.sleep(10)
            throw new RuntimeException("boom")
          }
        }
      }
      val secs = (System.nanoTime() - started) / 1e9
      assert(e.getMessage == "boom")
      assert(secs < 20, s"call took $secs s: the sibling's job was waited for")
      // the sibling's job ends cancelled, long before its tasks would
      val deadline = System.nanoTime() + 20000000000L
      while (sc.statusTracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(sc.statusTracker.getActiveJobIds().isEmpty,
        "the sibling's job is still running")
      val failed = sc.statusTracker.getJobIdsForGroup("overlap-spec")
        .flatMap(sc.statusTracker.getJobInfo)
        .filter(_.status == org.apache.spark.JobExecutionStatus.FAILED)
      assert(failed.nonEmpty, "no job of the call was cancelled")
      assert(sc.getLocalProperty("spark.jobGroup.id") == "overlap-spec")
    } finally sc.clearJobGroup()
  }
}
