package graft.ops

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT driver-side actions (optimization guide §2.6):
  * Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Query harnesses that materialize several
  * serving-sized probe frames (collect → re-parallelize,
  * [[Artifact.collectOnce]]) pay each collect's full job latency
  * back-to-back; submitted from a bounded pool, the latencies overlap
  * and the wall cost is ~the slowest one. Result order is preserved
  * (results are placed by input index), so downstream unions are
  * deterministic. Job submission is thread-safe; job descriptions and
  * groups are thread-local and the pool threads inherit the caller's, so
  * concurrent jobs stay correctly labeled. */
object Overlap {

  /** `xs.map(f)` with the `f` bodies running concurrently on a bounded
    * (≤8-thread) pool. Use only when the bodies are independent — no
    * shared mutable state beyond thread-safe memo maps.
    *
    * The first body that throws ends the call: its exception is
    * rethrown at once, the Spark jobs its siblings are running are
    * cancelled, and bodies not yet started never run. The siblings' jobs
    * carry a per-call job TAG, which is what gets cancelled — a job group
    * would overwrite the caller's own group, which per-op attribution
    * reads. The pool threads are daemons, so a sibling still unwinding
    * cannot keep the JVM alive. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.size <= 1) xs.map(f)
    else {
      val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
      val pool = Executors.newFixedThreadPool(math.min(8, xs.size), (r: Runnable) => {
        val t = new Thread(r, "graft-overlap")
        t.setDaemon(true)
        t
      })
      try {
        val done = new ExecutorCompletionService[(Int, B)](pool)
        xs.zipWithIndex.foreach { case (x, i) =>
          done.submit(new Callable[(Int, B)] {
            def call(): (Int, B) = {
              sc.foreach(_.addJobTag(tag))
              try (i, f(x)) finally sc.foreach(_.removeJobTag(tag))
            }
          })
        }
        val out = new Array[Any](xs.size)
        xs.indices.foreach { _ =>
          val (i, b) =
            try done.take().get()
            catch {
              case e: ExecutionException =>
                sc.foreach(_.cancelJobsWithTag(tag))
                throw e.getCause
            }
          out(i) = b
        }
        out.toSeq.asInstanceOf[Seq[B]]
      } finally pool.shutdownNow()
    }
  }
}
