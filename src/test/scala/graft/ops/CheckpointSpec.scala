package graft.ops

import java.nio.file.Files

import scala.util.Using

import graft.{SourceScan, SparkSpec}
import graft.ops.Checkpoint.Releasables._
import org.apache.spark.sql.functions._

/** [[Checkpoint]], the one release path: a `Using` scope releases the
  * frames it persisted or checkpointed and the temp dirs it opened, also
  * when its body throws; temp dirs and the shutdown hook that deletes them
  * live only there; and no program source releases a cache in a
  * `finally`. */
class CheckpointSpec extends SparkSpec {

  private def blocksAlive: (Int, Set[Int]) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    (cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int],
      spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  test("a Using body that throws leaves cache entries and persistent RDDs as before") {
    val before = blocksAlive
    val e = intercept[IllegalStateException] {
      Using.Manager { use =>
        // a plan no other case builds: persisting a plan already cached
        // adds no entry, so a leak from another case would hide this one
        val cached = use(spark.range(0, 1000, 1, 4)
          .select((col("id") * 7919 + 13).as("k")).persist())
        val leaf = use(cached.filter(col("k") % 3 === 0).localCheckpoint(true))
        assert(cached.count() == 1000 && leaf.count() > 0)
        assert(blocksAlive != before)
        throw new IllegalStateException("body failed")
      }.get
    }
    assert(e.getMessage == "body failed")
    val (entries, rdds) = blocksAlive
    assert(entries == before._1,
      s"cache entries: ${before._1} before the scope, $entries after it")
    assert(rdds.diff(before._2).isEmpty,
      s"persistent RDDs left behind: ${rdds.diff(before._2)}")
  }

  test("a temp dir released by a Using scope is deleted, also when the body throws") {
    var dir: java.nio.file.Path = null
    intercept[IllegalStateException] {
      Using.resource(Checkpoint.tempDir("graft_ckpt")) { d =>
        dir = d
        Files.write(d.resolve("f"), Array[Byte](1, 2, 3))
        throw new IllegalStateException("body failed")
      }
    }
    assert(dir != null && !Files.exists(dir), s"$dir survived its scope")
  }

  test("temp dirs and shutdown hooks only in Checkpoint; no finally releases a cache") {
    // the character classes keep these patterns from matching this file
    val dirs = SourceScan.offendersUnder(Seq(SourceScan.Main, SourceScan.Test),
      """addShutdownHoo[k]|createTempDirector[y]""".r, "graft/ops/Checkpoint.scala")
    assert(dirs.isEmpty,
      s"a temp dir or exit hook outside ops/Checkpoint.scala (use Checkpoint.tempDir): $dirs")
    val finallies = SourceScan.offenders(
      """finally\s*(\{[^}]*|[^\n]*)(unpersist|release)""".r)
    assert(finallies.isEmpty,
      s"a cache released in a finally (use scala.util.Using): $finallies")
  }
}
