package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SourceScan
import org.scalatest.funsuite.AnyFunSuite

/** [[Commit.atomic]], the one durable commit behind every manifest and
  * sidecar: the new bytes replace the old whole, a crashed write's
  * leftover temp file cannot leak into the next commit, a successful
  * commit leaves only its target, and no program source renames or
  * forces a file anywhere else. */
class CommitSpec extends AnyFunSuite {

  private def text(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def listing(d: Path): Seq[String] = d.toFile.list().toSeq.sorted

  test("an overwrite replaces the old bytes") {
    val d = graft.TestDir.path("graft_commit_overwrite")
    val f = d.resolve("c_config")
    Commit.atomic(f, "12,345,6789".getBytes(UTF_8))
    Commit.atomic(f, "1,2".getBytes(UTF_8))
    assert(text(f) == "1,2") // shorter: no tail of the old bytes survives
  }

  test("a stale temp file left by a crashed write is overwritten") {
    val d = graft.TestDir.path("graft_commit_stale")
    Files.write(d.resolve("m3.tmp"),
      "a torn manifest, longer than the commit that follows it".getBytes(UTF_8))
    Commit.atomic(d.resolve("m3"), "7\nseg7".getBytes(UTF_8))
    assert(text(d.resolve("m3")) == "7\nseg7")
    assert(listing(d) == Seq("m3"))
  }

  test("a successful commit leaves no temp file, for sidecars and manifests") {
    val d = graft.TestDir.path("graft_commit_clean")
    ConfigFile.writeAtomic(d.toString, "t_config", Seq(3, 14))
    ConfigFile.writeAtomic(d.toString, "t_config", Seq(3, 15))
    assert(listing(d) == Seq("t_config"))
    assert(text(d.resolve("t_config")) == "3,15")
    graft.streaming.Segments.commit(d.toString, 0L, Seq("seg0"))
    graft.streaming.Segments.commit(d.toString, 1L, Seq("seg0", "seg1"))
    assert(listing(d.resolve("manifest")) == Seq("m0", "m1"))
    assert(text(d.resolve("manifest").resolve("m1")) == "1\nseg0\nseg1")
  }

  test("no program source renames, moves or forces a file outside Commit") {
    val offenders = SourceScan.offenders(
      """renameTo|ATOMIC_MOVE|Files\.move|\.force\(""".r,
      "graft/ops/Commit.scala")
    assert(offenders.isEmpty,
      s"a commit written outside ops/Commit.scala (use Commit.atomic): $offenders")
  }
}
