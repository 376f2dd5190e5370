package graft

/** [[Harness]], the one session builder: no program or spec source builds
  * a session anywhere else (Smoke's bare driver stand-in excepted), the
  * RAM-backed local-dir probe lives only there, and the shared spec
  * session carries the harness confs at the 4 partitions the specs are
  * calibrated to. */
class HarnessSpec extends SparkSpec {

  private val roots = Seq(SourceScan.Main, SourceScan.Test)

  test("no source builds a SparkSession outside Harness (and the bare Smoke)") {
    val offenders = SourceScan.offendersUnder(roots, """SparkSession\.builder""".r,
      "graft/Harness.scala", "graft/Smoke.scala")
    assert(offenders.isEmpty,
      s"a session built outside Harness.scala (use Harness.session): $offenders")
  }

  test("the RAM-backed local-dir probe lives only in Harness") {
    // the character class keeps this pattern from matching its own line
    val offenders = SourceScan.offendersUnder(roots, """/dev/sh[m]""".r,
      "graft/Harness.scala")
    assert(offenders.isEmpty,
      s"a RAM-backed local dir named outside Harness.scala (use ramLocalDir): $offenders")
  }

  test("the shared spec session carries the harness confs") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
  }
}
