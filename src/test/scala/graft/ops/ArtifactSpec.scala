package graft.ops

import graft.{SourceScan, SparkSpec}
import graft.similarity.Cosine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Artifact]], the stored-artifact lifecycle every index family rides:
  * a repeat open of an unchanged artifact runs no Spark job, a
  * re-commit under new sidecar values is checked again and a torn one
  * fails loudly, the open memo keeps one entry per (dir, sidecar), and
  * no program source forks the lifecycle. */
class ArtifactSpec extends SparkSpec {

  /** (modulus, fingerprint of `t`): one pinned value, one check. */
  private val Table = Artifact.Sidecar("t_config", 2 to 2, checksAt = 1,
    what = "stored test table", remedy = "torn artifact: re-run the writer")

  private def checks(dir: String): Seq[Artifact.Check] =
    Seq(Artifact.fingerprinted("t fp", s"$dir/t", col("id"), col("v")))

  private def writeTable(dir: String, rows: Seq[(Long, String)]): Unit = {
    val sp = spark; import sp.implicits._
    rows.toDF("id", "v").write.mode("overwrite").parquet(s"$dir/t")
  }

  private def open(dir: String): (Seq[Int], Int) =
    jobsOf(Artifact.open(spark, dir, Table, _ => checks(dir)))

  test("a repeat open of an unchanged artifact runs no check job") {
    val dir = graft.TestDir("graft_artifact_repeat")
    writeTable(dir, Seq(1L -> "a", 2L -> "b"))
    Artifact.commit(spark, dir, Table, Seq(7), checks(dir))
    val (values, first) = open(dir)
    assert(values.head == 7 && first >= 1, s"first open ran $first jobs")
    val (again, repeat) = open(dir)
    assert(again == values)
    assert(repeat == 0, s"repeat open ran $repeat jobs")
    // a family's serving open rides the same memo: the second stored
    // DSIR scoring plan is built without a job
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "alpha beta", "tgt"), (2L, "beta gamma", "raw"))
      .toDF("doc_id", "text", "source")
    val model = graft.TestDir("graft_artifact_dsir")
    graft.text.Dsir.writeModel(docs, "doc_id", "text", "source", "tgt", model)
    val batch = docs.select(col("doc_id"), col("text"))
    val (_, dsirFirst) = jobsOf(
      graft.text.Dsir.importanceStored(spark, batch, "doc_id", "text", model))
    val (_, dsirRepeat) = jobsOf(
      graft.text.Dsir.importanceStored(spark, batch, "doc_id", "text", model))
    assert(dsirFirst >= 1 && dsirRepeat == 0, s"$dsirFirst then $dsirRepeat jobs")
  }

  test("a re-commit under new values checks again; a torn one fails loudly") {
    val dir = graft.TestDir("graft_artifact_recommit")
    writeTable(dir, Seq(1L -> "a"))
    Artifact.commit(spark, dir, Table, Seq(7), checks(dir))
    open(dir)
    writeTable(dir, Seq(1L -> "a", 2L -> "b"))
    Artifact.commit(spark, dir, Table, Seq(8), checks(dir))
    val (values, jobs) = open(dir)
    assert(values.head == 8 && jobs >= 1, s"re-commit opened with $jobs jobs")
    // torn: the data moves on while the sidecar pairs a new pinned value
    // with the previous release's fingerprint
    writeTable(dir, Seq(3L -> "c"))
    ConfigFile.writeAtomic(dir, "t_config", Seq(9, values(1)))
    val e = intercept[IllegalArgumentException](open(dir))
    assert(e.getMessage.contains("torn artifact"), e.getMessage)
    assert(e.getMessage.contains("commit sidecar"), e.getMessage)
  }

  test("re-training a rotated prefix into one dir keeps one memo entry") {
    val sp = spark; import sp.implicits._
    val rnd = seededInts(9L)
    val emb: DataFrame = (0 until 24).map { i =>
      (i.toLong, Array.tabulate(16)(_ => (rnd(17) - 8) / 8.0f))
    }.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 3)
    val dir = graft.TestDir("graft_artifact_rot")
    def serve(): Long =
      Cosine.prefixTopKStored(spark, queries, dir, "vec_id", "embedding", k = 3).count()
    Cosine.writeRotatedPrefixIndex(emb, "vec_id", "embedding", p = 8, dir)
    assert(serve() > 0)
    Cosine.writeRotatedPrefixIndex(emb, "vec_id", "embedding", p = 4, dir)
    assert(serve() > 0)
    assert(Artifact.openedEntries(dir) == 1,
      "a re-trained rotation left the previous one in the open memo")
    // switching families retires the other family's entry
    Cosine.writePrefixIndex(emb, "vec_id", "embedding", p = 4, dir)
    assert(serve() > 0)
    assert(Artifact.openedEntries(dir) == 1)
  }

  test("no program source commits, reads or memoizes a sidecar outside Artifact") {
    val offenders = SourceScan.offenders("""ConfigFile\.|newKeySet""".r,
      "graft/ops/Artifact.scala")
    assert(offenders.isEmpty,
      s"stored-artifact lifecycle forked outside Artifact (use Artifact.commit/open): $offenders")
  }
}
