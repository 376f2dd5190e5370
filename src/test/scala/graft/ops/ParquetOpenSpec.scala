package graft.ops

import graft.{SourceScan, SparkSpec}
import graft.dedup.{MinHash, RepIndex}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType}

/** [[ParquetOpen]], the program's one parquet open path: a repeat open
  * reads with the remembered schema and runs no Spark job, yet gives
  * exactly what a plain read gives; an overwrite, a flipped inference
  * conf or a missing path is never answered from the memo; and the memo
  * does not keep a dropped session alive. The last case guards the
  * single path itself: no program source opens parquet any other way. */
class ParquetOpenSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** A warm open of `path` runs no job and matches a plain read. */
  private def sameAsPlain(path: String): Unit = {
    val plain = spark.read.parquet(path)
    val (ours, jobs) = jobsOf(ParquetOpen(spark, path))
    assert(jobs == 0, s"repeat open of $path ran $jobs jobs")
    assert(ours.schema == plain.schema)
    assert(rows(ours) == rows(plain))
  }

  /** The first open of `path` after a write infers again (runs a job). */
  private def reinfers(path: String): Unit = {
    val (_, jobs) = jobsOf(ParquetOpen(spark, path))
    assert(jobs >= 1, s"open of rewritten $path answered from the memo")
  }

  test("a repeat open runs no job and reads what a plain read reads") {
    val sp = spark; import sp.implicits._
    val flat = s"${graft.TestDir("graft_popen_flat")}/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .repartition(3).write.parquet(flat)
    // partition values like "007" infer as int 7: the repeat open must
    // keep the inferred partition type and column order
    val parted = s"${graft.TestDir("graft_popen_parted")}/t"
    Seq((1L, "007", 5), (2L, "010", 6), (3L, "007", 7)).toDF("id", "p", "q")
      .write.partitionBy("p").parquet(parted)
    for (path <- Seq(flat, parted)) {
      reinfers(path)
      sameAsPlain(path)
    }
    assert(ParquetOpen(spark, parted).schema.map(_.name) == Seq("id", "q", "p"))
    // several paths open as one scan, remembered as one entry
    val flat2 = s"${graft.TestDir("graft_popen_flat2")}/t"
    Seq((4L, "d")).toDF("id", "s").write.parquet(flat2)
    ParquetOpen(spark, flat, flat2)
    val (two, jobs) = jobsOf(ParquetOpen(spark, flat, flat2))
    assert(jobs == 0 && two.count() == 4)
  }

  test("a pinned open keeps the pinned type and runs no job on repeat") {
    val sp = spark; import sp.implicits._
    val parted = s"${graft.TestDir("graft_popen_pinned")}/t"
    Seq((1L, "007"), (2L, "010")).toDF("id", "p").write.partitionBy("p").parquet(parted)
    val first = ParquetOpen.pinned(spark, parted, "p", StringType)
    assert(first.schema("p").dataType == StringType)
    val (again, jobs) = jobsOf(ParquetOpen.pinned(spark, parted, "p", StringType))
    assert(jobs == 0)
    assert(again.schema == first.schema)
    assert(rows(again).map(_.getString(1)) == Seq("007", "010"))
    // the unpinned open of the same path is its own entry
    assert(ParquetOpen(spark, parted).schema("p").dataType != StringType)
  }

  test("an overwrite straight after an open is seen: flat and partitionBy layouts") {
    val sp = spark; import sp.implicits._
    val flat = s"${graft.TestDir("graft_popen_owflat")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(flat)
    assert(ParquetOpen(spark, flat).schema.map(_.name) == Seq("id", "s"))
    Seq((1.5d, 2, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(flat)
    reinfers(flat)
    sameAsPlain(flat)
    assert(ParquetOpen(spark, flat).schema.map(_.name) == Seq("x", "y", "z"))

    val parted = s"${graft.TestDir("graft_popen_owparted")}/t"
    Seq((1L, 3)).toDF("id", "p").write.partitionBy("p").parquet(parted)
    assert(ParquetOpen(spark, parted).schema("p").dataType != StringType)
    Seq((1L, "x")).toDF("id", "p").write.mode("overwrite").partitionBy("p")
      .parquet(parted)
    reinfers(parted)
    assert(ParquetOpen(spark, parted).schema("p").dataType == StringType)
    sameAsPlain(parted)
    // an append adds no column but rewrites the marker: still re-inferred
    // and read in full
    Seq((2L, "y")).toDF("id", "p").write.mode("append").partitionBy("p").parquet(parted)
    assert(ParquetOpen(spark, parted).count() == 2)
  }

  test("RepIndex.write's empty-bands layout replaces a partitioned one and back") {
    val sp = spark; import sp.implicits._
    val sharr = MinHash.hashedShingleArray(
      Seq(5L -> "alpha beta gamma delta epsilon", 7L -> "alpha beta gamma delta epsilon",
        11L -> "one two three four five six").toDF("doc_id", "text"), "doc_id", "text", 2)
    val full = RepIndex.build(sharr, "doc_id")
    val dir = graft.TestDir("graft_popen_repidx")
    RepIndex.write(full, dir)
    assert(ParquetOpen(spark, s"$dir/bands").columns.contains("pbucket"))
    val fullBands = RepIndex.read(sp, dir).bands.count()
    assert(fullBands > 0)
    // delete every doc: bands are written unpartitioned (no pbucket)
    val empty = RepIndex.delete(Seq(5L, 7L, 11L).toDF("doc_id"), full, "doc_id")
    RepIndex.write(empty, dir)
    reinfers(s"$dir/bands")
    sameAsPlain(s"$dir/bands")
    assert(!ParquetOpen(spark, s"$dir/bands").columns.contains("pbucket"))
    assert(RepIndex.read(sp, dir).bands.count() == 0)
    RepIndex.write(full, dir)
    reinfers(s"$dir/bands")
    sameAsPlain(s"$dir/bands")
    assert(RepIndex.read(sp, dir).bands.count() == fullBands)
    RepIndex.release(empty)
  }

  test("flipping nanosAsLong infers the schema again") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // the events layout: TIMESTAMP(NANOS), which Spark reads only as long
    val file = s"${graft.TestDir("graft_popen_nanos")}/e.parquet"
    val hconf = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(file), hconf))
      .withType(schema).withConf(hconf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L))
    finally w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(ParquetOpen(spark, file).schema("ts").dataType == LongType)
      assert(ParquetOpen(spark, file).collect().head.getLong(0) == 1000L)
      spark.conf.set(key, "false")
      // the inference job's failure names its stage and task: compare
      // the error class and the root cause
      def root(t: Throwable): Throwable =
        if (t.getCause == null || t.getCause == t) t else root(t.getCause)
      val plain = intercept[Exception](spark.read.parquet(file))
      val ours = intercept[Exception](ParquetOpen(spark, file))
      assert(ours.getClass == plain.getClass)
      assert(root(ours).getMessage == root(plain).getMessage, root(ours).getMessage)
      spark.conf.set(key, "true")
      val (back, jobs) = jobsOf(ParquetOpen(spark, file))
      assert(jobs == 0 && back.schema("ts").dataType == LongType)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a missing path fails exactly as a plain read does") {
    val missing = s"${graft.TestDir("graft_popen_missing")}/absent"
    val plain = intercept[AnalysisException](spark.read.parquet(missing))
    val ours = intercept[AnalysisException](ParquetOpen(spark, missing))
    assert(ours.getCondition == plain.getCondition)
    assert(ours.getMessage == plain.getMessage)
    val withSplits = intercept[AnalysisException](ParquetOpen.withSplits(spark, missing))
    assert(withSplits.getMessage == plain.getMessage)
  }

  test("withSplits reports the scan's split count under the current split confs") {
    val sp = spark; import sp.implicits._
    val path = s"${graft.TestDir("graft_popen_splits")}/t"
    (1L to 4000L).map(i => (i, s"row-$i")).toDF("id", "s").repartition(4)
      .write.parquet(path)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    try {
      for (bytes <- Seq("128m", "4k", "128m")) {
        spark.conf.set(key, bytes)
        val (df, n) = ParquetOpen.withSplits(spark, path)
        assert(n == spark.read.parquet(path).rdd.getNumPartitions, s"at $bytes")
        assert(n == df.rdd.getNumPartitions)
      }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Opens `path` twice in a fresh session (an inference, then a memo
    * hit) and drops the session; returns only a weak reference to it.
    * Nothing here executes a query in that session: Spark itself keeps a
    * session that ran one reachable for a while. */
  private def openInDroppedSession(path: String): java.lang.ref.WeakReference[AnyRef] = {
    val s2 = spark.newSession()
    val first = ParquetOpen(s2, path).schema
    val (again, jobs) = jobsOf(ParquetOpen(s2, path).schema)
    assert(jobs == 0 && again == first)
    new java.lang.ref.WeakReference[AnyRef](s2)
  }

  test("an entry keyed by a dropped session is collected with the session") {
    val sp = spark; import sp.implicits._
    val path = s"${graft.TestDir("graft_popen_weak")}/t"
    Seq(1L).toDF("id").write.parquet(path)
    val held = ParquetOpen.sessionsHeld
    val ref = openInDroppedSession(path)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (ref.get() != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get() == null, "the dropped session is still reachable")
    assert(ParquetOpen.sessionsHeld <= held)
  }

  test("no program source opens parquet except through ParquetOpen") {
    val offenders = SourceScan.offenders("""read\s*\.parquet\(""".r,
      "graft/ops/ParquetOpen.scala")
    assert(offenders.isEmpty,
      s"parquet opened outside ParquetOpen (use ParquetOpen(spark, path)): $offenders")
  }
}
