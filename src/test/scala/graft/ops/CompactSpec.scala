package graft.ops

import graft.SparkSpec

class CompactSpec extends SparkSpec {

  private def parquetFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))

  test("compacted write hits the size-derived file count, rows intact") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft-compact")
    try {
      // source parquet gives the optimizer real size stats to derive from
      val src = s"$dir/src"
      (1L to 20000L).map(i => (i, s"payload-$i-" + "x" * 50))
        .toDF("id", "payload").repartition(16).write.parquet(src)
      val df = sp.read.parquet(src)
      assert(parquetFiles(src) == 16) // the small-files problem, manufactured

      val big = s"$dir/big"
      Compact.writeCompacted(df, big, targetBytes = 1L << 30) // 1 GiB → 1 file
      assert(parquetFiles(big) == 1)
      assert(sp.read.parquet(big).count() == 20000L)

      val small = s"$dir/small"
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
      Compact.writeCompacted(df, small, targetBytes = est / 4 + 1)
      val n = parquetFiles(small)
      assert(n >= 2 && n <= 8, s"expected ~4 files, got $n") // sized, not fan-out
      assert(sp.read.parquet(small).count() == 20000L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("maxRecordsPerFile caps rows when the size estimate is off") {
    val sp = spark; import sp.implicits._
    val dir = graft.TestDir("graft-compact2")
    try {
      val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("id", "v")
      Compact.writeCompacted(df, s"$dir/out", targetBytes = 1L << 30,
        maxRecordsPerFile = 300L)
      assert(parquetFiles(s"$dir/out") >= 4) // 1000 rows / 300 cap
      assert(sp.read.parquet(s"$dir/out").count() == 1000L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
