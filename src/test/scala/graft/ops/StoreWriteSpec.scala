package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[StoreWrite.partitioned]] — the §6 output-file-sizing write behind
  * every partitioned serving store. Pins the file-count contract (one
  * parquet file per partition directory), that the clustered write read
  * back is row-identical to the unclustered frame, that the write
  * evaluates its rows once, and the zero-row flat layout. */
class StoreWriteSpec extends SparkSpec {

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  test("default: one file per partition directory, rows preserved") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val idx = graft.text.Bm25.buildIndex(docs, "doc_id", "text")
    val dir = graft.TestDir("graft_swtest")
    try {
      graft.text.Bm25.writeIndex(idx, dir)
      val dirs = new java.io.File(s"$dir/postings").listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("tbucket="))
      val files = parquetFiles(s"$dir/postings").size
      assert(dirs > 0)
      assert(files == dirs, s"$files files for $dirs directories — " +
        "StoreWrite.partitioned should leave exactly one file per directory")
      val back = spark.read.parquet(s"$dir/postings")
        .select(col("did"), col("term"), col("tf"))
      assert(back.exceptAll(idx.postings).isEmpty &&
        idx.postings.exceptAll(back).isEmpty)
    } finally {
      idx.postings.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("a partitioned write evaluates its rows once; zero rows read back flat") {
    val evals = spark.sparkContext.longAccumulator("storewrite_evals")
    val seen = udf { (k: Long) => evals.add(1); k }
    // the UDF gates a filter, so any second pass over the rows (an
    // emptiness probe included) would evaluate it again
    val rows = spark.range(0, 200, 1, 4).filter(seen(col("id")) >= 0)
      .select(col("id").as("k"), (col("id") * 3).as("v"))
    val dir = graft.TestDir("graft_swonce")
    StoreWrite.partitioned(rows, s"$dir/t", "p" -> pmod(col("k"), lit(8L)))
    assert(evals.value == 200,
      s"the UDF ran ${evals.value} times for 200 rows: rows evaluated twice")
    assert(spark.read.parquet(s"$dir/t").count() == 200)

    val none = rows.filter(col("v") < 0)
    StoreWrite.partitioned(none, s"$dir/e", "p" -> pmod(col("k"), lit(8L)))
    assert(!new java.io.File(s"$dir/e").listFiles().exists(_.isDirectory),
      "zero rows must write the flat layout, not partition directories")
    val back = spark.read.parquet(s"$dir/e")
    assert(back.schema.map(f => f.name -> f.dataType) ==
      none.schema.map(f => f.name -> f.dataType))
    assert(back.count() == 0)
  }
}
