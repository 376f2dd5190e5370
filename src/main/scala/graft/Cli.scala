package graft

import graft.ops.{CanonicalJson, HashDiff, ParquetOpen, Sync}
import graft.schema.Schemas
import graft.sinks.{DdlGen, JsonDump}
import org.apache.spark.sql.SparkSession

/** Command facade mirroring the reference CLI's surface (`cli.py`
  * sub-apps: pull / sync / hash / dump / schemas), plus `sql` for ad-hoc
  * queries over the harness tables. Usage:
  *
  *   runMain graft.Cli schemas [sqlite|postgres|derby] [--scd]
  *   runMain graft.Cli pull <outDir>
  *   runMain graft.Cli sync <sourceDir> <targetDir> <table> <pk[,pk...]>
  *   runMain graft.Cli hash <sfDir> <table> <pk[,pk...]>
  *   runMain graft.Cli dump <sfDir> <table> <pk[,pk...]> <outDir>
  *   runMain graft.Cli sql <sfDir> "<query>"
  */
object Cli {

  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(s)
    s
  }

  private def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach { t =>
      try Tables(spark, dir, t).createOrReplaceTempView(t)
      catch { case _: Throwable => () } // missing files are fine
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "schemas" :: rest =>
      val dialect = rest.headOption.getOrElse("sqlite") match {
        case "postgres" => DdlGen.Postgres
        case "derby" => DdlGen.Derby
        case _ => DdlGen.Sqlite
      }
      DdlGen.allTables(dialect, scd = rest.contains("--scd")).foreach(d => println(d + ";\n"))

    case "pull" :: outDir :: Nil =>
      val spark = session()
      val counts = ingest.Pull.pull(spark, new ingest.DemoVendor, ingest.Pull.parquetSink(outDir))
      counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(f"$t%-24s $n%6d rows") }
      spark.stop()

    case "sync" :: src :: tgt :: table :: pks :: Nil =>
      val spark = session()
      val r = Sync.sync(ParquetOpen(spark, s"$src/$table"),
        ParquetOpen(spark, s"$tgt/$table"), pks.split(",").toSeq)
      println(s"sync $table: ${r.stats}")
      spark.stop()

    case "hash" :: dir :: table :: pks :: Nil =>
      val spark = session()
      CanonicalJson.tableHashNative(Tables(spark, dir, table), pks.split(",").toSeq)
        .select("__key", "__hash").orderBy("__key")
        .collect().take(20).foreach(r => println(s"${r.getString(0)} -> ${r.getString(1)}"))
      spark.stop()

    // hashdb <dir> <table:pk[,pk][;table:pk...]> [excludeCsv] — reference
    // `hash` over a whole snapshot: per-table digests + one database hash,
    // with E4 table exclusion
    case "hashdb" :: dir :: specs :: rest =>
      val spark = session()
      val exclude = rest.headOption.map(_.split(",").toSet).getOrElse(Set.empty[String])
      val tables = specs.split(";").map { spec =>
        val Array(t, pks) = spec.split(":")
        t -> (Tables(spark, dir, t), pks.split(",").toSeq)
      }.toMap
      tables.keys.toSeq.sorted.filterNot(exclude.contains).foreach { t =>
        println(f"$t%-24s ${HashDiff.tableDigest(tables(t)._1, tables(t)._2)}")
      }
      println(s"database ${HashDiff.databaseHash(tables, exclude)}")
      spark.stop()

    // migrate <up|current|stamp|sql> <dir|dialect> [revision] — reference
    // `alembic` sub-app (cli.py:124-239): upgrade-to-head on a parquet
    // store, revision inspection, stamping, and --sql rendering
    case "migrate" :: "up" :: dir :: rest =>
      val spark = session()
      val applied = schema.Migrations.upgrade(spark, dir,
        rest.headOption.getOrElse(schema.Migrations.head))
      println(
        if (applied.isEmpty) s"already at ${schema.Migrations.head}"
        else s"applied ${applied.mkString(" -> ")}")
      spark.stop()

    case "migrate" :: "current" :: dir :: Nil =>
      val spark = session()
      println(schema.Migrations.current(spark, dir).getOrElse("<unstamped>") +
        s" (head: ${schema.Migrations.head})")
      spark.stop()

    case "migrate" :: "stamp" :: dir :: rev :: Nil =>
      val spark = session()
      schema.Migrations.stamp(spark, dir, rev)
      println(s"stamped $rev")
      spark.stop()

    case "migrate" :: "sql" :: dialect :: Nil =>
      val d = dialect match {
        case "postgres" => DdlGen.Postgres
        case "derby" => DdlGen.Derby
        case _ => DdlGen.Sqlite
      }
      schema.Migrations.alterSql(d).foreach(s => println(s + ";"))

    case "dump" :: dir :: table :: pks :: outDir :: Nil =>
      val spark = session()
      JsonDump.dump(Tables(spark, dir, table), outDir, table, pks.split(",").toSeq)
      println(s"dumped $table to $outDir/$table")
      spark.stop()

    case "fetch" :: regions :: Nil =>
      val spark = session()
      val df = spark.read.format("graft.sources.VendorApiSource")
        .option("regions", regions).option("rowsPerRegion", "5").load()
      println(s"partitions=${df.rdd.getNumPartitions}")
      df.show(20, truncate = false)
      spark.stop()

    // metadata set <jdbcUrl> [key=value ...] | metadata get <jdbcUrl> [key]
    // (reference `metadata` sub-app, cli.py:242-319: version + published_at
    // always; extra pairs merge on key)
    case "metadata" :: "set" :: url :: entries =>
      val spark = session()
      val c = java.sql.DriverManager.getConnection(url)
      try c.createStatement().execute(DdlGen.createTable(
        sinks.MetadataSink.Table, Schemas.tables(sinks.MetadataSink.Table)._1,
        Seq("key"), DdlGen.Derby))
      catch { case _: java.sql.SQLException => () } // table exists
      finally c.close()
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      val extra = entries.flatMap { e =>
        e.split("=", 2) match { case Array(k, v) => Some(k.trim -> v.trim); case _ => None }
      }
      sinks.MetadataSink.write(
        sinks.MetadataSink.rows(spark, version = "0.2.0", publishedAt = now,
          publishedBy = sys.env.get("GRAFT_PUBLISHED_BY"), extra = extra),
        url, DdlGen.Derby, now)
      println(s"metadata set: ${2 + extra.size} keys")
      spark.stop()

    case "metadata" :: "get" :: url :: rest =>
      val c = java.sql.DriverManager.getConnection(url)
      val where = rest.headOption.map(k => s""" WHERE "KEY" = '$k'""").getOrElse("")
      val rs = c.createStatement().executeQuery(
        s"""SELECT "KEY", "VALUE" FROM "_METADATA"$where ORDER BY "KEY"""")
      while (rs.next()) println(f"${rs.getString(1)}%-20s ${rs.getString(2)}")
      c.close()

    case "sql" :: dir :: query :: Nil =>
      val spark = session()
      registerTables(spark, dir)
      spark.sql(query).show(50, truncate = false)
      spark.stop()

    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("commands: schemas | pull | sync | hash | hashdb | dump | sql | fetch | metadata")
      sys.exit(2)
  }
}
