package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DescriptionIngestSpec extends SparkSpec {

  private def write(root: java.nio.file.Path, vendor: String, api: String,
                    json: String): Unit = {
    val d = root.resolve(vendor).resolve(api).resolve("descriptions")
    java.nio.file.Files.createDirectories(d)
    java.nio.file.Files.write(d.resolve("output.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private val full =
    """{"page": ["p1"], "description": "d", "og_description": "og",
      |  "meta_description": "m", "tagline": "t",
      |  "bullet_points": ["b"], "categories": ["General"]}""".stripMargin

  test("ingest skips corrupt and incomplete outputs, decodes spaced paths") {
    val sp = spark; import sp.implicits._
    val root = graft.TestDir.path("graft-s4-spec")
    try {
      write(root, "aws", "a1.medium", full)
      write(root, "azure", "Standard D2 v5", full) // space → %20 in input_file_name
      write(root, "aws", "broken", "{ nope")
      write(root, "aws", "partial", """{"page": ["p1"], "tagline": "t"}""")
      val servers = Seq(
        ("aws", "a1.medium", "a1.medium"),
        ("azure", "d2v5", "Standard D2 v5"),
        ("aws", "broken-id", "broken"),
        ("aws", "partial-id", "partial"))
        .toDF("vendor_id", "server_id", "api_reference")
      val out = DescriptionIngest.ingest(sp, root.toString, servers)
        .select("vendor_id", "server_id").as[(String, String)].collect().toSet
      assert(out == Set(("aws", "a1.medium"), ("azure", "d2v5")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("outputs without a matching server row are dropped by the join") {
    val sp = spark; import sp.implicits._
    val root = graft.TestDir.path("graft-s4-spec2")
    try {
      write(root, "aws", "known", full)
      write(root, "aws", "orphan", full)
      val servers = Seq(("aws", "known-id", "known")).toDF("vendor_id", "server_id", "api_reference")
      val out = DescriptionIngest.ingest(sp, root.toString, servers)
      assert(out.select("server_id").as[String].collect().toSeq == Seq("known-id"))
      assert(out.columns.toSeq ==
        Seq("vendor_id", "server_id") ++ DescriptionIngest.outputSchema.fieldNames)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}
