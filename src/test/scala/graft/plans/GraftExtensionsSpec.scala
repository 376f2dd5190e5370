package graft.plans

import graft.SparkSpec
import graft.ops.CanonicalJson
import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkSpec {

  test("canonical_json native expression matches the reference serializer") {
    GraftExtensions.register(spark)
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "x", 2.5)).toDF("id", "name", "v")
    val out = df.select(expr("canonical_json(struct(v, id, name))").as("j"))
      .collect().head.getString(0)
    // keys sorted, dumps separators, python float repr
    assert(out == """{"id": 1, "name": "x", "v": 2.5}""")
  }

  test("canonical_row_hash equals sha1 of canonical json") {
    GraftExtensions.register(spark)
    val sp = spark; import sp.implicits._
    val df = Seq((7L, "abc")).toDF("id", "s")
    val h = df.select(expr("canonical_row_hash(struct(id, s))").as("h"))
      .collect().head.getString(0)
    assert(h == CanonicalJson.sha1Hex("""{"id": 7, "s": "abc"}"""))
  }

  test("nested arrays, maps, nulls and unicode serialize python-style") {
    GraftExtensions.register(spark)
    val sp = spark; import sp.implicits._
    val df = Seq((Seq(1.0, 2.5), Map("b" -> "é", "a" -> "x"), null.asInstanceOf[String]))
      .toDF("arr", "m", "s")
    val out = df.select(expr("canonical_json(struct(arr, m, s))")).collect().head.getString(0)
    assert(out == "{\"arr\": [1.0, 2.5], \"m\": {\"a\": \"x\", \"b\": \"\\u00e9\"}, \"s\": null}")
  }

  test("native expression agrees with the UDF path on table rows") {
    GraftExtensions.register(spark)
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.0)).toDF("id", "name", "v")
    val viaUdf = df.select(CanonicalJson.canonical(
      Seq("id" -> col("id"), "name" -> col("name"), "v" -> col("v"))).as("j"))
    val viaExpr = df.select(expr("canonical_json(struct(id, name, v))").as("j"))
    assert(viaUdf.collect().map(_.getString(0)).toSeq ==
      viaExpr.collect().map(_.getString(0)).toSeq)
  }

  test("simhash is callable from SQL and matches the Column API") {
    GraftExtensions.register(spark)
    val sp = spark; import sp.implicits._
    val df = Seq(Tuple1(Seq(3L, 5L, 3L, 9L))).toDF("th")
    val viaSql = df.select(expr("simhash(th)").as("fp")).head.getLong(0)
    val viaCol = df.select(Exprs.toColumn(
      SimHashExpr(Exprs.toExpression(col("th")))).as("fp")).head.getLong(0)
    assert(viaSql == viaCol)
    // bits arg must be a literal
    assertThrows[Exception](df.select(expr("simhash(th, th[0])")).head)
  }

  test("kmv_distinct is callable from SQL as a grouped aggregate") {
    GraftExtensions.register(spark)
    val sp = spark; import sp.implicits._
    val df = (1 to 300).map(i => ("g" + (i % 2), i.toLong * 1000003L)).toDF("g", "h")
    df.createOrReplaceTempView("kmv_in")
    val viaSql = sp.sql(
      "SELECT g, kmv_distinct(h, 8) AS est FROM kmv_in GROUP BY g ORDER BY g")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val viaCol = df.groupBy("g").agg(KmvSketchAgg.kmvDistinct(col("h"), 8).as("est"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(viaSql.toSeq == viaCol.toSeq)
  }

  test("every registered function: resolves from SQL, refuses a wrong arity with its " +
    "message, and each *_state -> *_merge round trip equals the direct aggregate") {
    GraftExtensions.register(spark)
    val sp = spark; import sp.implicits._
    (1 to 60).map(i => (i % 3, i * 1000003L, (i % 5).toLong, Seq(i.toLong, 7L), Seq(i.toDouble, 1.0)))
      .toDF("g", "h", "v", "th", "a").createOrReplaceTempView("fx_in")
    // (state call, merge call over its per-g states `s`, direct call)
    val trips = Seq(
      ("kmv_state(h, 8)", "kmv_merge(s, 8)", "kmv_distinct(h, 8)"),
      ("bottom_k_state(h, v, 4)", "bottom_k_merge(s, 4)", "bottom_k_values(h, v, 4)"),
      // 5 distinct keys under k = 8: the summary is exact, so merge = direct
      ("mg_summary(v, 8)", "mg_merge(s, 8)", "mg_summary(v, 8)"),
      ("bloom_state(h, 1024, 3)", "bloom_merge(s)", "bloom_state(h, 1024, 3)"))
    def stored(stateCall: String) = s"(SELECT $stateCall AS s FROM fx_in GROUP BY g)"
    val mergeFrom = trips.map { case (st, m, _) => m.takeWhile(_ != '(') -> stored(st) }.toMap
    // name -> (a valid call, a call with a wrong argument count, its error)
    val cases = Seq(
      "canonical_json" -> ("canonical_json(struct(h, v))", "canonical_json(struct(h), v)",
        "canonical_json(struct) takes exactly 1 argument"),
      "canonical_row_hash" -> ("canonical_row_hash(struct(h, v))", "canonical_row_hash()",
        "canonical_row_hash(struct) takes exactly 1 argument"),
      "dot_product" -> ("dot_product(a, a)", "dot_product(a)",
        "dot_product(a, b) takes exactly 2 arguments"),
      "simhash" -> ("simhash(th, 32)", "simhash(th, 32, 1)",
        "simhash(token_hashes[, bits]) takes 1 or 2 arguments"),
      "poly_fingerprints" -> ("poly_fingerprints(th, 2)", "poly_fingerprints(th)",
        "poly_fingerprints(token_hashes, w) takes exactly 2 arguments"),
      "bloom_contains" -> ("bloom_contains((SELECT bloom_state(h, 1024, 3) FROM fx_in), h)",
        "bloom_contains(h)", "bloom_contains(state, hash) takes exactly 2 arguments"),
      "kmv_distinct" -> ("kmv_distinct(h, 8)", "kmv_distinct(h)",
        "kmv_distinct(hash, k) takes exactly 2 arguments"),
      "kmv_state" -> ("kmv_state(h, 8)", "kmv_state(h)",
        "kmv_state(hash, k) takes exactly 2 arguments"),
      "kmv_merge" -> ("kmv_merge(s, 8)", "kmv_merge(h)",
        "kmv_merge(sketch, k) takes exactly 2 arguments"),
      "bottom_k_values" -> ("bottom_k_values(h, v, 4)", "bottom_k_values(h, v)",
        "bottom_k_values(hash, value, k) takes exactly 3 arguments"),
      "bottom_k_state" -> ("bottom_k_state(h, v, 4)", "bottom_k_state(h, v)",
        "bottom_k_state(hash, value, k) takes exactly 3 arguments"),
      "bottom_k_merge" -> ("bottom_k_merge(s, 4)", "bottom_k_merge(h)",
        "bottom_k_merge(state, k) takes exactly 2 arguments"),
      "mg_summary" -> ("mg_summary(v, 8)", "mg_summary(v)",
        "mg_summary(hash, k) takes exactly 2 arguments"),
      "mg_merge" -> ("mg_merge(s, 8)", "mg_merge(v)",
        "mg_merge(summary, k) takes exactly 2 arguments"),
      "bloom_state" -> ("bloom_state(h, 1024, 3)", "bloom_state(h, 1024)",
        "bloom_state(hash, numBits, numHashes) takes exactly 3 arguments"),
      "bloom_merge" -> ("bloom_merge(s)", "bloom_merge(h, h)",
        "bloom_merge(state) takes exactly 1 argument"))
    assert(cases.map(_._1).sorted == GraftExtensions.functions.map(_._1.funcName).sorted)
    cases.foreach { case (name, (call, bad, message)) =>
      val from = mergeFrom.getOrElse(name, "fx_in")
      assert(spark.sql(s"SELECT $call FROM $from").collect().nonEmpty, name)
      val err = intercept[Exception](spark.sql(s"SELECT $bad FROM fx_in").collect())
      val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toList
      assert(messages.exists(_.contains(message)), s"$name: $messages")
    }
    def value(q: String): Any = spark.sql(q).head.get(0) match {
      case bytes: Array[Byte] => bytes.toSeq
      case other => other
    }
    trips.foreach { case (state, merge, direct) =>
      assert(value(s"SELECT $merge FROM ${stored(state)}") == value(s"SELECT $direct FROM fx_in"),
        s"$merge over $state differs from $direct")
    }
  }
}
