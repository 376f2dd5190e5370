package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ONE reconstruction-MSE measurement for stored PQ artifacts, shared by
  * every spec that grades a quantizer (TrainedPqSpec, ResidualPqSpec):
  * mean ||x − decode(codes(x))||² with the decode read from the store
  * exactly as the serving paths read it — codebook map reshape, codeword
  * concatenation, and (for a residual store) the cell centroid added
  * back. Test-tree only; the serving decode it mirrors lives in Cosine's
  * private adcRecon. */
object PqTestMse {

  def reconMse(spark: SparkSession, emb: DataFrame, dir: String,
               residual: Boolean = false,
               cellCol: String = "label"): Double = {
    val codes = spark.read.parquet(s"$dir/codes")
    val bm = spark.read.parquet(s"$dir/codebook")
      .groupBy(col("cell"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("centroid")))),
        s => s.getField("centroid")).as("cw"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("cell"), col("cw"))))).as("book"))
    val recon = flatten(transform(sequence(lit(0), lit(7)),
      j => element_at(col("book"),
        (j * 16 + element_at(col("codes"), j + 1)).cast("long"))))
    val base = emb
      .join(codes.select((col("vec_id") +: (if (residual)
        Seq(col("codes"), col(cellCol)) else Seq(col("codes")))): _*),
        Seq("vec_id"))
      .crossJoin(broadcast(bm))
    val withRv =
      if (!residual) base.withColumn("rv", recon)
      else base.join(broadcast(spark.read.parquet(s"$dir/centroids")
          .groupBy(col("cell"))
          .agg(transform(sort_array(collect_list(struct(col("dim"), col("centroid")))),
            s => s.getField("centroid")).as("cvec"))
          .withColumnRenamed("cell", cellCol)), Seq(cellCol))
        .withColumn("rv", zip_with(col("cvec"), recon, (a, b) => a + b))
    withRv.select(aggregate(zip_with(Cosine.toDouble(col("embedding")),
        col("rv"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x).as("e"))
      .agg(avg(col("e"))).head().getDouble(0)
  }
}
