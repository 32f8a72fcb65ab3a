package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Rows per second of each `graft.functions` kernel in isolation, on the
  * committed `documents`/`embeddings` corpus replicated `Rep` times. Kernel
  * inputs are computed once and cached, so each timing is the kernel alone,
  * materialized through the `noop` sink; the figure is the median of `Reps`
  * timings after one warm-up. */
object Kernels {
  val Rep = 10
  val Reps = 2

  def run(env: Env, r: Result): Unit = {
    val spark = env.spark
    val data = env.args.data
    val docs = spark.read.parquet(s"$data/documents.parquet").filter(col("text").isNotNull)
      .crossJoin(spark.range(Rep).toDF("r"))
      .select(concat(col("text"), lit(" "), col("r").cast("string")).as("text"),
        col("lang"), (col("doc_id") * Rep + col("r")).as("id"))
    val base = docs
      .withColumn("tokens", TokenExprs.tokenize(col("text")))
      .withColumn("sh", TokenExprs.wordShingles(col("text"), 5))
      .withColumn("sh3", TokenExprs.wordShingles(col("text"), 3))
      .withColumn("sig", TextSimExprs.minhashSig(col("sh"), 64))
      .withColumn("siga", TextSimExprs.minhashSigArith(col("sh"), 64))
      .cache()
    val nDocs = base.count()
    val emb = spark.read.parquet(s"$data/embeddings.parquet")
      .crossJoin(spark.range(Rep).toDF("r"))
      .select(col("embedding").cast("array<double>").as("e"))
      .withColumn("e2", reverse(col("e")))
      .cache()
    val nEmb = emb.count()
    val dim = emb.head().getSeq[Double](0).size

    def rps(name: String, df: DataFrame, rows: Long): Unit = {
      def once() = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      r.layer(s"functions.${name}_rps") = (rows / Stat.median(Seq.fill(Reps)(once())), "1/s")
    }
    def sel(c: Column) = base.select(c)

    rps("tokenize", sel(TokenExprs.tokenize(col("text"))), nDocs)
    rps("shingles", sel(TokenExprs.wordShingles(col("text"), 5)), nDocs)
    rps("token_windows", sel(TokenExprs.tokenWindows(col("tokens"), 5)), nDocs)
    rps("simhash", sel(TextSimExprs.simhash64(col("tokens"))), nDocs)
    rps("simhash_arith", sel(TextSimExprs.simhash64Arith(col("tokens"))), nDocs)
    rps("minhash", sel(TextSimExprs.minhashSig(col("sh"), 64)), nDocs)
    rps("minhash_arith", sel(TextSimExprs.minhashSigArith(col("sh"), 64)), nDocs)
    rps("lsh_bands", sel(TextSimExprs.lshBandKeys(col("sig"), 16, 4)), nDocs)
    rps("lsh_bands_arith", sel(TextSimExprs.lshBandKeysArith(col("siga"), 16)), nDocs)
    rps("jaccard", sel(TextSimExprs.jaccardSim(col("sh"), col("sh3"))), nDocs)
    rps("cosine", emb.select(VectorExprs.cosineSim(col("e"), col("e2"))), nEmb)
    rps("quant_lsh", emb.select(VectorExprs.quantLshBuckets(col("e"), 4, 8, dim)), nEmb)
    rps("topk_by", base.groupBy(col("lang"))
      .agg(TopKBy.topKBy(struct(col("id"), col("lang")), length(col("text")).cast("long"), col("id"), 10)), nDocs)
    rps("theta_sketch", base.groupBy(col("lang"))
      .agg(ThetaSketch.thetaSketchAgg(col("id").cast("string"))), nDocs)
    rps("lww_max_by", base.groupBy(col("id") % 1000)
      .agg(LwwMaxBy.lwwMaxBy(struct(col("text"), col("lang")), col("id"), lit(1))), nDocs)
    base.unpersist()
    emb.unpersist()
  }
}
