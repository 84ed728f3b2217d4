package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Text}
import graft.ops.Dedup

/** Kernel cost on one core: a projection of the kernel over a cached,
  * single-partition sample, minus the bare projection of its input, per
  * row. Inputs are small fixed-size samples of the workload's own data. */
object Kernels {
  private val Reps = 3

  def measure(spark: SparkSession, docs: DataFrame, vecs: DataFrame,
      tr: Tracer): Map[String, Double] = {
    graft.plans.GraftExtensions.register(spark)
    val d = docs.select(col("doc_id"), col("text")).limit(200).cache()
    val sh = d.select(array_distinct(Text.shingles(col("text"), 3)).as("sh")).cache()
    val v = vecs.select(col("vec_id"), col("embedding")).limit(2000).cache()
    val a = vecs.select(col("embedding").as("va")).limit(60)
    val b = vecs.select(col("embedding").as("vb")).limit(60)
    val pairs = a.crossJoin(b).coalesce(1).cache()
    val n = Map("doc" -> d.count().toDouble, "sh" -> sh.count().toDouble,
      "vec" -> v.count().toDouble, "pair" -> pairs.count().toDouble)

    def nsPerRow(name: String, df: DataFrame, rows: Double, kernel: Column,
        bare: Column): (String, Double) = tr.span(name) {
      def time(c: Column): Double = {
        val t0 = System.nanoTime()
        df.select(c).queryExecution.toRdd.foreach(_ => ())
        (System.nanoTime() - t0).toDouble
      }
      time(kernel); time(bare) // compile both projections first
      val diffs = (1 to Reps).map(_ => time(kernel) - time(bare)).sorted
      name -> math.max(diffs(Reps / 2), 0.0) / math.max(rows, 1.0)
    }

    val out = Map(
      nsPerRow("kernel.shingles_ns_per_doc", d, n("doc"),
        Text.shingles(col("text"), 3), col("text")),
      nsPerRow("kernel.band_keys_ns_per_doc", sh, n("sh"),
        Dedup.md5BandKeys(col("sh"), 4, 4), col("sh")),
      nsPerRow("kernel.fingerprint_ns_per_doc", d, n("doc"),
        Text.fingerprint(col("text")), col("text")),
      nsPerRow("kernel.lsh_bucket_ns_per_vec", v, n("vec"),
        Similarity.lshBucket(col("embedding"), 10, 0), col("embedding")),
      nsPerRow("kernel.cosine_ns_per_pair", pairs, n("pair"),
        call_function("graft_cosine", col("va"), col("vb")), col("va")))
    Seq(d, sh, v, pairs).foreach(_.unpersist())
    out
  }
}
