package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe data generator (VERDICT r5 #3): synthesizes a ~10× copy of
  * the sf0.1 testdata ("sf1") by unioning `Copies` key-shifted replicas of
  * each scaling table, so the headline + LSH families can be timed at a
  * scale step and checked for near-linear behavior and plan flips
  * (BENCH_SCALE.md). Never touches /root/testdata — output goes under
  * /tmp.
  *
  * Replication is SIMILARITY-AWARE, not a blind copy — a blind ×10 copy
  * would be a different WORKLOAD, not the same workload at 10×:
  *  - `documents.text` gets a per-copy suffix on every token, making
  *    cross-copy shingle sets disjoint: each near-dup group stays its
  *    original size instead of ×10 (which would inflate LSH candidate
  *    PAIRS quadratically, ×100).
  *  - `embeddings.embedding` is rotated by `copy` positions — a
  *    permutation, so within-copy inner products (and the within-copy
  *    ANN/near-dup structure) are preserved EXACTLY, while cross-copy
  *    twins decorrelate instead of forming 10-deep exact-duplicate piles.
  *  - Key columns shift by copy-scaled strides (stride % 400 == 0 keeps
  *    the e2e pipeline's event_id%400 scenario distribution; orders and
  *    customer shift `custkey` by the SAME stride so referential
  *    integrity — and the J1 join hit rate — is preserved).
  * Timestamps, measures, and categorical columns are left as-is: the time
  * window, group cardinalities per key, and value distributions are the
  * quantities the queries aggregate over.
  *
  * Usage: `runMain graft.ScaleGen <srcSfDir> <outDir> [copies] [tables]`
  * — `tables` is an optional comma-separated subset (e.g. `events`) for
  * single-family probes (an sf30 events-only step is ~1/10 the bytes of
  * the full generation).
  */
object ScaleGen {
  private val Stride = 10000000L // % 400 == 0

  private def replicate(src: DataFrame, copies: Int)
                       (shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => shift(src, i)).reduce(_.union(_))

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Sessions.start(Sessions.envCores(32), aqe = true)

    val wanted: String => Boolean =
      if (args.length > 3)
        args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet
      else _ => true

    def write(name: String, df: => DataFrame, parts: Int): Unit =
      if (wanted(name))
        df.repartition(parts).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")

    // Dimensions: verbatim copies (they stay bounded at any scale — that
    // is what makes them broadcastable).
    Seq("region", "nation", "supplier", "part").foreach { t =>
      write(t, Tables.read(spark, srcDir, t), 1)
    }

    write("events", replicate(Tables.events(spark, srcDir)
        .drop("ts_us", "ts_ts"), copies) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * Stride))
        .withColumn("user_id", col("user_id") + lit(i * Stride))
    }, 32)

    write("lineitem", replicate(Tables.lineitem(spark, srcDir), copies) {
      (df, i) => df.withColumn("l_orderkey", col("l_orderkey") + lit(i * Stride))
    }, 32)

    write("orders", replicate(Tables.orders(spark, srcDir), copies) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * Stride))
        .withColumn("o_custkey", col("o_custkey") + lit(i * Stride))
    }, 32)

    write("customer", replicate(Tables.customer(spark, srcDir), copies) {
      (df, i) => df.withColumn("c_custkey", col("c_custkey") + lit(i * Stride))
    }, 8)

    write("documents", replicate(Tables.documents(spark, srcDir), copies) {
      (df, i) =>
        val text =
          if (i == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"~$i"))), " ")
        df.withColumn("doc_id", col("doc_id") + lit(i * Stride))
          .withColumn("text", text)
          .withColumn("n_chars", length(text))
    }, 16)

    write("embeddings", replicate(Tables.embeddings(spark, srcDir), copies) {
      (df, i) =>
        val dim = size(col("embedding"))
        val rolled =
          if (i == 0) col("embedding")
          else transform(sequence(lit(0), dim - 1),
            j => element_at(col("embedding"), ((j + lit(i)) % dim) + 1))
        df.withColumn("vec_id", col("vec_id") + lit(i * Stride))
          .withColumn("embedding", rolled)
    }, 8)

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .filter(wanted).foreach { t =>
        println(s"[scalegen] $t rows=" +
          spark.read.parquet(s"$outDir/$t.parquet").count())
      }
    spark.stop()
  }
}
