package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Streaming/batch parity: the streaming operators must converge to the
  * same results as their batch twins over a bounded input. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def pin(p: String) = graft.data.IndexManifest.load(spark, p).get

  // The file streaming source wants a directory: stage events.parquet alone
  // in a temp dir (the testdata dir also holds the other tables).
  private lazy val eventsGlob: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("report refresh stream: incremental ingest + refresh equals the batch report") {
    val fixture = new ExportsEtlSpec
    val base = java.nio.file.Files.createTempDirectory("graft_refresh")
    val viewDir = base.resolve("view").toString
    val ingest = base.resolve("ingest").toString
    val report = base.resolve("report").toString
    fixture.viewForJob.repartition(3).write.parquet(viewDir) // several micro-batches
    val stream = spark.readStream.schema(fixture.viewForJob.schema)
      .option("maxFilesPerTrigger", "1").parquet(viewDir)
    val q = graft.streaming.ReportRefresh.start(stream, ingest,
      "2024-01-01", "2025-01-01", report)
    assert(q.awaitTermination(180000), "AvailableNow query did not finish")
    val got = spark.read.parquet(report)
    val expected = graft.etl.ExportsEtl.forAllLenders(fixture.viewForJob,
      "2024-01-01", "2025-01-01")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("report refresh restart: old files are not re-ingested, new ones are") {
    val fixture = new ExportsEtlSpec
    val base = java.nio.file.Files.createTempDirectory("graft_refresh2")
    val viewDir = base.resolve("view").toString
    val ingest = base.resolve("ingest").toString
    val report = base.resolve("report").toString
    val schema = fixture.viewForJob.schema
    // first run: half the fixture
    val firstHalf = fixture.viewForJob.where($"scenarioId" < "s4")
    firstHalf.write.parquet(viewDir)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(viewDir)
      val q = graft.streaming.ReportRefresh.start(stream, ingest,
        "2024-01-01", "2025-01-01", report)
      assert(q.awaitTermination(180000), "AvailableNow query did not finish")
    }
    runOnce()
    assert(spark.read.parquet(ingest).count() == firstHalf.count())
    // second run after new data lands: checkpoint skips the old files —
    // ingest holds each row exactly once, and the refreshed report equals
    // the full batch report
    fixture.viewForJob.where($"scenarioId" >= "s4")
      .write.mode("append").parquet(viewDir)
    runOnce()
    assert(spark.read.parquet(ingest).count() == fixture.viewForJob.count())
    val got = spark.read.parquet(report)
    val expected = graft.etl.ExportsEtl.forAllLenders(fixture.viewForJob,
      "2024-01-01", "2025-01-01")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("windowed counts converge to the batch aggregation") {
    val streamed = EventStreams.runToMemory(
      EventStreams.windowedCounts(EventStreams.readEvents(spark, eventsGlob)),
      // Complete mode: on a bounded input, append would hold back the final
      // window forever (no later event advances the watermark past it).
      "win_counts", OutputMode.Complete())
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy(window(col("ts_ts"), "1 hour").as("window"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) / 100)
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming HLL window registers match batch; fold to the same estimates") {
    import graft.data.Indexing
    val streamed = EventStreams.runToMemory(
      EventStreams.hllWindowRegisters(EventStreams.readEvents(spark, eventsGlob)),
      // Complete for the bounded-input parity run, like windowedCounts
      "hll_regs", OutputMode.Complete())

    val e = Tables.events(spark, TestSpark.sf)
      .where(col("event_type").isNotNull && col("user_id").isNotNull)
    val (bucket, rank) = Indexing.hllBucketRank(col("user_id"))
    val batch = e
      .withColumn("bucket", bucket).withColumn("rank", rank)
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"),
        col("bucket"))
      .agg(max(col("rank")).as("mj"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("bucket"), col("mj"))
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)

    // the streamed registers fold to the same estimates as the batch
    // fold (nd is absent from a streaming aggregate — estimate columns
    // never read it, so a zero stub suffices for the fold)
    val estS = Indexing.hllEstimate(streamed.withColumn("nd", lit(0L)),
        Seq("win_start", "event_type"))
      .select(col("win_start"), col("event_type"), col("n_hit"),
        col("est_distinct"))
    val estB = Indexing.hllEstimate(batch.withColumn("nd", lit(0L)),
        Seq("win_start", "event_type"))
      .select(col("win_start"), col("event_type"), col("n_hit"),
        col("est_distinct"))
    assert(estS.exceptAll(estB).isEmpty && estB.exceptAll(estS).isEmpty)
  }

  test("stream-stream interval join converges to the batch join") {
    val ev = EventStreams.readEvents(spark, eventsGlob)
    val streamed = EventStreams.runToMemory(
      EventStreams.clickPurchaseAttribution(ev, ev),
      "attribution", OutputMode.Append())

    val bev = Tables.events(spark, TestSpark.sf)
    val batch = EventStreams.clickPurchaseAttribution(bev, bev)

    // Append emits a joined pair once both watermarks pass it; on a bounded
    // input the final micro-batch may hold back pairs near the global max
    // event time, so streamed ⊆ batch with equality on the watermark-closed
    // region — on this fixture every pair closes, so require full parity.
    assert(streamed.count() == batch.count(),
      s"streamed ${streamed.count()} vs batch ${batch.count()}")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("checkpointed parquet sink: append emits exactly the watermark-closed windows, restart adds nothing") {
    val base = java.nio.file.Files.createTempDirectory("graft_sink")
    val out = s"$base/out"
    val chk = s"$base/chk"

    def runOnce(): Unit = {
      val q = EventStreams.windowedCounts(
          EventStreams.readEvents(spark, eventsGlob))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }

    runOnce()
    val got = spark.read.parquet(out)

    // Append emits only windows closed by the final watermark
    // (max event time - 10 min); compute the same set from batch.
    val maxTs = Tables.events(spark, TestSpark.sf)
      .agg(max(col("ts_ts"))).head().getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 10 * 60 * 1000)
    val batch = Tables.events(spark, TestSpark.sf)
      .groupBy(window(col("ts_ts"), "1 hour").as("window"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .where(col("window.end") <= lit(watermark))
    assert(got.count() == batch.count())

    // restart against the same checkpoint: no new data -> no new rows
    runOnce()
    assert(spark.read.parquet(out).count() == batch.count(),
      "restart must not duplicate output (exactly-once file sink)")
  }

  test("sessionization gap is closed: exactly last+gap extends, last+gap+1 splits") {
    val gapUs = 30L * 60 * 1000 * 1000
    val mk = (id: Long, us: Long) => (id, us * 1000, 7L, "view", 1.0, "{}")
    val ev = Seq(
      mk(1, 0), mk(2, gapUs),            // exactly gap after last -> extends
      mk(3, 2 * gapUs + 1))              // gap+1 after last -> new session
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("ts_ts", timestamp_micros(expr("ts div 1000")))
    val got = EventStreams.userSessions(ev)
      .orderBy("session_start")
      .select("session_start", "session_end", "n_events")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, gapUs, 2L), (2 * gapUs + 1, 2 * gapUs + 1, 1L)))
  }

  test("gap sessionization (streaming append) emits the watermark-closed batch sessions") {
    val streamed = EventStreams.runToMemory(
      EventStreams.userSessions(
        EventStreams.readEvents(spark, eventsGlob)
          .withWatermark("ts_ts", "10 minutes")),
      "sessions", OutputMode.Append())

    val batch = EventStreams.userSessions(Tables.events(spark, TestSpark.sf))
    val maxUs = Tables.events(spark, TestSpark.sf)
      .agg(max(col("ts_us"))).head().getLong(0)
    val wmUs = maxUs - 10L * 60 * 1000 * 1000
    val gapUs = 30L * 60 * 1000 * 1000

    // Append evicts a session once the watermark passes its close
    // (last event + gap): closed ⊆ streamed ⊆ batch, with strict bounds on
    // the closed side so the assertion is robust to the engine's >/>=
    // eviction boundary.
    val closed = batch.where(col("session_end") + gapUs < wmUs)
    assert(closed.exceptAll(streamed).isEmpty,
      "every watermark-closed session must be emitted")
    assert(streamed.exceptAll(batch).isEmpty,
      "streamed sessions must be a subset of the batch sessions")
  }

  test("dropDuplicatesWithinWatermark dedupes in-horizon duplicates to the batch result") {
    // Duplicate every event (same event_id, same timestamp -> well inside
    // the watermark horizon) by staging the events file twice: two input
    // files -> two micro-batches, so dedup must also work ACROSS batches
    // via the state store, not just within one batch.
    val d = java.nio.file.Files.createTempDirectory("graft_dup")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
        d.resolve("a.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet"),
        d.resolve("b.parquet"))

      val streamed = EventStreams.runToMemory(
        EventStreams.dedupWithinWatermark(
          EventStreams.readEvents(spark, d.toString)),
        "dedup_wm", OutputMode.Append())

      val batch = Tables.events(spark, TestSpark.sf)
      assert(streamed.count() == batch.count(),
        "every duplicated event_id must be emitted exactly once")
      assert(streamed.select("event_id").distinct().count() == batch.count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
  }

  test("stateful latestPerUser converges to the batch max_by dedup") {
    val streamed = EventStreams.runToMemory(
      EventStreams.latestPerUser(EventStreams.readEvents(spark, eventsGlob)).toDF(),
      "latest_user", OutputMode.Update())
    // Update mode emits one row per key per micro-batch: the final state per
    // key is the row from the LAST batch that touched it; with
    // maxFilesPerTrigger=1 and one input file there is exactly one batch.
    val finalRows = streamed
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("last_ts_us"), col("last_event_type"),
        col("last_value"), col("last_props")), col("last_ts_us")).as("s"))
      .select(col("user_id"), col("s.last_ts_us"), col("s.last_event_type"),
        col("s.last_value"), col("s.last_props"))

    val batch = Registry.byName("ref_a1_dedup_latest").build(spark, TestSpark.sf)
      .withColumnsRenamed(Map.empty[String, String])

    assert(finalRows.count() == batch.count())
    assert(finalRows.exceptAll(batch).isEmpty &&
      batch.exceptAll(finalRows).isEmpty)
  }

  test("transformWithState running totals converge to the batch aggregate") {
    // The modern arbitrary-state API needs the RocksDB state store.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // several micro-batches so per-user state genuinely accumulates
      val d = java.nio.file.Files.createTempDirectory("graft_tws")
      Tables.events(spark, TestSpark.sf)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(3).write.mode("overwrite").parquet(d.toString)
      val streamed = EventStreams.runToMemory(
        EventStreams.runningUserTotals(
          EventStreams.readEvents(spark, d.toString)).toDF(),
        "running_totals", OutputMode.Update())
      // totals are monotone in n_purchases per user; the final state is the
      // max row each user emitted
      val finalRows = streamed.groupBy($"user_id")
        .agg(max_by(struct($"n_purchases", $"cents_total"), $"n_purchases")
          .as("s"))
        .select($"user_id", $"s.n_purchases", $"s.cents_total")
      val batch = Tables.events(spark, TestSpark.sf)
        .groupBy($"user_id")
        .agg(count(when($"event_type" === "purchase", 1)).as("n_purchases"),
          coalesce(sum(when($"event_type" === "purchase",
            round($"value" * 100).cast("long"))), lit(0L)).as("cents_total"))
      assert(finalRows.count() == batch.count())
      assert(finalRows.exceptAll(batch).isEmpty &&
        batch.exceptAll(finalRows).isEmpty)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming image dedup converges to the batch data_mm_phash verdicts") {
    val d = java.nio.file.Files.createTempDirectory("graft_mm_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/documents.parquet"),
      d.resolve("documents.parquet"))
    val streamed = EventStreams.runToMemory(
      graft.streaming.MediaStreams.imageDedupStream(
        graft.streaming.MediaStreams.readDocs(spark, d.toString)).toDF(),
      "mm_dedup", OutputMode.Append())
      .select(col("doc_id"), col("phash"), col("is_dup"))
    val batch = Registry.byName("data_mm_phash").build(spark, TestSpark.sf)
      .select(col("doc_id"), col("phash"), col("is_dup"))
    // single input file -> one micro-batch -> keeper = global min doc_id,
    // identical to the batch keeper election
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("streaming image dedup flags a cross-batch duplicate against first-seen state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val out = graft.streaming.MediaStreams.imageDedupStream(docs).toDF()
    val q = out.writeStream.format("memory").queryName("mm_dedup_x")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((101L, "identical image text")) // batch 1: first sight
      q.processAllAvailable()
      input.addData((7L, "identical image text"))   // batch 2: same pixels
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("mm_dedup_x")
      .select($"doc_id", $"keeper_id", $"is_dup")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // first-seen keeper wins across batches: doc 7 is the DUP even though
    // its id is lower — the streaming (arrival-order) contract
    assert(rows == Seq((7L, 101L, true), (101L, 101L, false)))
  }

  test("streaming WARC ingest gate: cross-batch payload dedup, malformed " +
      "containers drop without killing the stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def rec(id: Long, payload: String): String =
      s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:graft:$id>\r\n" +
        s"Content-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n" +
        s"$payload\r\n\r\n"
    val input = MemoryStream[String]
    val out = graft.streaming.WarcStreams.ingestDedupStream(
      input.toDF().toDF("container")).toDF()
    val q = out.writeStream.format("memory").queryName("warc_gate")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      // batch 1: two records, one payload each
      input.addData(rec(101L, "same body") + rec(102L, "other body"))
      q.processAllAvailable()
      // batch 2: a re-crawl of "same body" under a LOWER id, plus a
      // malformed container that must contribute nothing
      input.addData(rec(7L, "same body"))
      input.addData("WARC/9.9\r\ngarbage")
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("warc_gate")
      .select($"rec_id", $"keeper_id", $"is_dup")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    // first-seen keeper survives the lower-id re-crawl; the malformed
    // container produced no verdicts at all
    assert(rows == Seq((7L, 101L, true), (101L, 101L, false),
      (102L, 102L, false)))
  }

  test("transformWithState TTL: expired state is evicted, counters restart") {
    // In ProcessingTime time-mode the query free-runs micro-batches to
    // advance the TTL clock, so neither processAllAvailable nor
    // Trigger.AvailableNow ever settles — the test POLLS the memory sink
    // for each expected state transition instead of blocking on the query.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def rowsOf(name: String): Seq[(Long, Long, Long)] =
        spark.table(name).select($"user_id", $"n_purchases", $"cents_total")
          .as[(Long, Long, Long)].collect().toSeq
      def waitFor(what: String)(cond: => Boolean): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (!cond && System.currentTimeMillis < deadline) Thread.sleep(250)
        assert(cond, s"timed out waiting for $what")
      }
      def run(name: String, ttl: java.time.Duration,
              sleepMs: Long): Seq[(Long, Long, Long)] = {
        val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
        def writeBatch(eventId: Long): Unit =
          spark.sql(
            s"""SELECT CAST($eventId AS BIGINT) AS event_id,
               |  TIMESTAMP_NTZ'2024-01-01 00:00:00' AS ts,
               |  CAST(7 AS BIGINT) AS user_id, 'purchase' AS event_type,
               |  CAST(10.0 AS DOUBLE) AS value, '{}' AS props""".stripMargin)
            .write.mode("append").parquet(dir)
        writeBatch(1L)
        val q = EventStreams.runningUserTotals(
            EventStreams.readEvents(spark, dir),
            org.apache.spark.sql.streaming.TTLConfig(ttl)).toDF()
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Update()).start()
        try {
          waitFor(s"$name batch 1")(rowsOf(name).nonEmpty)
          Thread.sleep(sleepMs)
          writeBatch(2L)
          waitFor(s"$name batch 2")(rowsOf(name).size >= 2)
        } finally q.stop()
        rowsOf(name)
      }
      // control: generous TTL -> state survives, counter reaches 2
      val kept = run("ttl_kept", java.time.Duration.ofHours(1), 100)
      assert(kept.contains((7L, 2L, 2000L)),
        s"state should survive under a long TTL, got $kept")
      // expiry: 2s TTL + 3.5s pause -> state evicted, counter restarts at 1
      val evicted = run("ttl_evicted", java.time.Duration.ofSeconds(2), 3500)
      assert(evicted == Seq((7L, 1L, 1000L), (7L, 1L, 1000L)),
        s"state must be evicted after its TTL, got $evicted")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming source reputation accumulates exact evidence across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.CurationStreams
    val input = MemoryStream[(Long, String, String)]
    val docs = input.toDF().toDF("doc_id", "text", "source")
    val out = CurationStreams.sourceReputationStream(docs).toDF()
    val q = out.writeStream.format("memory").queryName("src_rep")
      .outputMode(OutputMode.Update()).start()
    // quality_score: stopword_ratio*2 + mean_word_len*0.01 + [20..400]-len
    // bonus — "x y z" scores ~0.03 (low), 25 stopwords score > 2 (high)
    val low = "x y z"
    val high = Seq.fill(25)("the").mkString(" ")
    def verdicts = spark.table("src_rep")
      .select($"source", $"n_docs", $"is_blocked")
      .as[(String, Long, Boolean)].collect().toSeq
    try {
      // batch 1: 9 low-quality docs — under the evidence bar, not blocked
      input.addData((1L to 9L).map(i => (i, low, "farm")): _*)
      q.processAllAvailable()
      assert(verdicts.contains(("farm", 9L, false)))
      // batch 2: the 10th doc crosses MinEvidence — verdict flips on
      input.addData((10L, low, "farm"))
      q.processAllAvailable()
      assert(verdicts.contains(("farm", 10L, true)))
      // batch 3: sustained good content redeems the source (re-evaluated
      // verdict, unlike the image gate's immutable keepers)
      input.addData((11L to 40L).map(i => (i, high, "farm")): _*)
      q.processAllAvailable()
      assert(verdicts.contains(("farm", 40L, false)))
    } finally q.stop()
    // exact-evidence law: final sums equal a batch aggregate of the same
    // quantized expression over the full input
    val all = ((1L to 10L).map(i => (i, low, "farm")) ++
      (11L to 40L).map(i => (i, high, "farm")))
      .toDF("doc_id", "text", "source")
    val expect = CurationStreams.qualityDocs(all)
      .groupBy($"source").agg(count(lit(1)).as("n"), sum($"q6").as("s"))
      .as[(String, Long, Long)].head()
    val fin = spark.table("src_rep")
      .select($"source", $"n_docs", $"sum_q6")
      .as[(String, Long, Long)].collect()
      .filter(_._1 == "farm").maxBy(_._2)
    assert((fin._1, fin._2, fin._3) == expect)
  }

  test("streaming curation fate: single-batch corpus parity with the batch gate") {
    import graft.data.{Indexing, TextAnalysis}
    import graft.streaming.{CurationStreams, MediaStreams}
    val d = java.nio.file.Files.createTempDirectory("graft_fate_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/documents.parquet"),
      d.resolve("documents.parquet"))
    // the bloom bitmap, built exactly as data_decontaminate_bloom builds it
    val sh = Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      .select($"doc_id",
        explode(array_distinct(TextAnalysis.shingles($"toks", 3))).as("sh"))
    val bits = Indexing.bloomBits(
      sh.where($"doc_id" < 10).select($"sh").distinct(),
      "sh", IndexQueries.BloomK, IndexQueries.BloomM)
    val bitmap = Indexing.bloomBitmapString(bits, IndexQueries.BloomM)
    val streamed = EventStreams.runToMemory(
      CurationStreams.curationFateStream(
        MediaStreams.readDocs(spark, d.toString), bitmap,
        IndexQueries.BloomK,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout).toDF(),
      "fate_stream", OutputMode.Update())
      .select($"doc_id", $"fate").as[(Long, String)].collect().toMap
    val gate = Registry.byName("data_curation_gate").build(spark, TestSpark.sf)
      .select($"doc_id", $"fate").as[(Long, String)].collect().toMap
    val flagged = Registry.byName("data_decontaminate_bloom")
      .build(spark, TestSpark.sf)
      .select($"doc_id", $"any_flagged").as[(Long, Boolean)].collect().toMap
    assert(streamed.size == gate.size && streamed.nonEmpty)
    // parity law: per doc the stream verdict equals the gate's, except
    // `contaminated` (the axis the gate lacks) may only replace `kept`
    streamed.foreach { case (id, f) =>
      if (f == "contaminated") assert(gate(id) == "kept", s"doc $id")
      else assert(f == gate(id), s"doc $id: $f != ${gate(id)}")
    }
    // the contamination axis is EXACTLY the batch Bloom flag, wherever
    // the shared axes keep the doc (flagged covers the non-eval corpus)
    flagged.foreach { case (id, fl) =>
      assert((streamed(id) == "contaminated") == (fl && gate(id) == "kept"),
        s"doc $id")
    }
    // non-vacuous: the corpus exercises the quality stack, the
    // contamination axis AND a kept doc (it has no exact text dups —
    // the dup axis is pinned by the micro-batch test below)
    assert(streamed.values.exists(_ == "contaminated"))
    assert(streamed.values.exists(_ == "kept"))
    assert(streamed.values.exists(v => v == "quality" || v == "repetitive" ||
      v == "classifier"))
  }

  test("streaming curation fate: keeper state dedups across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.CurationStreams
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val bitmap = "0" * 64 // empty filter: contamination axis off
    val out = CurationStreams.curationFateStream(docs, bitmap, 3,
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout).toDF()
    val q = out.writeStream.format("memory").queryName("fate_mb")
      .outputMode(OutputMode.Update()).start()
    def fates = spark.table("fate_mb")
      .select($"doc_id", $"fate").as[(Long, String)].collect().toSeq
    val t = "alpha beta gamma delta"
    try {
      // batch 1: two copies of one text — the batch MINIMUM is keeper
      input.addData((5L, t), (3L, t))
      q.processAllAvailable()
      assert(fates.contains((5L, "exact_dup")))
      assert(fates.exists(r => r._1 == 3L && r._2 != "exact_dup"))
      // batch 2: the hash is REMEMBERED — a later copy is a dup on
      // arrival, and an unseen text is not
      input.addData((7L, t), (8L, "epsilon zeta eta theta"))
      q.processAllAvailable()
      assert(fates.contains((7L, "exact_dup")))
      assert(fates.exists(r => r._1 == 8L && r._2 != "exact_dup"))
    } finally q.stop()
  }

  test("index screen stream: the stored index is the cross-batch state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_idx_stream")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("verdicts").toString
    // seed the index from a corpus: cells [a b], [c d]
    graft.data.Dedup.writeCellIndex(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 2, idxPath)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = IndexStreams.screenStream(docs, idxPath, outPath,
      cellWords = 2, maintain = true, base.resolve("ckpt").toString)
    try {
      input.addData((10L, "a b x y")) // [a b] known, [x y] novel
      q.processAllAvailable()
      // [x y] persisted by batch 0's append: a later batch sees it as a
      // dup through the INDEX, with no state-store state anywhere
      input.addData((11L, "x y q r"), (12L, "a b c d"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outPath)
      .select($"doc_id", $"n_cells", $"n_dup_cells", $"batch_id")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((10L, 2L, 1L, 0L), (11L, 2L, 1L, 1L),
      (12L, 2L, 2L, 1L)))
    // the index grew by exactly the novel cells: [x y] then [q r]
    assert(spark.read.parquet(idxPath).count() == 4)
  }

  test("band screen stream: the stored band index is the cross-batch " +
      "near-dup state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_band_stream")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("verdicts").toString
    val textA = "the quick brown fox jumps over the lazy dog again"
    val textB = "completely unrelated novel content about something else"
    val (k, b, r) = (6, 3, 2)
    graft.data.Dedup.writeBandIndex(
      graft.data.Dedup.bandRows(Seq((1L, textA)).toDF("doc_id", "text"),
        "doc_id", "text", k, b, r),
      "doc_id", cap = 64, idxPath)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = IndexStreams.bandScreenStream(docs, idxPath, outPath,
      k, b, r, cap = 64, maintain = true, base.resolve("ckpt").toString)
    try {
      // batch 0: a copy of the stored doc collides in every band; an
      // unseen text collides nowhere
      input.addData((10L, textA), (11L, textB))
      q.processAllAvailable()
      // batch 1: textB was FIRST SEEN in batch 0 — its bands were
      // appended, so a later copy flags through the INDEX alone (the
      // cross-batch first-seen law, near-dup edition)
      input.addData((12L, textB))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outPath)
      .select($"doc_id", $"n_bands", $"n_hit_bands", $"n_candidates",
        $"is_near_dup_candidate", $"batch_id")
      .as[(Long, Long, Long, Long, Boolean, Long)].collect()
      .sortBy(_._1).toSeq
    assert(out == Seq(
      (10L, b.toLong, b.toLong, 1L, true, 0L),
      (11L, b.toLong, 0L, 0L, false, 0L),
      (12L, b.toLong, b.toLong, 1L, true, 1L)))
    // the index grew by exactly the novel (band, bucket, ref) rows:
    // corpus 3 + batch-0 docs 2×3 + batch-1 doc 3
    assert(spark.read.parquet(idxPath).count() == 12)
  }

  test("screenStream compactEvery: maintained index stays within the " +
      "per-shard file bound without changing verdicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_idx_compact_s")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("verdicts").toString
    graft.data.Dedup.writeCellIndex(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 2,
      idxPath)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = IndexStreams.screenStream(docs, idxPath, outPath,
      cellWords = 2, maintain = true, base.resolve("ckpt").toString,
      compactEvery = 1, maxFilesPerShard = 1)
    try {
      input.addData((10L, "a b x y")); q.processAllAvailable()
      input.addData((11L, "x y q r")); q.processAllAvailable()
      input.addData((12L, "q r s t")); q.processAllAvailable()
    } finally q.stop()
    // verdicts are the cell stream's usual cross-batch set
    val out = spark.read.parquet(outPath)
      .select($"doc_id", $"n_dup_cells")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((10L, 1L), (11L, 1L), (12L, 1L)))
    // after 3 append+compact cycles no shard directory exceeds the bound
    // (without compaction the [x y]/[q r] shards would hold 2+ files)
    val shardDirs = new java.io.File(idxPath).listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    assert(shardDirs.forall(d => d.listFiles().count(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith(".")) <= 1))
    // index content unchanged by compaction: seed 2 + one novel cell per
    // batch ([x y], [q r], [s t]), all distinct
    assert(spark.read.parquet(idxPath).count() == 5)
  }

  test("vector ingest stream: the maintained IVF index is the cross-batch " +
      "semantic-dup state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_vec_stream")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("verdicts").toString
    // corpus: two well-separated directions
    val vA = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val vC = Seq(0.0f, 0.0f, 1.0f, 0.0f) // unseen direction
    graft.data.Similarity.writeIvfIndex(
      Seq((1L, vA), (2L, vB)).toDF("vec_id", "embedding"),
      kCells = 2, rounds = 1, idxPath)
    val input = MemoryStream[(Long, Seq[Float])]
    val vecs = input.toDF().toDF("vec_id", "embedding")
    val q = IndexStreams.vectorIngestStream(vecs, idxPath, outPath,
      nprobe = 2, tau = 0.95, maintain = true,
      base.resolve("ckpt").toString)
    try {
      // batch 0: a copy of a stored vector flags; an unseen direction
      // does not (its nearest stored neighbor is orthogonal)
      input.addData((10L, vA), (11L, vC))
      q.processAllAvailable()
      // batch 1: vC was FIRST SEEN in batch 0 — appended with frozen
      // centroids, so a later near-copy flags through the INDEX alone
      input.addData((12L, vC))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outPath)
      .select($"vec_id", $"neighbor_id", $"is_semantic_dup", $"batch_id")
      .as[(Long, Option[Long], Boolean, Long)].collect().sortBy(_._1).toSeq
    assert(out.map(r => (r._1, r._3, r._4)) == Seq(
      (10L, true, 0L), (11L, false, 0L), (12L, true, 1L)))
    assert(out.find(_._1 == 10L).get._2.contains(1L)) // matched doc A
    assert(out.find(_._1 == 12L).get._2.contains(11L)) // matched batch-0 vC
    // the appended batches live in the index: 2 corpus + 3 streamed
    assert(spark.read.parquet(idxPath).count() == 5)
    // every receipt row carries the post-append retrain signal, and the
    // last batch's value agrees with a fresh drift audit of the index
    val finalNeeds = graft.data.Similarity.ivfDrift(spark, pin(idxPath))
      .where($"needs_retrain").count()
    val sig = spark.read.parquet(outPath)
      .select($"batch_id", $"n_cells_need_retrain")
      .as[(Long, Long)].collect().toSeq
    assert(sig.filter(_._1 == 1L).forall(_._2 == finalNeeds))
  }

  test("vector ingest receipts: the retrain signal flips when a skewed " +
      "batch lands, and the gate's auto-retrain answers it in-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_vec_drift")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("verdicts").toString
    // balanced 2-cell build (ids alternate so the lowest-id seeds span
    // both directions): two vectors per cell
    val vA = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val vA2 = Seq(0.9f, 0.1f, 0.0f, 0.0f)
    val vB = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    val vB2 = Seq(0.1f, 0.9f, 0.0f, 0.0f)
    val vC = Seq(0.0f, 0.0f, 1.0f, 0.0f) // unseen direction -> one cell
    graft.data.Similarity.writeIvfIndex(
      Seq((1L, vA), (2L, vB), (3L, vA2), (4L, vB2))
        .toDF("vec_id", "embedding"),
      kCells = 2, rounds = 1, idxPath)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = IndexStreams.vectorIngestStream(
      input.toDF().toDF("vec_id", "embedding"), idxPath, outPath,
      nprobe = 2, tau = 0.95, maintain = true,
      base.resolve("ckpt").toString, retrainRounds = 1)
    try {
      // batch 0: one vector into a 2-vector cell -> growth 1.5 < 2,
      // the signal stays quiet
      input.addData((10L, vB2))
      q.processAllAvailable()
      // batch 1: three vectors of an unseen direction pile into ONE
      // cell -> growth >= 2 at an over-uniform share -> the bell rings
      input.addData((11L, vC), (12L, vC), (13L, vC))
      q.processAllAvailable()
    } finally q.stop()
    // the receipt reports the PRE-retrain audit: the skewed batch is
    // the batch whose receipt shows the drift it caused
    val sig = spark.read.parquet(outPath)
      .select($"batch_id", $"n_cells_need_retrain")
      .as[(Long, Long)].collect().toSeq.distinct.sorted
    assert(sig == Seq((0L, 0L), (1L, 1L)),
      s"the receipt must flip on the skewed batch: $sig")
    // ... and the gate ANSWERED the bell before closing the batch: the
    // index is already retrained (fresh baseline, no flagged cells, all
    // eight vectors in the new generation) with no manual step
    assert(graft.data.Similarity.ivfDrift(spark, pin(idxPath))
      .where($"needs_retrain").count() == 0L)
    val drift = graft.data.Similarity.ivfDrift(spark, pin(idxPath))
      .select($"n_build", $"n_now").as[(Long, Long)].collect().toSeq
    assert(drift.forall(r => r._1 == r._2) && drift.map(_._2).sum == 8L)
    // serving runs against the retrained generation
    val served = graft.data.Similarity.ivfIndexServe(
      Seq((100L, vC)).toDF("vec_id", "embedding")
        .select($"vec_id".as("q_id"), $"embedding".as("q_vec")),
      pin(idxPath), k = 1, nprobe = 1)
      .select($"neighbor_id", $"cos_sim").as[(Long, Double)].collect()
    assert(served.length == 1 && served.head._2 > 0.99,
      s"the vC cluster must serve from the retrained index: ${served.toSeq}")
  }

  test("postings ingest stream: queries served between batches see every " +
      "previous batch with recompute-identical scores") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.data.Indexing
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_post_stream")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("receipts").toString
    Indexing.writePostingsIndex(
      Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text"),
      "doc_id", "text", idxPath)
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = IndexStreams.postingsIngestStream(docs, idxPath, outPath,
      maintain = true, base.resolve("ckpt").toString)
    val query = Seq((0L, "alpha")).toDF("query_id", "term")
    def serve() = Indexing.postingsIndexServe(query, pin(idxPath), 10, 1000000L)
      .select($"doc_id").as[Long].collect().toSet
    def recompute(all: Seq[(Long, String)]) = {
      val d = java.nio.file.Files.createTempDirectory("graft_post_rc")
        .resolve("i").toString
      Indexing.writePostingsIndex(all.toDF("doc_id", "text"),
        "doc_id", "text", d)
      Indexing.postingsIndexServe(query, pin(d), 10, 1000000L)
        .select($"doc_id", $"score").as[(Long, Long)].collect().toSet
    }
    try {
      input.addData((10L, "alpha delta"))
      q.processAllAvailable()
      assert(serve() == Set(1L, 2L, 10L))
      input.addData((11L, "alpha alpha"), (12L, "unrelated words"))
      q.processAllAvailable()
    } finally q.stop()
    // integer-identical to a from-scratch rebuild over all five docs:
    // df and N enter every idf, so the increments are what this checks
    val got = Indexing.postingsIndexServe(query, pin(idxPath), 10, 1000000L)
      .select($"doc_id", $"score").as[(Long, Long)].collect().toSet
    assert(got == recompute(Seq((1L, "alpha beta"), (2L, "alpha gamma"),
      (10L, "alpha delta"), (11L, "alpha alpha"), (12L, "unrelated words"))))
    // receipts: the artifact-side doc count grew batch over batch
    val receipts = spark.read.parquet(outPath)
      .select($"batch_id", $"batch_docs", $"indexed_docs")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(receipts == Seq((0L, 1L, 3L), (1L, 2L, 5L)))
    // retention state rides every receipt: the manifest version advances
    // with each append and the horizon stays within the gate's window
    val ret = spark.read.parquet(outPath)
      .select($"batch_id", $"manifest_version", $"n_retained_versions",
        $"oldest_retained_version")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(ret(1)._2 > ret(0)._2,
      s"the version watermark must advance: $ret")
    assert(ret.forall(r => r._3 >= 1L && r._4 <= r._2))
  }

  test("shard ingest stream: bootstraps the tokenized-shard artifact " +
      "from zero, re-delivered docs pack nothing, and the incremented " +
      "manifest equals a recompute over the files at rest") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_shard_stream")
    val shardPath = base.resolve("shards").toString
    val outPath = base.resolve("receipts").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val tfr = base.resolve("tfr").toString
    val q = IndexStreams.shardIngestStream(docs, TestSpark.sf, shardPath,
      outPath, maintain = true, base.resolve("ckpt").toString,
      tfrPath = Some(tfr))
    try {
      // batch 0 bootstraps the artifact from an empty directory
      input.addData((9001L, "the quick brown fox"),
        (9002L, "jumps over the lazy dog"))
      q.processAllAvailable()
      // batch 1 re-delivers doc 9001 (at-least-once) alongside a new doc:
      // the replayed id must pack NOTHING
      input.addData((9001L, "the quick brown fox"),
        (9003L, "a third document arrives"))
      q.processAllAvailable()
    } finally q.stop()
    // exactly the three distinct docs landed, each once
    val stored = spark.read.parquet(shardPath)
      .select(org.apache.spark.sql.functions.explode($"doc_ids").as("d"))
      .as[Long].collect().toSeq.sorted
    assert(stored == Seq(9001L, 9002L, 9003L))
    // the incrementally-maintained artifact equals the recompute
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("shard")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows(TrainQueries.readShardManifest(spark, shardPath)) ==
      rows(TrainQueries.shardTokenManifest(spark, shardPath)))
    // receipts: totals grow by the NOVEL docs only (2, then +1)
    val receipts = spark.read.parquet(outPath)
      .select($"batch_id", $"batch_docs", $"indexed_docs")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(receipts == Seq((0L, 2L, 2L), (1L, 2L, 3L)))
    // retention fields advance batch over batch and stay bounded
    val ret = spark.read.parquet(outPath)
      .select($"batch_id", $"manifest_version", $"n_retained_versions")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(ret(1)._2 > ret(0)._2 && ret.forall(_._3 >= 1L),
      s"retention receipt fields must advance: $ret")
    // the WIRE-FORMAT mirror was maintained at ingest: batch 0
    // bootstrapped the .tfrecord artifact, batch 1 rolled continuation
    // files forward through the O(batch) DELTA path (the gate pins
    // source retention ≥ 2 while a mirror is attached, so the batch-0
    // sync point survives batch 1's vacuum), and the at-rest bytes
    // aggregate identically to a from-scratch export of the final
    // parquet state
    val fresh = base.resolve("tfr_fresh").toString
    TrainQueries.writeTfRecordShards(spark, shardPath, fresh)
    val mirror = TrainQueries.tfrFileAggregate(spark, shardPath, tfr)
      .collect().toSeq
    assert(mirror == TrainQueries.tfrFileAggregate(spark, shardPath, fresh)
      .collect().toSeq,
      "the ingest-maintained tfrecord mirror must equal a from-scratch export")
    assert(mirror.forall(r => r.getLong(1) == r.getLong(4)),
      s"every at-rest record must roundtrip: $mirror")
    val tfrReceipts = spark.read.parquet(outPath)
      .select($"batch_id", $"tfr_files")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(tfrReceipts.forall(_._2 > 0L) &&
      tfrReceipts(1)._2 > tfrReceipts(0)._2,
      s"receipts must carry the growing wire-file count: $tfrReceipts")
  }

  test("shard ingest stream: the tfrecord mirror's source scan stays " +
      "O(batch) at the gate's default retention — each roll reads the " +
      "files its batch appended, never the growing index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_tfr_obatch")
    val shardPath = base.resolve("shards").toString
    val tfr = base.resolve("tfr").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // gate at its SHIPPED default retainVersions = 1 — exactly the
    // configuration whose parquet append used to vacuum the mirror's
    // sync point before every roll (the every-batch full-scan bug)
    val q = IndexStreams.shardIngestStream(docs, TestSpark.sf, shardPath,
      base.resolve("receipts").toString, maintain = true,
      base.resolve("ckpt").toString, retainVersions = 1,
      tfrPath = Some(tfr))
    val readsPerBatch = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      (0 until 5).foreach { i =>
        val before = TrainQueries.tfrSourceFilesRead.get()
        // distinct doc ids (the novelty screen's key) over in-vocab
        // words — an all-OOV text would drop at the tokenizer join
        input.addData((9100L + i, "the quick brown fox"))
        q.processAllAvailable()
        readsPerBatch += TrainQueries.tfrSourceFilesRead.get() - before
      }
    } finally q.stop()
    val totalFiles = graft.data.IndexManifest.load(spark, shardPath)
      .map(_.dataFiles.length).getOrElse(0)
    // batch 0 bootstraps via the full export (counts nothing — the
    // counter instruments appends); every later roll reads the DELTA:
    // a one-doc batch lands O(1) source files, so per-roll reads must
    // be flat and strictly below the files accumulated at rest
    assert(totalFiles >= 5,
      s"five appends must accumulate at least five source files: $totalFiles")
    assert(readsPerBatch.head == 0L,
      s"the bootstrap export must not count as an append scan: $readsPerBatch")
    val rolls = readsPerBatch.tail
    assert(rolls.forall(r => r >= 1L && r <= 2L),
      s"each roll must read only its batch's files: $readsPerBatch")
    assert(rolls.last < totalFiles,
      s"the last roll (${rolls.last} files) must not scan the index " +
        s"($totalFiles files at rest)")
    // and the maintained mirror still equals a from-scratch export
    val fresh = base.resolve("tfr_fresh").toString
    TrainQueries.writeTfRecordShards(spark, shardPath, fresh)
    assert(TrainQueries.tfrFileAggregate(spark, shardPath, tfr)
        .collect().toSeq ==
      TrainQueries.tfrFileAggregate(spark, shardPath, fresh).collect().toSeq,
      "O(batch) rolls must still converge to the from-scratch export")
  }

  test("edge ingest stream: the cluster index absorbs merging edges " +
      "across batches, the receipt's component count tracks the exact-" +
      "maintained stats artifact, and retention fields advance") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.data.Dedup
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_edge_stream")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("receipts").toString
    // corpus clusters {10,11}, {20,21}, {30} — 3 components at rest
    Dedup.writeComponentsIndex(
      Seq((10L, 11L), (20L, 21L), (30L, 30L)).toDF("a", "b"), "a", "b",
      idxPath)
    val input = MemoryStream[(Long, Long)]
    val edges = input.toDF().toDF("src", "dst")
    val q = IndexStreams.edgeIngestStream(edges, idxPath, outPath,
      maintain = true, base.resolve("ckpt").toString, compactEvery = 2)
    try {
      // batch 0: a new node CHAINS the two stored clusters -> 2 components
      input.addData((11L, 40L), (40L, 21L))
      q.processAllAvailable()
      // batch 1: a brand-new pair -> +1 component (3); batch count also
      // triggers the forwarding FOLD (compactEvery = 2)
      input.addData((100L, 101L))
      q.processAllAvailable()
    } finally q.stop()
    // the serve equals the from-scratch closure over corpus ∪ batches
    val serve = Dedup.componentsIndexServe(spark, pin(idxPath))
      .as[(Long, Long)].collect().toMap
    assert(serve == Map(10L -> 10L, 11L -> 10L, 20L -> 10L, 21L -> 10L,
      30L -> 30L, 40L -> 10L, 100L -> 100L, 101L -> 100L))
    // the fold ran: the broadcast forwarding table is truncated, with
    // no change to any serve result
    assert(Dedup.readComponentsForward(spark, pin(idxPath)).isEmpty)
    // receipts: exact per-batch component counts from the 1-row stats
    // artifact — never an index aggregate
    val receipts = spark.read.parquet(outPath)
      .select($"batch_id", $"batch_edges", $"n_components",
        $"manifest_version", $"n_retained_versions")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(receipts.map(r => (r._1, r._2, r._3)) ==
      Seq((0L, 2L, 2L), (1L, 1L, 3L)), s"receipts: $receipts")
    // retention state is operationally visible: the version watermark
    // advances batch over batch, the horizon stays bounded by the knob
    assert(receipts(1)._4 > receipts(0)._4)
    assert(receipts.forall(_._5 <= 2L))
    assert(Dedup.readComponentsStats(spark, pin(idxPath)).head().getLong(0) == 3L)
  }

  test("edge ingest stream, maintain=false over a PRE-stats index: the " +
      "receipt reports -1 components instead of the stream dying on the " +
      "missing artifact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.data.{Dedup, IndexManifest}
    import graft.streaming.IndexStreams
    val base = java.nio.file.Files.createTempDirectory("graft_edge_nostats")
    val idxPath = base.resolve("index").toString
    val outPath = base.resolve("receipts").toString
    Dedup.writeComponentsIndex(
      Seq((10L, 11L), (30L, 30L)).toDF("a", "b"), "a", "b", idxPath)
    // a LEGACY index: built before the stats artifact existed — strip
    // the pointer the way a pre-stats manifest would lack it
    val snap = IndexManifest.load(spark, idxPath).get
    IndexManifest.commit(spark, idxPath, snap,
      IndexManifest.Delta(removed = Seq(snap.artifacts("stats"))))
    val input = MemoryStream[(Long, Long)]
    val q = IndexStreams.edgeIngestStream(input.toDF().toDF("src", "dst"),
      idxPath, outPath, maintain = false,
      base.resolve("ckpt").toString)
    try {
      input.addData((10L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    // with no maintainer, nobody adopts the stats artifact: the receipt
    // carries the explicit -1 sentinel and the gate stays alive
    val receipts = spark.read.parquet(outPath)
      .select($"batch_id", $"batch_edges", $"n_components")
      .as[(Long, Long, Long)].collect().toSeq
    assert(receipts == Seq((0L, 1L, -1L)), s"receipts: $receipts")
    // and the observe-only gate mutated nothing
    assert(IndexManifest.load(spark, idxPath).get.dataFiles.toSet ==
      snap.dataFiles.toSet)
  }

  test("streaming curation fate: timed-out keeper cells evict; live cells re-arm") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    import graft.streaming.CurationStreams
    // timeout branch: state removed, nothing emitted — the TTL that
    // bounds the hash-set state in production
    val timedOut = TestGroupState.create[Long](Optional.of(7L),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L, Optional.empty(), true)
    val out = CurationStreams.keeperFate(ttl = true)(
      "h", Iterator.empty, timedOut)
    assert(out.isEmpty && timedOut.isRemoved)
    // live branch: the remembered keeper WINS (first-seen — a later
    // smaller id must NOT re-elect, or two copies of the content would
    // both be emitted as non-dup across batches), TTL re-armed
    val live = TestGroupState.create[Long](Optional.of(5L),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L, Optional.empty(), false)
    val flags = Seq(
      CurationStreams.FateFlags(9L, "h", passes_gopher = true, 0.0, 1.0,
        contaminated = false),
      CurationStreams.FateFlags(2L, "h", passes_gopher = true, 0.0, 1.0,
        contaminated = false))
    val fates = CurationStreams.keeperFate(ttl = true)(
      "h", flags.iterator, live).toSeq
    assert(live.get == 5L)
    assert(live.getTimeoutTimestampMs.isPresent)
    assert(fates.find(_.doc_id == 9L).get.fate == "exact_dup")
    assert(fates.find(_.doc_id == 2L).get.fate == "exact_dup")
    // no remembered keeper: the batch minimum is elected (the rule that
    // makes a single-batch corpus replay match the batch gate)
    val fresh = TestGroupState.create[Long](Optional.empty(),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L, Optional.empty(), false)
    val fates2 = CurationStreams.keeperFate(ttl = true)(
      "h", flags.iterator, fresh).toSeq
    assert(fresh.get == 2L)
    assert(fates2.find(_.doc_id == 2L).get.fate == "kept")
    assert(fates2.find(_.doc_id == 9L).get.fate == "exact_dup")
  }

  test("streaming source reputation over the corpus equals the batch quality axis") {
    val d = java.nio.file.Files.createTempDirectory("graft_rep_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${TestSpark.sf}/documents.parquet"),
      d.resolve("documents.parquet"))
    import graft.streaming.{CurationStreams, MediaStreams}
    val streamed = EventStreams.runToMemory(
      CurationStreams.sourceReputationStream(
        MediaStreams.readDocs(spark, d.toString)).toDF(),
      "src_rep_corpus", OutputMode.Update())
      .select(col("source"), col("n_docs"), col("sum_q6"))
    val batch = CurationStreams
      .qualityDocs(Tables.documents(spark, TestSpark.sf))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q6")).as("sum_q6"))
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
  }

  test("gate contract: every gate's receipt carries the retention fields " +
      "and batch_id, and a replayed batch id replaces its receipt " +
      "partition") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.StreamingQuery
    import graft.data.{Dedup, Indexing, Similarity}
    import graft.streaming.IndexStreams
    val corpus = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b c d")).toDF("doc_id", "text")
    val docs = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the lazy dog sleeps")).toDF("doc_id", "text")
    val vA = Seq(1.0f, 0.0f, 0.0f, 0.0f)
    val vB = Seq(0.0f, 1.0f, 0.0f, 0.0f)
    // (gate, build its index at a path, one batch of input, start the
    // gate on (input, index, receipts, checkpoint))
    val gates: Seq[(String, String => Unit, DataFrame,
                    (DataFrame, String, String, String) => StreamingQuery)] =
      Seq(
        ("screen", p => Dedup.writeCellIndex(corpus, "doc_id", "text", 2, p),
          docs, (in, p, out, ck) => IndexStreams.screenStream(in, p, out,
            cellWords = 2, maintain = true, ck)),
        ("band", p => Dedup.writeBandIndex(
            Dedup.bandRows(corpus, "doc_id", "text", 6, 3, 2), "doc_id",
            cap = 64, p),
          docs, (in, p, out, ck) => IndexStreams.bandScreenStream(in, p, out,
            6, 3, 2, cap = 64, maintain = true, ck)),
        ("vector", p => Similarity.writeIvfIndex(
            Seq((1L, vA), (2L, vB)).toDF("vec_id", "embedding"),
            kCells = 2, rounds = 1, p),
          Seq((10L, vA), (11L, vB)).toDF("vec_id", "embedding"),
          (in, p, out, ck) => IndexStreams.vectorIngestStream(in, p, out,
            nprobe = 2, tau = 0.95, maintain = true, ck)),
        ("shard", _ => (), docs,
          (in, p, out, ck) => IndexStreams.shardIngestStream(in,
            TestSpark.sf, p, out, maintain = true, ck)),
        ("edge", p => Dedup.writeComponentsIndex(
            Seq((10L, 11L), (20L, 21L)).toDF("a", "b"), "a", "b", p),
          Seq((11L, 21L), (30L, 31L)).toDF("src", "dst"),
          (in, p, out, ck) => IndexStreams.edgeIngestStream(in, p, out,
            maintain = true, ck)),
        ("postings", p => Indexing.writePostingsIndex(corpus, "doc_id",
            "text", p),
          docs, (in, p, out, ck) => IndexStreams.postingsIngestStream(in, p,
            out, maintain = true, ck)))
    gates.foreach { case (gate, build, batch, start) =>
      val base = java.nio.file.Files.createTempDirectory(s"graft_gate_$gate")
      val Seq(idx, out, ck, in) =
        Seq("index", "receipts", "ckpt", "input").map(base.resolve(_).toString)
      build(idx)
      batch.write.parquet(in)
      def run(): Unit = {
        val q = start(spark.readStream.schema(batch.schema).parquet(in),
          idx, out, ck)
        try q.processAllAvailable() finally q.stop()
      }
      run()
      val receipts = spark.read.parquet(out)
      val fields = Seq("manifest_version", "n_retained_versions",
        "oldest_retained_version", "batch_id")
      assert(fields.forall(receipts.columns.contains),
        s"$gate receipt columns: ${receipts.columns.toSeq}")
      val rows = receipts.select(fields.map(col): _*)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(rows.nonEmpty && rows.forall { case (v, n, oldest, id) =>
        id == 0L && v >= 1L && n >= 1L && oldest >= 1L && oldest <= v },
        s"$gate retention fields: $rows")
      // remove the last commit entry: the restart replays batch 0
      val part = new java.io.File(out, "batch_id=0")
      def partFiles() =
        part.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet
      val before = partFiles()
      Seq("0", ".0.crc").foreach(f =>
        new java.io.File(s"$ck/commits", f).delete(): Unit)
      run()
      val after = partFiles()
      assert(after.nonEmpty && (before intersect after).isEmpty,
        s"$gate: the replay must rewrite batch 0's receipt partition")
      assert(spark.read.parquet(out).count() == rows.length,
        s"$gate: a replayed batch must replace its receipt, not add to it")
    }
  }
}
