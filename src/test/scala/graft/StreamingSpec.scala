package graft

import java.nio.file.Files
import graft.streaming.StreamIngest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val env1 =
    """{"channel":"ticker","timestamp":"2024-03-01T10:00:00.000000Z","events":[
      |{"type":"update","tickers":[
      |{"type":"ticker","product_id":"BTC-USD","price":"50000.5","volume_24h":"123.25","time":"2024-03-01T09:59:58.500000Z"},
      |{"type":"ticker","product_id":"ETH-USD","price":"3000.25","volume_24h":"456.5"}]}]}""".stripMargin.replaceAll("\n", "")

  /** Spark jobs submitted by each of `runs` calls `body(1)`..`body(runs)`,
    * counted through a job-group listener.
    */
  private def jobsPerRun(group: String, runs: Int)(body: Int => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    // the listener bus is asynchronous: drain it before reading the count
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    sc.addSparkListener(listener)
    try (1 to runs).map { r =>
      drain()
      jobs.set(0)
      sc.setJobGroup(group, group)
      try body(r) finally sc.clearJobGroup()
      drain()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("parseTickerEnvelopes: explode, cast, and missing-time patch") {
    val df = Seq(env1).toDF("payload")
    val out = StreamIngest.parseTickerEnvelopes(df, "payload")
      .orderBy("product_id")
      .collect()
    assert(out.length == 2)
    val btc = out(0)
    assert(btc.getAs[String]("product_id") == "BTC-USD")
    assert(btc.getAs[Double]("price") == 50000.5)
    assert(btc.getAs[java.sql.Timestamp]("time").toInstant.toString
      == "2024-03-01T09:59:58.500Z")
    // ETH ticker has no time → patched from envelope timestamp
    val eth = out(1)
    assert(eth.getAs[java.sql.Timestamp]("time").toInstant.toString
      == "2024-03-01T10:00:00Z")
  }

  test("parseCandleTs: unix-seconds string and datetime string agree") {
    val df = Seq(("1700000000", "2023-11-14 22:13:20")).toDF("a", "b")
    val r = df.select(
      StreamIngest.parseCandleTs($"a").as("ta"),
      StreamIngest.parseCandleTs($"b").as("tb")).head()
    assert(r.getTimestamp(0) == r.getTimestamp(1))
  }

  test("LWW upsert: late candle re-emission converges to last writer (T2/K3)") {
    val state = tmpDir("lww-state") + "/candles"
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double, Long)] // (product, start, close, seq)
    val q = ms.toDF().toDF("product_id", "start_time", "close", "seq")
      .writeStream
      .foreachBatch(StreamIngest.lwwUpsertPartitioned(state,
        Seq("product_id", "start_time"), "seq", 4) _)
      .option("checkpointLocation", tmpDir("lww-ckpt"))
      .start()
    ms.addData(("BTC", 100L, 1.0, 1L), ("BTC", 200L, 2.0, 2L))
    q.processAllAvailable()
    // partial candle 100 re-emitted with a later value, plus a duplicate
    ms.addData(("BTC", 100L, 1.5, 3L), ("BTC", 200L, 2.0, 2L))
    q.processAllAvailable()
    q.stop()
    val got = StreamIngest.readLwwState(spark, state)
      .select("start_time", "close").as[(Long, Double)].collect().toMap
    assert(got == Map(100L -> 1.5, 200L -> 2.0))
  }

  test("LWW upsert is idempotent under micro-batch replay") {
    val state = tmpDir("lww-replay") + "/t"
    val batch = Seq(("BTC", 1L, 10.0, 5L), ("ETH", 1L, 20.0, 6L))
      .toDF("product_id", "start_time", "close", "seq")
    StreamIngest.lwwUpsertPartitioned(state, Seq("product_id", "start_time"),
      "seq", 4)(batch, 0L)
    val before = StreamIngest.readLwwState(spark, state).orderBy("product_id")
      .collect().toSeq
    // simulate checkpoint-recovery replay of the same batch
    StreamIngest.lwwUpsertPartitioned(state, Seq("product_id", "start_time"),
      "seq", 4)(batch, 0L)
    val after = StreamIngest.readLwwState(spark, state).orderBy("product_id")
      .collect().toSeq
    assert(before == after && before.size == 2)
  }

  test("streaming exact dedup: dropDuplicatesWithinWatermark on the " +
      "content hash (T2 x dedup pillar)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long)] // (content, event-time seconds)
    val dedup = ms.toDF().toDF("content", "sec")
      .withColumn("time", timestamp_seconds(col("sec")))
      .withColumn("content_hash", md5(col("content")))
      .withWatermark("time", "10 seconds")
      .dropDuplicatesWithinWatermark("content_hash")
    val q = dedup.writeStream.format("memory").queryName("t2_dedup")
      .outputMode("append").start()
    ms.addData(("doc a", 1L), ("doc a", 2L), ("doc b", 3L))
    q.processAllAvailable()
    // redelivery of "doc a" within the watermark window → dropped;
    // state is bounded by the watermark (unlike a global distinct)
    ms.addData(("doc a", 4L), ("doc c", 5L))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT content FROM t2_dedup")
      .as[String].collect().sorted.toSeq
    assert(got == Seq("doc a", "doc b", "doc c"))
  }

  test("partitioned LWW upsert: same results as the rewrite sink, " +
      "touched buckets only") {
    val state = tmpDir("lww-part") + "/t"
    val up = StreamIngest.lwwUpsertPartitioned(state,
      Seq("product_id", "start_time"), "seq", nBuckets = 8) _
    up(Seq(("BTC", 100L, 1.0, 1L), ("BTC", 200L, 2.0, 2L), ("ETH", 100L, 9.0, 3L))
      .toDF("product_id", "start_time", "close", "seq"), 0L)
    // later correction for one key + a stale redelivery that must lose
    up(Seq(("BTC", 100L, 1.5, 4L), ("BTC", 200L, 0.0, 1L))
      .toDF("product_id", "start_time", "close", "seq"), 1L)
    val got = StreamIngest.readLwwState(spark, state)
      .select("product_id", "start_time", "close")
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("BTC", 100L, 1.5), ("BTC", 200L, 2.0), ("ETH", 100L, 9.0)))
    // replay idempotence: re-upserting an absorbed batch changes nothing
    up(Seq(("BTC", 100L, 1.5, 4L))
      .toDF("product_id", "start_time", "close", "seq"), 1L)
    assert(StreamIngest.readLwwState(spark, state)
      .select("product_id", "start_time", "close")
      .as[(String, Long, Double)].collect().toSet == got)
    // state is bucket-partitioned on disk (the partition-overwrite layout)
    val dirs = new java.io.File(state).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("__bucket="))
    assert(dirs.nonEmpty && dirs.length <= 8)
  }

  test("live body: the third micro-batch through the five engine calls " +
      "runs a fixed number of Spark jobs") {
    import graft.serve.Serving
    import graft.ts.FeatureFrame
    val root = tmpDir("live-body")
    val prices = s"$root/prices"
    val candles = s"$root/candles"
    val iso = java.time.format.DateTimeFormatter.ofPattern(StreamIngest.IsoMicros)
      .withZone(java.time.ZoneOffset.UTC)
    val t0 = 1709287200L // 2024-03-01T10:00:00Z
    var seq = 0L
    // one 5-minute candle of two ticks per product, as producer envelopes
    def candle(c: Int): Seq[String] =
      for (p <- Seq("BTC-USD", "ETH-USD", "SOL-USD"); i <- 0 until 2) yield {
        seq += 1
        val t = iso.format(java.time.Instant.ofEpochSecond(t0 + 300L * c + 60L * i))
        val px = 100.0 + p.length + math.sin(c * 0.3 + i)
        s"""{"channel":"ticker","timestamp":"$t","seq":$seq,"events":[""" +
          s"""{"type":"update","tickers":[{"type":"ticker","product_id":"$p",""" +
          s""""price":"$px","volume_24h":"1000.0","time":"$t"}]}]}"""
      }
    // parse → LWW upsert → candles, each stage materialized as a live
    // batch body does
    def ingest(lines: Seq[String], batchId: Long): Unit = {
      val raw = lines.toDF("value")
      val parsed = StreamIngest.parseTickerEnvelopes(raw.select(col("value"),
          get_json_object(col("value"), "$.seq").cast("long").as("seq")),
        "value", Seq("seq")).persist()
      parsed.count()
      StreamIngest.lwwUpsertPartitioned(prices, Seq("product_id", "time"),
        "seq", 4)(parsed, batchId)
      parsed.unpersist()
      StreamIngest.buildCandles(StreamIngest.readLwwState(spark, prices), 300,
        None).write.mode("overwrite").parquet(candles)
    }
    // features → predictions → dual write
    def serve(): Unit = {
      val feats = FeatureFrame.enhance(spark.read.parquet(candles)
          .withColumn("id", unix_seconds(col("start_time")))
          .withColumn("volume", col("n_ticks").cast("double")),
        "product_id", "start_time", "id").persist()
      feats.count()
      val preds = Serving.predictLatest(feats, "product_id", "start_time", "id",
        "close", 16, 4, 300, "surrogate").persist()
      preds.count()
      Serving.dualWrite(preds, s"$root/predictions", s"$root/by_horizon")
      preds.unpersist()
      feats.unpersist()
    }
    // history past the 33-row warm-up and one 16-row window
    ingest((0 until 60).flatMap(candle), 0L)
    val counts = jobsPerRun("live-body-jobs", 3) { b =>
      ingest(candle(59 + b), b.toLong); serve()
    }
    assert(spark.read.parquet(s"$root/predictions").count() == 3 * 4)
    // parse 3, upsert 3, candles 2, features 5, predict 4, dual write 2;
    // job counts repeat exactly between runs, so any change is a real one
    assert(counts.last == 19, s"jobs per batch: $counts")
  }

  test("swap recovery: a bucket stranded in a retire dir by a mid-swap " +
      "crash is restored before the replayed batch reads state") {
    import org.apache.hadoop.fs.Path
    val state = tmpDir("lww-recover") + "/t"
    val up = StreamIngest.lwwUpsertPartitioned(state,
      Seq("k"), "seq", nBuckets = 4) _
    up(Seq(("a", 1.0, 1L), ("b", 2.0, 2L), ("c", 3.0, 3L))
      .toDF("k", "v", "seq"), 0L)
    val fs = new Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the crash window between rename(dst -> retire) and
    // rename(staged -> dst): every live bucket sits in the retire dir,
    // none in place — the worst case of the old code's silent-loss window
    val retire = new Path(state + "__retire_1")
    fs.mkdirs(retire)
    new java.io.File(state).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("__bucket=")).foreach { b =>
        assert(fs.rename(new Path(state + "/" + b), new Path(retire, b)))
      }
    // plus the crashed batch's orphaned staging dir
    val stage = new Path(state + "__stage_1")
    fs.mkdirs(new Path(stage, "__bucket=0"))
    // the replayed batch must restore the retired buckets FIRST — else
    // its merge reads empty state and "b"/"c" vanish
    up(Seq(("a", 1.5, 4L)).toDF("k", "v", "seq"), 1L)
    val got = StreamIngest.readLwwState(spark, state)
      .select("k", "v").as[(String, Double)].collect().toSet
    assert(got == Set(("a", 1.5), ("b", 2.0), ("c", 3.0)))
    assert(!fs.exists(retire) && !fs.exists(stage))
  }

  test("partitioned rollup upsert: stream-maintained aggregates equal the " +
      "batch fold, replayed batches are fenced, touched buckets only") {
    val state = tmpDir("rollup-part") + "/t"
    val up = StreamIngest.rollupUpsertPartitioned(state,
      Seq("k"), "v", nBuckets = 8) _
    val b0 = Seq(("a", 1.00), ("a", 2.50), ("b", 10.00))
    val b1 = Seq(("a", 0.25), ("c", 7.75), ("c", -1.00))
    val b2 = Seq(("b", 0.10))
    up(b0.toDF("k", "v"), 0L)
    up(b1.toDF("k", "v"), 1L)
    up(b2.toDF("k", "v"), 2L)
    def snap() = StreamIngest.readRollupState(spark, state)
      .select("k", "n", "sum_cents", "mn", "mx")
      .as[(String, Long, Long, Double, Double)].collect().toSet
    val got = snap()
    // oracle: the same decomposable aggregates folded over ALL rows at once
    val expect = (b0 ++ b1 ++ b2).toDF("k", "v")
      .groupBy("k").agg(
        count(lit(1)).as("n"),
        sum(round(col("v") * 100).cast("long")).as("sum_cents"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
      .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(got == expect, s"stream-merged state != batch fold: $got")
    // replay fence: re-delivering the LAST batch (same batchId — the
    // foreachBatch recovery contract) must NOT double-count
    up(b2.toDF("k", "v"), 2L)
    assert(snap() == got, "replayed batch was merged twice")
    // state is bucket-partitioned on disk (the staged-swap layout), and
    // no staging directory survives a completed batch
    val dirs = new java.io.File(state).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("__bucket="))
    assert(dirs.nonEmpty && dirs.length <= 8)
    assert(!new java.io.File(state).getParentFile.listFiles()
      .exists(_.getName.contains("__stage_")), "staging dir leaked")
  }

  test("rollup cents quantization: DECIMAL(18,2) HALF_UP per row, not the " +
      "binary round(v*100)") {
    // 0.575 as a double is 0.57499999…: round(0.575*100) = 57, but the
    // 2-decimal money contract says 58 (HALF_UP on the decimal rendering
    // — what CAST(v AS DECIMAL(18,2)) does). Pin the contract through the
    // full upsert path, including a merge across two batches.
    val state = tmpDir("rollup-cents") + "/t"
    val up = StreamIngest.rollupUpsertPartitioned(state,
      Seq("k"), "v", nBuckets = 4) _
    up(Seq(("a", 0.575), ("a", 1.0), ("b", 2.675)).toDF("k", "v"), 0L)
    up(Seq(("a", 0.005)).toDF("k", "v"), 1L)
    val got = StreamIngest.readRollupState(spark, state)
      .select("k", "sum_cents").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> (58L + 100L + 1L), "b" -> 268L),
      s"cent quantization drifted from the DECIMAL(18,2) contract: $got")
  }

  test("rollup fence fails fast on batchId regression (fresh checkpoint " +
      "against an old state dir) instead of silently dropping batches") {
    val state = tmpDir("rollup-regress") + "/t"
    val up = StreamIngest.rollupUpsertPartitioned(state,
      Seq("k"), "v", nBuckets = 2) _
    up(Seq(("a", 1.0)).toDF("k", "v"), 5L)
    // same batchId replay: fenced no-op (the recovery contract)
    up(Seq(("a", 1.0)).toDF("k", "v"), 5L)
    // REGRESSED batchId: a new checkpoint lineage — must throw, not drop
    val e = intercept[IllegalStateException] {
      up(Seq(("a", 9.0)).toDF("k", "v"), 0L)
    }
    assert(e.getMessage.contains("checkpoint lineage"), e.getMessage)
    // and the state was not corrupted by the refused batch
    val got = StreamIngest.readRollupState(spark, state)
      .select("k", "n").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 1L)))
  }

  test("partitioned rollup upsert: a steady-state batch runs a fixed " +
      "number of Spark jobs") {
    val state = tmpDir("rollup-jobs") + "/t"
    val up = StreamIngest.rollupUpsertPartitioned(state,
      Seq("k"), "v", nBuckets = 4) _
    def batch(b: Int) =
      (0 until 24).map(i => (s"k${i % 8}", b + i * 0.25)).toDF("k", "v")
    up(batch(0), 0L)
    val counts = jobsPerRun("rollup-jobs", 3)(b => up(batch(b), b.toLong))
    assert(StreamIngest.readRollupState(spark, state)
      .select("k", "n").as[(String, Long)].collect().toSet ==
      (0 until 8).map(i => (s"k$i", 4L * 3)).toSet)
    // touched-bucket collect 3 (the partial's groupBy, its cache stage,
    // the map-side collect), map-side replay fence 1, staged merge write
    // 2; job counts repeat exactly between runs, so any change is a real
    // one
    assert(counts.last == 6, s"jobs per batch: $counts")
  }

  test("observability: per-batch observed ingest metrics equal batch " +
      "ground truth, and the folded health report is batch==stream") {
    import graft.streaming.Observability
    // Three micro-batches with known corrupt (NaN/Inf/null) and late
    // rows; the observe() counters ride the stream plan, the listener
    // captures them per batch, and the SAME aggregates run as a batch
    // Observation over the union — values must be identical.
    val threshold = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val batches: Seq[Seq[(java.sql.Timestamp, java.lang.Double)]] = Seq(
      Seq((ts("2024-03-01 10:00:00"), 1.5),
        (ts("2024-02-28 23:59:59"), 2.0),            // late
        (ts("2024-03-01 10:01:00"), Double.NaN)),    // corrupt
      Seq((ts("2024-03-01 11:00:00"), null),         // corrupt
        (ts("2024-02-01 00:00:00"), Double.PositiveInfinity)), // late+corrupt
      Seq((ts("2024-03-01 12:00:00"), 3.25)))
    val expectPerBatch = batches.map { b =>
      (b.size.toLong,
        b.count(r => r._2 == null || r._2.isNaN || r._2.isInfinite).toLong,
        b.count(_._1.before(threshold)).toLong)
    }

    val listener = new Observability.MetricsListener
    spark.streams.addListener(listener)
    try {
      implicit val ctx = spark.sqlContext
      val mem = MemoryStream[(java.sql.Timestamp, java.lang.Double)]
      val observed = Observability.observeIngestStream(
        mem.toDF().toDF("ts", "value"), "value", "ts", lit(threshold))
      val q = observed.writeStream
        .format("noop")
        .option("checkpointLocation", tmpDir("obs-chk"))
        .start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      // listener events post asynchronously on the listener bus
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (listener.batches.count(_._2 > 0) < batches.size &&
          System.nanoTime() < deadline) Thread.sleep(50)
      val got = listener.batches.filter(_._2 > 0)
        .map(b => (b._2, b._3, b._4))
      assert(got == expectPerBatch,
        s"per-batch observed metrics drifted: got=$got want=$expectPerBatch")

      // batch==stream: the same aggregates as a batch Observation over
      // the union, folded through the same healthReport
      val all = batches.flatten
      val batchDf = spark.createDataFrame(
        java.util.Arrays.asList(all.map(r =>
          org.apache.spark.sql.Row(r._1, r._2)): _*),
        new org.apache.spark.sql.types.StructType()
          .add("ts", "timestamp").add("value", "double"))
      val obs = new org.apache.spark.sql.Observation()
      Observability.observeIngestBatch(batchDf, obs, "value", "ts",
        lit(threshold)).write.format("noop").mode("overwrite").save()
      val m = obs.get
      val batchReport = Observability.healthReport(spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(0L,
          m("n_rows").asInstanceOf[Long],
          m("corrupt_rows").asInstanceOf[Long],
          m("late_rows").asInstanceOf[Long])),
        Observability.metricsSchema)).collect().toSeq
      val streamReport = Observability.healthReport(
        listener.snapshot(spark).where(col("n_rows") > 0))
        .collect().toSeq
      assert(streamReport == batchReport,
        s"health report batch!=stream: $streamReport vs $batchReport")
      // the fixture is degraded by construction (3 corrupt rows)
      assert(batchReport.head.getAs[String]("status") == "degraded")
    } finally spark.streams.removeListener(listener)
  }

  private def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("curation quality gate runs identically in streaming (map-only ops)") {
    // The corpus-filter signals (token count, quality, language-ID, PII
    // scrub) are pure column expressions, so the SAME code gates a
    // stream of arriving documents — assert batch/stream bit-equality on
    // a doc micro-corpus. This is the ingest-time quality gate a crawl
    // pipeline runs before anything lands in the lake.
    import graft.text.TextAnalysis._
    implicit val ctx = spark.sqlContext
    def gate(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("quality", round(qualityScore("text"), 4))
      .withColumn("lang_pred", langId("text"))
      .where(col("n_tokens") >= 3)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog of the day"),
      (2L, "el que de la y los un dia es de la casa"),
      (3L, "x"),
      (4L, "a a a a a a the of to and is in")).map { case (i, t) => (i, t) }
    val batchOut = gate(docs.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().toSeq
    val ms = MemoryStream[(Long, String)]
    val outName = "curation_gate_stream"
    val q = gate(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(outName)
      .outputMode("append").start()
    ms.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamOut = spark.table(outName).orderBy("doc_id").collect().toSeq
    assert(streamOut == batchOut)
  }

  test("streaming ingest gate: incrementalDedup admits each micro-batch " +
    "against the growing corpus") {
    // The production loop around NearDup.incrementalDedup: every arriving
    // micro-batch is deduped against (corpus so far + earlier batch rows),
    // admitted survivors JOIN the corpus before the next batch. Batch 2
    // must be caught by a doc admitted in batch 1 — the property a
    // stateless per-batch gate cannot give.
    import graft.dedup.NearDup
    implicit val ctx = spark.sqlContext
    val t0 = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val t1 = "completely different words describing a very unrelated subject matter entirely here now"
    val t2 = "fresh new content that appears in this batch for the very first time ever"
    var corpus = Seq((0L, t0)).toDF("doc_id", "text").localCheckpoint()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = NearDup.incrementalDedup(corpus, batch,
          "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
          .select("new_doc").distinct()
        val admitted = batch.join(flagged,
          batch("doc_id") === flagged("new_doc"), "left_anti")
        // checkpoint: the corpus lineage must not grow per batch
        corpus = corpus.unionByName(admitted).localCheckpoint()
        ()
      }
      .start()
    ms.addData((10L, t1), (11L, t1)) // batch 1: novel + its within-batch dup
    q.processAllAvailable()
    ms.addData((20L, t1), (21L, t2)) // batch 2: dup of ADMITTED 10, novel
    q.processAllAvailable()
    q.stop()
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 10L, 21L),
      s"corpus after two gated batches: $ids")
  }

  test("streaming ingest gate: incrementalWinnow catches copied passages " +
    "across micro-batches") {
    // Substring-level twin of the incrementalDedup gate: batch 2 copies a
    // PASSAGE (not the whole doc) from a doc admitted in batch 1, wrapped
    // in fresh text — whole-doc Jaccard dilutes it, shared winnow
    // fingerprints catch it.
    import graft.dedup.NearDup
    implicit val ctx = spark.sqlContext
    val t0 = "the quick brown fox jumps over the lazy dog while the " +
      "river flows quietly past the old mill and the miller sleeps"
    val passage = "an entirely original passage about the economics of " +
      "medieval grain milling along the upper river valley"
    val t1 = s"some preamble text first. $passage. and a closing remark"
    val t2 = "fresh new content that appears in this batch for the very " +
      "first time ever with nothing copied from anywhere else at all"
    val t3 = s"totally different framing here yet $passage. stolen middle"
    var corpus = Seq((0L, t0)).toDF("doc_id", "text").localCheckpoint()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = NearDup.incrementalWinnow(corpus, batch,
          "doc_id", "text", k = 16, w = 8, minShared = 3, stopDf = 64)
          .select("new_doc").distinct()
        val admitted = batch.join(flagged,
          batch("doc_id") === flagged("new_doc"), "left_anti")
        corpus = corpus.unionByName(admitted).localCheckpoint()
        ()
      }
      .start()
    ms.addData((10L, t1), (11L, t1)) // novel + exact within-batch copy
    q.processAllAvailable()
    ms.addData((20L, t3), (21L, t2)) // passage stolen from ADMITTED 10, novel
    q.processAllAvailable()
    q.stop()
    val ids = corpus.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 10L, 21L),
      s"corpus after two winnow-gated batches: $ids")
  }

  test("streaming ingest gate: winnow suppression metrics alert when the " +
    "stop list swallows a replica-heavy batch (batch == stream pinned)") {
    // VERDICT r10 #2: at ≥100 replicas every fingerprint crosses the
    // total-df stop list and the gate mines ZERO pairs — designed
    // template-text behavior, but recall collapse must alert, not pass
    // silently. The gated form returns per-batch metrics; the health
    // report's verdict is on the stop FRACTION (zero pairs from a clean
    // batch stays healthy).
    import graft.dedup.NearDup
    import graft.streaming.Observability
    implicit val ctx = spark.sqlContext
    val t0 = "the quick brown fox jumps over the lazy dog while the " +
      "river flows quietly past the old mill and the miller sleeps"
    val passage = "an entirely original passage about the economics of " +
      "medieval grain milling along the upper river valley"
    val t1 = s"some preamble text first. $passage. and a closing remark"
    val template = "identical template boilerplate text repeated across " +
      "every page of the mirrored site with nothing else in the body"
    var corpus = Seq((0L, t0)).toDF("doc_id", "text").localCheckpoint()
    val gateLog =
      scala.collection.mutable.ArrayBuffer.empty[(Long, NearDup.WinnowGateMetrics)]
    val flaggedLog = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val (flagged, m) = NearDup.incrementalWinnowGated(corpus, batch,
          "doc_id", "text", k = 16, w = 8, minShared = 3, stopDf = 8)
        gateLog += ((id, m))
        flaggedLog(id) = flagged.select("new_doc", "dup_of")
          .as[(Long, Long)].collect().toSet
        val admitted = batch.join(
          flagged.select("new_doc").distinct(),
          batch("doc_id") === col("new_doc"), "left_anti")
        corpus = corpus.unionByName(admitted).localCheckpoint()
        CacheScope.release(spark) // batch boundary frees the verdict frame
        ()
      }
      .start()
    // batch 0: healthy — one passage thief, one novel doc
    ms.addData((10L, t1), (11L, s"fresh framing yet $passage. stolen"))
    q.processAllAvailable()
    // batch 1: adversarial — 12 copies of one template (> stopDf=8), so
    // every template fingerprint crosses the TOTAL-df stop list
    ms.addData((20L to 31L).map(i => (i, template)): _*)
    q.processAllAvailable()
    q.stop()

    val Seq((_, healthy), (_, suppressed)) = gateLog.toSeq
    assert(healthy.pairsMined >= 1, "the passage thief must be mined")
    assert(healthy.stopFrac <= 0.5, s"healthy batch stopFrac: $healthy")
    assert(suppressed.pairsMined == 0,
      s"the stop list must swallow the replica batch: $suppressed")
    assert(suppressed.stopFrac > 0.9 && suppressed.fpStopped > 0,
      s"suppression must be visible in the metrics: $suppressed")

    // batch == stream: re-running each micro-batch as a direct batch call
    // over the same (corpus, delta) yields identical flags AND metrics
    val corpus0 = Seq((0L, t0)).toDF("doc_id", "text")
    val b0 = Seq((10L, t1), (11L, s"fresh framing yet $passage. stolen"))
      .toDF("doc_id", "text")
    val (f0, m0) = NearDup.incrementalWinnowGated(corpus0, b0,
      "doc_id", "text", 16, 8, 3, 8)
    assert(m0 == healthy)
    assert(f0.select("new_doc", "dup_of").as[(Long, Long)].collect().toSet
      == flaggedLog(0L))
    // and gated == ungated on the output rows (semantics unchanged)
    val ungated = NearDup.incrementalWinnow(corpus0, b0,
        "doc_id", "text", 16, 8, 3, 8)
      .select("new_doc", "dup_of").as[(Long, Long)].collect().toSet
    assert(f0.select("new_doc", "dup_of").as[(Long, Long)].collect().toSet
      == ungated)
    CacheScope.release(spark)

    // the health-report row: the metrics table folds to 'suppressed'
    // because one batch collapsed, and a healthy-only table stays healthy
    val mf = Observability.gateMetricsFrame(spark, gateLog.toSeq)
    val rep = Observability.gateHealthReport(mf).collect().head
    assert(rep.getAs[String]("status") == "suppressed")
    assert(rep.getAs[Long]("pairs_mined") == healthy.pairsMined)
    val repH = Observability.gateHealthReport(
      Observability.gateMetricsFrame(spark, gateLog.toSeq.take(1)))
      .collect().head
    assert(repH.getAs[String]("status") == "healthy")
  }

  test("streaming ingest gate: incrementalSemDedup flags within-cell " +
    "cosine dups against retained state") {
    // The embedding twin of the MinHash/winnow gates: arriving vectors
    // are cell-assigned and compared only within their cell against the
    // retained corpus + earlier batch rows. Batch 2's dup must be caught
    // by a vector ADMITTED in batch 1.
    import graft.vector.VectorSearch
    implicit val ctx = spark.sqlContext
    val cents: Array[(Long, Array[Float])] = Array(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
    val corpus0 = Seq((0L, Seq(0.9f, 0.1f, 0f, 0f)))
      .toDF("vec_id", "embedding").localCheckpoint()
    var corpus = corpus0
    val flaggedAcc = scala.collection.mutable.Set.empty[(Long, Long)]
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val flagged = VectorSearch.incrementalSemDedup(corpus, batch,
          "vec_id", "embedding", cents, threshold = 0.99)
        flaggedAcc ++= flagged.select("new_vec", "dup_of")
          .as[(Long, Long)].collect()
        val admitted = batch.join(
          flagged.select("new_vec").distinct(),
          batch("vec_id") === col("new_vec"), "left_anti")
        corpus = corpus.unionByName(admitted).localCheckpoint()
        ()
      }
      .start()
    // batch 1: exact-direction dup of corpus 0 (cell 0), novel in cell 1
    ms.addData((10L, Seq(0.45f, 0.05f, 0f, 0f)), (11L, Seq(0f, 0.8f, 0.1f, 0f)))
    q.processAllAvailable()
    // batch 2: dup of ADMITTED 11 (cell 1), novel direction in cell 0
    ms.addData((20L, Seq(0f, 1.6f, 0.2f, 0f)), (21L, Seq(0.7f, -0.5f, 0f, 0f)))
    q.processAllAvailable()
    q.stop()
    val ids = corpus.select("vec_id").as[Long].collect().toSet
    assert(ids == Set(0L, 11L, 21L),
      s"corpus after two semantic-gated batches: $ids")
    // batch/stream agreement on the flagged set: one batch call over all
    // arrivals vs the initial corpus gives the same flags (no flag in
    // this fixture chains through a dropped doc, so the sets are equal)
    val arrivals = Seq(
      (10L, Seq(0.45f, 0.05f, 0f, 0f)), (11L, Seq(0f, 0.8f, 0.1f, 0f)),
      (20L, Seq(0f, 1.6f, 0.2f, 0f)), (21L, Seq(0.7f, -0.5f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val oneShot = VectorSearch.incrementalSemDedup(corpus0, arrivals,
        "vec_id", "embedding", cents, threshold = 0.99)
      .select("new_vec", "dup_of").as[(Long, Long)].collect().toSet
    assert(flaggedAcc.toSet == oneShot,
      s"stream flags $flaggedAcc vs batch flags $oneShot")
  }

  test("streaming ingest gate: semdedup cap engagement is observable — a " +
    "replica-heavy batch reports star_capped (batch == stream pinned)") {
    // The r11 star cap's twin of the winnow suppression test: a batch
    // whose cells overflow the cap is still gated (exact-verified star +
    // top-1 rep mediation) but pair-INCOMPLETE — that engagement must be
    // a metric, not prose.
    import graft.vector.VectorSearch
    import graft.streaming.Observability
    implicit val ctx = spark.sqlContext
    val cents: Array[(Long, Array[Float])] = Array(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)))
    val corpus0 = Seq((0L, Seq(1f, 0.01f, 0f)), (1L, Seq(0f, 1f, 0.01f)))
      .toDF("vec_id", "embedding").localCheckpoint()
    var corpus = corpus0
    val gateLog = scala.collection.mutable
      .ArrayBuffer.empty[(Long, VectorSearch.SemGateMetrics)]
    val flaggedLog = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val (flagged, m) = VectorSearch.incrementalSemDedupGated(corpus,
          batch, "vec_id", "embedding", cents, threshold = 0.99,
          maxPerCell = Some(2))
        gateLog += ((id, m))
        flaggedLog(id) = flagged.select("new_vec", "dup_of")
          .as[(Long, Long)].collect().toSet
        val admitted = batch.join(
          flagged.select("new_vec").distinct(),
          batch("vec_id") === col("new_vec"), "left_anti")
        corpus = corpus.unionByName(admitted).localCheckpoint()
        CacheScope.release(spark)
        ()
      }
      .start()
    // batch 0: healthy — one vector per cell, both under the cap
    ms.addData((10L, Seq(1f, 0.011f, 0f)), (11L, Seq(0f, 1f, 0.5f)))
    q.processAllAvailable()
    // batch 1: adversarial — 12 near-copies land in ONE cell (> cap 2)
    ms.addData((20L to 31L).map(i =>
      (i, Seq(1f, 0.01f + (i - 20) * 0.0001f, 0f))): _*)
    q.processAllAvailable()
    q.stop()

    val Seq((_, healthy), (_, capped)) = gateLog.toSeq
    assert(healthy.hotCells == 0 && healthy.starFrac == 0.0,
      s"under-cap batch must not engage the star: $healthy")
    assert(healthy.pairsFlagged >= 1, "vector 10 dups corpus 0")
    assert(capped.hotCells == 1 && capped.starredMembers == 11 &&
      capped.starFrac > 0.9,
      s"replica batch must report its star engagement: $capped")

    // batch == stream: a direct gated batch call over the same inputs
    // yields identical flags AND metrics
    val b1 = (20L to 31L).map(i =>
      (i, Seq(1f, 0.01f + (i - 20) * 0.0001f, 0f)))
      .toDF("vec_id", "embedding")
    val corpus1 = corpus0.unionByName(
      Seq((10L, Seq(1f, 0.011f, 0f)), (11L, Seq(0f, 1f, 0.5f)))
        .toDF("vec_id", "embedding")
        .where(col("vec_id") === 11L)) // 10 was flagged, only 11 admitted
    val (f1, m1) = VectorSearch.incrementalSemDedupGated(corpus1, b1,
      "vec_id", "embedding", cents, 0.99, Some(2))
    assert(m1 == capped)
    assert(f1.select("new_vec", "dup_of").as[(Long, Long)].collect().toSet
      == flaggedLog(1L))
    // and gated == ungated on the output rows at the same cap
    val plain = VectorSearch.incrementalSemDedup(corpus1, b1,
        "vec_id", "embedding", cents, 0.99, Some(2))
      .select("new_vec", "dup_of").as[(Long, Long)].collect().toSet
    assert(f1.select("new_vec", "dup_of").as[(Long, Long)].collect().toSet
      == plain)
    CacheScope.release(spark)

    // health-report rows: the full table reports star_capped; the
    // healthy-only prefix stays healthy
    val rep = Observability.semGateHealthReport(
      Observability.semGateMetricsFrame(spark, gateLog.toSeq))
      .collect().head
    assert(rep.getAs[String]("status") == "star_capped")
    assert(rep.getAs[Long]("starred_members") == 11)
    val repH = Observability.semGateHealthReport(
      Observability.semGateMetricsFrame(spark, gateLog.toSeq.take(1)))
      .collect().head
    assert(repH.getAs[String]("status") == "healthy")
  }

  test("gate health reports trip on a single bad batch diluted by many " +
    "healthy ones (ADVICE r11)") {
    // One fully-suppressed/starred batch among 20 healthy ones keeps the
    // AGGREGATE fraction well under 0.5 — the exact silent-degradation
    // shape the reports exist to catch. The verdict must come from the
    // per-batch max, not the diluted aggregate.
    import graft.dedup.NearDup.WinnowGateMetrics
    import graft.streaming.Observability
    import graft.vector.VectorSearch.SemGateMetrics
    val winRows: Seq[(Long, WinnowGateMetrics)] =
      (0L until 20L).map(b => b -> WinnowGateMetrics(1000L, 10L, 0.01, 50L)) :+
        (20L -> WinnowGateMetrics(1000L, 1000L, 1.0, 0L))
    val rep = Observability.gateHealthReport(
      Observability.gateMetricsFrame(spark, winRows)).collect().head
    assert(rep.getAs[Double]("stop_frac") < 0.5) // diluted aggregate...
    assert(rep.getAs[Double]("max_batch_stop_frac") == 1.0)
    assert(rep.getAs[String]("status") == "suppressed") // ...still alerts

    val semRows: Seq[(Long, SemGateMetrics)] =
      (0L until 20L).map(b => b -> SemGateMetrics(1000L, 1L, 5L, 0.005, 3L)) :+
        (20L -> SemGateMetrics(1000L, 4L, 900L, 0.9, 1L))
    val srep = Observability.semGateHealthReport(
      Observability.semGateMetricsFrame(spark, semRows)).collect().head
    assert(srep.getAs[Double]("star_frac") < 0.5)
    assert(srep.getAs[Double]("max_batch_star_frac") == 0.9)
    assert(srep.getAs[String]("status") == "star_capped")
  }

  test("streaming centroid maintenance equals batch means under any split") {
    import graft.streaming.StreamingCentroids
    import graft.streaming.StreamingCentroids.VecIn
    implicit val ctx = spark.sqlContext
    // dyadic-rational coordinates: double addition is exact in any order,
    // so stream-vs-batch equality is EXACT, not approximate
    val vecs = (0 until 24).map { i =>
      VecIn(cell = i % 3, vec = Seq(i * 0.25, 8.0 - i * 0.5, (i % 5) * 1.5))
    }
    val ms = MemoryStream[VecIn]
    val sink = s"centroids_${System.nanoTime()}"
    val q = StreamingCentroids.attach(ms.toDS())
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .option("checkpointLocation", tmpDir("cent-ckpt"))
      .start()
    // three uneven micro-batches — the split must not matter
    ms.addData(vecs.take(5): _*)
    q.processAllAvailable()
    ms.addData(vecs.slice(5, 6): _*)
    q.processAllAvailable()
    ms.addData(vecs.drop(6): _*)
    q.processAllAvailable()
    q.stop()
    // last emission per cell = final running mean
    val got = spark.table(sink)
      .groupBy("cell").agg(max(struct(col("n"), col("centroid"))).as("s"))
      .select(col("cell"), col("s.n"), col("s.centroid"))
      .as[(Long, Long, Seq[Double])].collect()
      .map { case (c, n, v) => c -> ((n, v)) }.toMap
    val expect = vecs.groupBy(_.cell).map { case (c, vs) =>
      val n = vs.size
      val sums = vs.map(_.vec).transpose.map(_.sum)
      c -> ((n.toLong, sums.map(_ / n)))
    }
    assert(got == expect) // exact equality, per the dyadic fixture
    // and the per-batch emissions are cumulative: n is non-decreasing
    val ns = spark.table(sink).select("cell", "n")
      .as[(Long, Long)].collect().groupBy(_._1)
    ns.values.foreach { rows =>
      val sorted = rows.map(_._2).sorted
      assert(sorted.last == expect(rows.head._1)._1)
    }
  }

  test("streaming DAU sketch: bit-identical to the batch fold under any " +
      "split, and near the exact distinct count") {
    import graft.streaming.StreamingEngagement
    import graft.streaming.StreamingEngagement.{DayUsers, EventIn}
    implicit val ctx = spark.sqlContext
    // 3 days x overlapping user populations; users deliberately revisit
    // within and across batches (idempotent max-merge must absorb both)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val events = (0 until 600).map { i =>
      val day = i % 3
      val user = (i * 37) % 180 + day * 1000L
      EventIn(day, user,
        new java.sql.Timestamp(base + day * 86400000L + (i % 60) * 60000L))
    }
    def run(splits: Seq[Seq[EventIn]]): Map[Long, (Long, Int)] = {
      val ms = MemoryStream[EventIn]
      val sink = s"dau_${System.nanoTime()}"
      // the fixture interleaves 3 days inside each micro-batch, so the
      // allowed lateness must span the interleave — a tight watermark
      // would (correctly) drop the older days' rows as late
      val q = StreamingEngagement.attach(ms.toDS(), "10 days",
          ttlMs = 7L * 86400000L)
        .writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", tmpDir("dau-ckpt"))
        .start()
      splits.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      q.stop()
      // last emission per day = the final sketch state
      spark.table(sink)
        .groupBy("day")
        .agg(max(struct(col("filled_registers"), col("users_est"))).as("s"))
        .select(col("day"), col("s.users_est"), col("s.filled_registers"))
        .as[(Long, Long, Int)].collect()
        .map { case (d, e, f) => d -> ((e, f)) }.toMap
    }
    val a = run(Seq(events.take(7), events.slice(7, 450), events.drop(450)))
    val b = run(Seq(events.take(333), events.drop(333)))
    // split-invariance is EXACT: per-register max is commutative,
    // associative, idempotent
    assert(a == b, s"stream results differ across splits: $a vs $b")
    // and both equal the batch fold of the same rows, register-exact
    val batch = events.groupBy(_.day).map { case (d, rs) =>
      val regs = StreamingEngagement.fold(Array.empty,
        rs.iterator.map(_.user_id))
      d -> ((StreamingEngagement.estimate(regs),
        StreamingEngagement.filled(regs)))
    }
    assert(a == batch, s"stream $a vs batch fold $batch")
    // sketch accuracy: within 5% of the exact distinct count per day
    val exact = events.groupBy(_.day).map { case (d, rs) =>
      d -> rs.map(_.user_id).distinct.size
    }
    exact.foreach { case (d, n) =>
      val est = a(d)._1.toDouble
      assert(math.abs(est - n) / n < 0.05,
        s"day $d: est $est vs exact $n")
    }
  }

  test("streaming DAU sketch survives kill-and-restart: registers restored " +
      "from the state store, post-restart estimate covers pre-crash users") {
    import graft.streaming.StreamingEngagement
    import graft.streaming.StreamingEngagement.EventIn
    val srcDir = tmpDir("dau-restart-src")
    def writeFile(name: String, users: Range): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        users.map { u =>
          s"""{"day":0,"user_id":$u,"ts_ms":${3600000L + u * 1000L}}"""
        }.mkString("\n").getBytes)
    def run(ckpt: String, outDir: String): Unit = {
      val events = spark.readStream
        .schema("day LONG, user_id LONG, ts_ms LONG").json(srcDir)
        .select(col("day"), col("user_id"),
          timestamp_millis(col("ts_ms")).as("ts"))
        .as[EventIn]
      val q = StreamingEngagement
        .attach(events, "10 days", ttlMs = 30L * 86400000L)
        .writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        // memory sinks can't recover from a checkpoint; foreachBatch can
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[StreamingEngagement.DayUsers],
            _: Long) => df.write.mode("append").parquet(outDir); ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val ckpt = tmpDir("dau-restart-ckpt")
    writeFile("b1.json", 0 until 100)
    run(ckpt, tmpDir("dau-restart-out1"))
    // arrives while down: 50 users never seen before the crash
    writeFile("b2.json", 100 until 150)
    val out2 = tmpDir("dau-restart-out2")
    run(ckpt, out2) // restart from the same checkpoint
    val after = spark.read.parquet(out2)
      .where(col("day") === 0)
      .orderBy(col("filled_registers").desc)
      .select("users_est", "filled_registers")
      .as[(Long, Int)].collect().head
    val allRegs = StreamingEngagement.fold(Array.empty,
      (0 until 150).iterator.map(_.toLong))
    assert(after == ((StreamingEngagement.estimate(allRegs),
        StreamingEngagement.filled(allRegs))),
      "post-restart emission must equal the fold over ALL 150 users — " +
        "only possible if the registers came back from the state store")
    val b2Only = StreamingEngagement.fold(Array.empty,
      (100 until 150).iterator.map(_.toLong))
    assert(StreamingEngagement.filled(b2Only) !=
      StreamingEngagement.filled(allRegs),
      "sanity: a state-losing run would be distinguishable")
  }

  test("streaming Misra-Gries heavy hitters: bounded state, no overcount, " +
      "undercount within n/(k+1), all true heavy hitters surface") {
    import graft.streaming.StreamingHeavyHitters
    import graft.streaming.StreamingHeavyHitters.{ShardSummary, TermIn}
    implicit val ctx = spark.sqlContext
    val K = 8
    val NSHARDS = 4
    // Zipf-ish stream: term_j appears ~600/j times — a few heavy terms,
    // a long tail that forces constant MG evictions
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val stream = (1 to 40).flatMap { j =>
      (0 until 600 / j).map(r => s"term$j")
    }.zipWithIndex.map { case (t, i) =>
      TermIn(StreamingHeavyHitters.shardOf(t, NSHARDS), t,
        new java.sql.Timestamp(base + i * 1000L), i.toLong)
    }
    val ms = MemoryStream[TermIn]
    val sink = s"mg_${System.nanoTime()}"
    val q = StreamingHeavyHitters.attach(ms.toDS(), K)
      .writeStream.format("memory").queryName(sink)
      .outputMode("update")
      .option("checkpointLocation", tmpDir("mg-ckpt"))
      .start()
    Seq(stream.take(100), stream.slice(100, 1700), stream.drop(1700))
      .foreach { b => ms.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // final summary per shard = the one with the largest n_items
    val finalRows = spark.table(sink)
      .as[ShardSummary].collect()
      .groupBy(_.shard).map { case (s, rows) => s -> rows.maxBy(_.n_items) }
    val trueCounts = stream.groupBy(_.term)
      .map { case (t, rs) => t -> rs.size.toLong }
    val shardN = stream.groupBy(_.shard)
      .map { case (s, rs) => s -> rs.size.toLong }
    finalRows.foreach { case (s, sum) =>
      assert(sum.entries.size <= K, s"shard $s: state exceeded k")
      assert(sum.n_items == shardN(s))
      val bound = shardN(s) / (K + 1)
      sum.entries.foreach { case (t, c) =>
        assert(c <= trueCounts(t), s"$t: MG overcounted")
        assert(trueCounts(t) - c <= bound,
          s"$t: undercount ${trueCounts(t) - c} exceeds n/(k+1)=$bound")
      }
      // coverage: every term whose true count clears the bound is present
      trueCounts.foreach { case (t, n) =>
        if (StreamingHeavyHitters.shardOf(t, NSHARDS) == s && n > bound)
          assert(sum.entries.contains(t),
            s"true heavy hitter $t (n=$n > $bound) missing from shard $s")
      }
    }
  }

  test("kafka wiring is guarded: absent connector fails loud, not weird") {
    assume(!StreamIngest.kafkaConnectorAvailable,
      "connector present — the activation test below covers this env")
    val e = intercept[IllegalArgumentException] {
      StreamIngest.startKafkaTickerIngest(spark, "b:9092", "t",
        tmpDir("kx") + "/s", tmpDir("kx-ck"))
    }
    assert(e.getMessage.contains("spark-sql-kafka"))
  }

  test("kafka ingest activates when the connector ships (guarded integration)") {
    // Canceled in this container (no spark-sql-kafka jar); on a cluster
    // that ships the connector this asserts the source wiring resolves —
    // future-proofs the guard in the direction the guard test can't.
    assume(StreamIngest.kafkaConnectorAvailable,
      "no spark-sql-kafka jar in this environment")
    val raw = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", "localhost:1")
      .option("subscribe", "t")
      .load()
    assert(Seq("key", "value", "topic", "offset")
      .forall(raw.schema.fieldNames.contains))
  }

  test("checkpointed file-source resume: no reprocessing, no loss (T7/K7)") {
    val srcDir = tmpDir("stream-src")
    val ckpt = tmpDir("stream-ckpt")
    val state = tmpDir("stream-state") + "/t"
    def writeFile(name: String, rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        rows.mkString("\n").getBytes)

    writeFile("b1.json", Seq(
      """{"product_id":"BTC","start":"100","close":"1.0","seq":1}""",
      """{"product_id":"BTC","start":"200","close":"2.0","seq":2}"""))
    val schema = "product_id STRING, start STRING, close STRING, seq LONG"
    def run(): Unit = {
      val q = spark.readStream.schema(schema).json(srcDir)
        .select(col("product_id"),
          StreamIngest.parseCandleTs(col("start")).as("start_time"),
          col("close").cast("double").as("close"), col("seq"))
        .writeStream
        .foreachBatch(StreamIngest.lwwUpsertPartitioned(state,
          Seq("product_id", "start_time"), "seq", 4) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    assert(StreamIngest.readLwwState(spark, state).count() == 2)
    // second file arrives while "down"; restart from the same checkpoint
    writeFile("b2.json", Seq(
      """{"product_id":"BTC","start":"200","close":"2.5","seq":3}""",
      """{"product_id":"ETH","start":"100","close":"9.0","seq":4}"""))
    run()
    val got = StreamIngest.readLwwState(spark, state)
      .select("product_id", "close").as[(String, Double)].collect().toSet
    assert(got == Set(("BTC", 1.0), ("BTC", 2.5), ("ETH", 9.0)))
  }

  test("corrupt records are quarantined to a column, not dropped or fatal") {
    val rows = Seq(
      """{"start":"100","close":"1.0","open":"1","high":"1","low":"1","volume":"1","product_id":"BTC"}""",
      """{not json at all""",
      """[1,2,3]""").toDF("value")
    val parsed = StreamIngest.parseWithCorruptColumn(rows, "value",
      StreamIngest.candleSchema)
    assert(parsed.count() == 3)
    val good = parsed.where($"_corrupt".isNull)
    assert(good.count() == 1 &&
      good.select("data.product_id").as[String].head() == "BTC")
    val bad = parsed.where($"_corrupt".isNotNull).select("_corrupt")
      .as[String].collect()
    assert(bad.toSet == Set("""{not json at all""", "[1,2,3]"))
  }

  test("metrics append write accumulates evaluation rows (K6)") {
    val out = tmpDir("metrics") + "/m"
    val m1 = Seq(("BTC", 1, 0.5, 10L)).toDF("product_id", "horizon", "mae", "n")
    val m2 = Seq(("BTC", 2, 0.7, 10L)).toDF("product_id", "horizon", "mae", "n")
    m1.write.mode("append").parquet(out)
    m2.write.mode("append").parquet(out)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("kafkaPayload round-trips through the candle parse path (K1)") {
    val rows = Seq(("1700000000", "10.5", "9.5", "10.0", "10.2", "3.5", "BTC"))
      .toDF("start", "high", "low", "open", "close", "volume", "product_id")
    val payload = StreamIngest.kafkaPayload(rows, "product_id")
    val out = payload.collect().head
    assert(out.getString(0) == "BTC")
    val back = StreamIngest.parseCandles(payload, "value").head()
    assert(back.getAs[String]("product_id") == "BTC")
    assert(back.getAs[Double]("close") == 10.2)
    assert(back.getAs[java.sql.Timestamp]("start_time").toInstant.toString
      == "2023-11-14T22:13:20Z")
  }

  test("archive sink: one JSON doc per record, {channel}/{product} layout (K4/P17)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[String]
    val parsed = StreamIngest.parseCandles(ms.toDF().toDF("value"), "value")
      .withColumn("channel", lit("candles"))
    val out = tmpDir("archive-out")
    val q = StreamIngest.startArchiveSink(parsed, out, tmpDir("archive-ckpt"))
    ms.addData(
      """{"start":"100","close":"1.0","open":"1.0","high":"1.0","low":"1.0","volume":"1","product_id":"BTC"}""",
      """{"start":"200","close":"2.0","open":"2.0","high":"2.0","low":"2.0","volume":"1","product_id":"ETH"}""")
    q.processAllAvailable()
    q.stop()
    val chans = new java.io.File(out).listFiles().map(_.getName)
    assert(chans.contains("channel=candles"))
    val prods = new java.io.File(out, "channel=candles").listFiles().map(_.getName)
    assert(prods.toSet.intersect(Set("product_id=BTC", "product_id=ETH")).size == 2)
    assert(spark.read.json(out + "/channel=candles/product_id=BTC").count() == 1)
  }

  test("streaming shard router: arriving docs land in their stable KeyHash " +
      "shard, stream/batch assignment identical (export gate)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val out = tmpDir("shard-route-out") + "/docs"
    val q = ms.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.withColumn("shard",
          pmod(graft.functions.KeyHash.column(col("doc_id")), lit(8L)))
          .write.mode("append").partitionBy("shard").parquet(out)
      }
      .option("checkpointLocation", tmpDir("shard-route-ckpt"))
      .start()
    ms.addData((0L until 40L).map(i => (i, s"doc $i")))
    q.processAllAvailable()
    ms.addData((40L until 60L).map(i => (i, s"doc $i")))
    q.processAllAvailable()
    q.stop()
    val dirs = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("shard=")).toSet
    assert(dirs.size == 8, s"60 docs across 8 shards should hit all: $dirs")
    // stream assignment == batch assignment, doc by doc (the LWW/quality
    // gates' bit-equality posture applied to the export router)
    val got = spark.read.parquet(out)
      .select(col("doc_id"), col("shard").cast("long")).as[(Long, Long)]
      .collect().toMap
    assert(got.size == 60, "every doc routed exactly once")
    def kh(k: Long): Long = {
      val P = graft.functions.KeyHash.P
      ((k % P) * 48271 % P) * 48271 % P * 48271 % P % 8
    }
    got.foreach { case (id, sh) =>
      assert(sh == kh(id), s"doc $id: stream shard $sh != batch ${kh(id)}")
    }
  }

  test("TTL stateful dedup: duplicates flagged while state lives, state " +
      "evicted by the watermark, re-arrival passes (bounded-state gate)") {
    import java.sql.Timestamp
    implicit val ctx = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600000L + min * 60000L)
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val docs = ms.toDF().toDF("key", "doc_id", "ts")
      .as[graft.streaming.StatefulDedup.DocIn]
    val q = graft.streaming.StatefulDedup
      .attach(docs, watermarkDelay = "0 seconds", ttlMs = 10 * 60000L)
      .writeStream.format("memory").queryName("ttl_dedup")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ttl-dedup-ckpt"))
      .start()
    // batch 1: first arrival passes, in-batch duplicate flagged
    ms.addData((1L, 10L, ts(0)), (1L, 11L, ts(1)))
    q.processAllAvailable()
    // batch 2: unrelated key advances the watermark to t=5
    ms.addData((2L, 20L, ts(5)))
    q.processAllAvailable()
    // batch 3: key 1 again within TTL (timeout now t=6+10) -> dup
    ms.addData((1L, 12L, ts(6)))
    q.processAllAvailable()
    // batch 4: watermark jumps past the timeout (t=30 > 16)
    ms.addData((3L, 30L, ts(30)))
    q.processAllAvailable()
    // batch 5: a batch with no key-1 data lets the expired timeout fire
    ms.addData((4L, 40L, ts(31)))
    q.processAllAvailable()
    // batch 6: key 1 re-arrives AFTER eviction -> passes again
    ms.addData((1L, 13L, ts(32)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ttl_dedup")
      .select("doc_id", "is_dup", "first_doc")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(10L) == ((false, 10L)), "first arrival passes")
    assert(got(11L) == ((true, 10L)), "in-batch duplicate flagged")
    assert(got(12L) == ((true, 10L)), "within-TTL duplicate flagged")
    assert(got(13L) == ((false, 13L)),
      "after watermark-driven eviction the key passes again (bounded state)")
  }

  test("TTL stateful dedup survives late-but-accepted rows when TTL < " +
      "watermark delay (timeout clamped past the watermark, never moved " +
      "backward)") {
    // Regression (ADVICE r6): with ttlMs < watermarkDelay a late row's
    // lastTs + ttl can land BEHIND the current watermark;
    // setTimeoutTimestamp then threw IllegalArgumentException and killed
    // the query. The clamp floors the timeout at watermark + 1 and keeps
    // it monotone per key.
    import java.sql.Timestamp
    implicit val ctx = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600000L + min * 60000L)
    val ms = MemoryStream[(Long, Long, Timestamp)]
    val docs = ms.toDF().toDF("key", "doc_id", "ts")
      .as[graft.streaming.StatefulDedup.DocIn]
    // With ttl << watermark delay, a late-but-accepted row's
    // lastTs + ttl lands BARELY past (or, race-depending, behind) the
    // eviction watermark. Pre-fix that either threw
    // IllegalArgumentException (killing the query) or silently moved the
    // key's timeout EARLIER than previously set, evicting live state.
    // The observable contract pinned here: the timeout never moves
    // backward, so a key deduped at minute 30 stays deduped until
    // 30 + ttl even when late rows arrive in between.
    val q = graft.streaming.StatefulDedup
      .attach(docs, watermarkDelay = "20 minutes", ttlMs = 60000L) // ttl 1 min
      .writeStream.format("memory").queryName("ttl_dedup_late")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ttl-dedup-late-ckpt"))
      .start()
    // batch 1: key 9 seeds state, timeout = 31 min; watermark 0
    ms.addData((9L, 90L, ts(30)))
    q.processAllAvailable()
    // batch 2: max ET 45 min → watermark 25 min for batch 3
    ms.addData((7L, 70L, ts(45)))
    q.processAllAvailable()
    // batch 3: key 9 late-but-accepted (26 > wm 25). Naive re-arm is
    // 26 + 1 = 27 min — BEHIND the already-set 31; the clamp keeps 31.
    ms.addData((9L, 91L, ts(26)))
    q.processAllAvailable()
    assert(q.exception.isEmpty,
      s"query must survive a late-but-accepted row: ${q.exception}")
    // batch 4 → watermark 28 for batch 5; batch 5 has no key-9 rows, so
    // a backslid 27-min timeout would fire HERE and evict live state
    ms.addData((6L, 60L, ts(48)))
    q.processAllAvailable()
    ms.addData((5L, 50L, ts(49)))
    q.processAllAvailable()
    // batch 6: wm 29 < 31 — state must still be alive → still a dup
    ms.addData((9L, 92L, ts(30)))
    q.processAllAvailable()
    // batches 7+8: wm jumps past 31 → timeout fires → re-arrival passes
    ms.addData((4L, 40L, ts(60)))
    q.processAllAvailable()
    ms.addData((3L, 30L, ts(61)))
    q.processAllAvailable()
    ms.addData((9L, 93L, ts(45)))
    q.processAllAvailable()
    assert(q.exception.isEmpty, s"query must stay alive: ${q.exception}")
    q.stop()
    val got = spark.table("ttl_dedup_late")
      .select("doc_id", "is_dup", "first_doc")
      .as[(Long, Boolean, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got(90L) == ((false, 90L)), "first arrival passes")
    assert(got(91L) == ((true, 90L)), "late-but-accepted row deduped, not fatal")
    assert(got(92L) == ((true, 90L)),
      "timeout must not move backward: state alive until first + ttl")
    assert(got(93L) == ((false, 93L)),
      "clamped timeout still fires once the watermark passes it")
  }

  test("processing-time trigger drains the polling micro-batch loop (T6)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(String, Long, Double, Long)]
    val state = tmpDir("t6-state") + "/t"
    val q = ms.toDF().toDF("product_id", "start_time", "close", "seq")
      .writeStream
      .foreachBatch(StreamIngest.lwwUpsertPartitioned(state,
        Seq("product_id", "start_time"), "seq", 4) _)
      .option("checkpointLocation", tmpDir("t6-ckpt"))
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    ms.addData(("BTC", 1L, 5.0, 1L))
    q.processAllAvailable()
    ms.addData(("BTC", 2L, 6.0, 2L))
    q.processAllAvailable()
    q.stop()
    assert(StreamIngest.readLwwState(spark, state).count() == 2)
  }

  test("rows-to-frame adapter builds a typed frame from driver rows (S7)") {
    import org.apache.spark.sql.Row
    val df = Tables.fromRows(spark,
      Seq(Row("BTC", 1.0), Row("ETH", 2.0)),
      "product_id STRING, price DOUBLE")
    assert(df.schema.fieldNames.toSeq == Seq("product_id", "price"))
    assert(df.where($"price" > 1.5).count() == 1)
  }

  test("session_window closes sessions after the gap in a stream (T5)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val outDir = tmpDir("sess-out")
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val q = ms.toDF().toDF("time", "user_id", "value")
      .withWatermark("time", "10 seconds")
      .groupBy(col("user_id"), session_window(col("time"), "60 seconds").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("sw.start").as("start"), col("n"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", tmpDir("sess-ckpt"))
      .outputMode("append")
      .start()
    ms.addData(
      (ts("2024-03-01T10:00:00Z"), 1L, 1.0),
      (ts("2024-03-01T10:00:30Z"), 1L, 1.0), // same session (gap 30s < 60s)
      (ts("2024-03-01T10:02:00Z"), 1L, 1.0)) // new session (gap 90s)
    q.processAllAvailable()
    ms.addData((ts("2024-03-01T10:10:00Z"), 1L, 1.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .select("start", "n").as[(java.sql.Timestamp, Long)].collect().toMap
    assert(out(ts("2024-03-01T10:00:00Z")) == 2L)
    assert(out(ts("2024-03-01T10:02:00Z")) == 1L)
  }

  test("buildCandles: watermarked tumbling window emits closed candles (T3/T4)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double, Double)]
    val ticks = ms.toDF().toDF("time", "product_id", "price", "volume_24h")
    val outDir = tmpDir("candles-out")
    val q = StreamIngest.buildCandles(ticks, 60, Some("10 seconds"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", tmpDir("candles-ckpt"))
      .outputMode("append")
      .start()
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    ms.addData(
      (ts("2024-03-01T10:00:05Z"), "BTC", 100.0, 1.0),
      (ts("2024-03-01T10:00:20Z"), "BTC", 105.0, 1.0),
      (ts("2024-03-01T10:00:50Z"), "BTC", 95.0, 1.0))
    q.processAllAvailable()
    // advance event time far past the watermark to close the first window
    ms.addData((ts("2024-03-01T10:03:00Z"), "BTC", 99.0, 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .where(col("start_time") === ts("2024-03-01T10:00:00Z"))
      .select("open", "high", "low", "close", "n_ticks").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getDouble(0) == 100.0 && r.getDouble(1) == 105.0 &&
      r.getDouble(2) == 95.0 && r.getDouble(3) == 95.0 && r.getLong(4) == 3L)
  }

  test("stream-stream interval join: prediction meets only its in-window " +
      "actual; watermarks bound both buffers (T4/J2 live)") {
    // The live face of q_j2_horizon_metrics: predictions and
    // later-arriving actuals as two unbounded streams, joined on key
    // within a 2-minute horizon. Both sides carry watermarks AND the join
    // condition carries the time bound, so Spark derives a state-eviction
    // horizon for each buffer — without it, stream-stream join state
    // grows forever. Inner join + append mode: a pair emits once both
    // watermarks clear it.
    implicit val ctx = spark.sqlContext
    val preds = MemoryStream[(java.sql.Timestamp, String, Double)]
    val acts = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    val p = preds.toDF().toDF("p_time", "p_key", "pred")
      .withWatermark("p_time", "10 seconds")
    val a = acts.toDF().toDF("a_time", "a_key", "actual")
      .withWatermark("a_time", "10 seconds")
    val outDir = tmpDir("ssjoin-out")
    val q = p.join(a, expr(
        """p_key = a_key AND
          |a_time >= p_time AND
          |a_time <= p_time + interval 2 minutes""".stripMargin))
      .select(col("p_key").as("key"), col("p_time"), col("a_time"),
        col("pred"), col("actual"))
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", tmpDir("ssjoin-ckpt"))
      .outputMode("append")
      .start()
    preds.addData((ts("2024-03-01T10:00:00Z"), "BTC", 101.0))
    acts.addData(
      (ts("2024-03-01T10:01:00Z"), "BTC", 99.0),  // inside the horizon
      (ts("2024-03-01T10:05:00Z"), "BTC", 97.0))  // outside (> 2 min)
    q.processAllAvailable()
    // advance BOTH watermarks past the horizon so the pair is final
    preds.addData((ts("2024-03-01T10:20:00Z"), "ZZZ", 0.0))
    acts.addData((ts("2024-03-01T10:20:00Z"), "ZZZ", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(outDir)
      .where(col("key") === "BTC").collect()
    assert(out.length == 1, s"exactly the in-horizon pair joins: ${out.toSeq}")
    assert(out.head.getAs[Double]("pred") == 101.0)
    assert(out.head.getAs[Double]("actual") == 99.0)
  }

  test("flatMapGroupsWithState survives kill-and-restart: dedup state is " +
      "restored from the state store and output equals the uninterrupted " +
      "run (K7 for user state, not just source offsets)") {
    // T7/K7 proves OFFSET recovery; this pins STATE-STORE recovery: a
    // key deduped before the crash must still flag its duplicates after
    // restart, with first_doc pointing at the pre-crash survivor.
    import graft.streaming.StatefulDedup
    val srcDir = tmpDir("sd-restart-src")
    def writeFile(name: String, rows: Seq[(Long, Long, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        rows.map { case (k, d, ms) =>
          s"""{"key":$k,"doc_id":$d,"ts_ms":$ms}"""
        }.mkString("\n").getBytes)
    def min(m: Int): Long = 3600000L + m * 60000L
    def run(ckpt: String, outDir: String): Unit = {
      val docs = spark.readStream
        .schema("key LONG, doc_id LONG, ts_ms LONG").json(srcDir)
        .select(col("key"), col("doc_id"),
          timestamp_millis(col("ts_ms")).as("ts"))
        .as[StatefulDedup.DocIn]
      val q = StatefulDedup
        .attach(docs, watermarkDelay = "0 seconds", ttlMs = 60 * 60000L)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val (ckpt, outDir) = (tmpDir("sd-restart-ckpt"), tmpDir("sd-restart-out"))
    // run 1: key 1 passes with doc 10, doc 11 flagged in-batch; then "crash"
    writeFile("b1.json", Seq((1L, 10L, min(0)), (1L, 11L, min(1))))
    run(ckpt, outDir)
    // arrives while down: a within-TTL re-emission of key 1 + a fresh key
    writeFile("b2.json", Seq((1L, 12L, min(2)), (2L, 20L, min(3))))
    run(ckpt, outDir) // restart from the same checkpoint + state store
    val got = spark.read.parquet(outDir)
      .select("doc_id", "is_dup", "first_doc")
      .as[(Long, Boolean, Long)].collect()
    assert(got.length == 4, s"no loss, no reprocessing: ${got.toSeq}")
    val byDoc = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byDoc(12L) == ((true, 10L)),
      "post-restart duplicate is flagged against the PRE-crash survivor " +
        "— only possible if SeenState came back from the state store")
    assert(byDoc(20L) == ((false, 20L)), "fresh key still passes")
    // control: the same data replayed in ONE uninterrupted run
    val (ckpt2, outDir2) = (tmpDir("sd-ctrl-ckpt"), tmpDir("sd-ctrl-out"))
    run(ckpt2, outDir2)
    val ctrl = spark.read.parquet(outDir2)
      .select("doc_id", "is_dup", "first_doc")
      .as[(Long, Boolean, Long)].collect()
    assert(ctrl.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq,
      "interrupted and uninterrupted runs emit identical rows")
  }

  test("TTL dedup on the RocksDB state store: same semantics, state " +
      "survives restart off-heap (the larger-than-memory 100TB posture)") {
    // HDFSBackedStateStore holds every key's state on the executor heap —
    // at 100 TB/day the TTL window's key set doesn't fit. RocksDB spills
    // to local disk with changelog checkpointing; semantics must be
    // IDENTICAL. newSession() scopes the provider conf so concurrently
    // running suites keep the default store.
    import graft.streaming.StatefulDedup
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    s2.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    val srcDir = tmpDir("rocks-src")
    def writeFile(name: String, rows: Seq[(Long, Long, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(srcDir, name),
        rows.map { case (k, d, ms) =>
          s"""{"key":$k,"doc_id":$d,"ts_ms":$ms}"""
        }.mkString("\n").getBytes)
    def min(m: Int): Long = 3600000L + m * 60000L
    val (ckpt, outDir) = (tmpDir("rocks-ckpt"), tmpDir("rocks-out"))
    var sawRocksMetrics = false
    def run(): Unit = {
      import s2.implicits._
      val docs = s2.readStream
        .schema("key LONG, doc_id LONG, ts_ms LONG").json(srcDir)
        .select(col("key"), col("doc_id"),
          timestamp_millis(col("ts_ms")).as("ts"))
        .as[StatefulDedup.DocIn]
      val q = StatefulDedup
        .attach(docs, watermarkDelay = "0 seconds", ttlMs = 60 * 60000L)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sawRocksMetrics ||= q.recentProgress.exists(
        _.stateOperators.exists(_.customMetrics.keySet().toString
          .contains("rocksdb")))
    }
    writeFile("b1.json", Seq((1L, 10L, min(0)), (1L, 11L, min(1))))
    run()
    writeFile("b2.json", Seq((1L, 12L, min(2)), (2L, 20L, min(3))))
    run() // restart: SeenState must come back from RocksDB, not heap
    assert(sawRocksMetrics,
      "state operator must report rocksdb custom metrics — otherwise the " +
        "test silently ran on the default heap-backed store")
    import s2.implicits._
    val byDoc = s2.read.parquet(outDir)
      .select("doc_id", "is_dup", "first_doc")
      .as[(Long, Boolean, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byDoc == Map(
      10L -> ((false, 10L)), 11L -> ((true, 10L)),
      12L -> ((true, 10L)), 20L -> ((false, 20L))),
      s"identical dedup semantics on RocksDB: $byDoc")
  }
}
