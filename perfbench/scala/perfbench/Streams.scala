package perfbench

import graft.serve.Serving
import graft.streaming.StreamIngest
import graft.ts.FeatureFrame
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object, unix_micros, unix_seconds}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** One producer message: a ticker envelope carrying one ticker. */
final case class Msg(seq: Long, product: String, timeUs: Long, price: String)

/** Seeded producer-shaped ticker feed. Event time advances one 5-minute
  * candle per `candle(c)` call. Shares of redelivered messages (same
  * sequence), late ticks (held back one candle) and updates (an earlier
  * key re-emitted with a new sequence and price) are set per workload.
  * `truth` is the highest-sequence value of every key delivered so far.
  */
final class Feed(seed: Long, products: IndexedSeq[String],
    weights: IndexedSeq[Double], ticksPerCandle: Int, redeliverShare: Double,
    lateShare: Double, updateShare: Double) {
  private val rng = new scala.util.Random(seed)
  private var seq = 0L
  private val price = mutable.HashMap.empty[String, Double]
  private val recent = mutable.ArrayBuffer.empty[Msg]
  private val heldBack = mutable.ArrayBuffer.empty[Msg]
  private val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
  val truth = mutable.HashMap.empty[(String, Long), (Long, String)]
  val T0Us = 1752796800L * 1000000L // 2025-07-18T00:00:00Z
  val CandleUs = 300L * 1000000L

  private def nextPrice(p: String): String = {
    val last = price.getOrElse(p, 100.0 + 900.0 * (p.hashCode & 0xffff) / 65535.0)
    val next = math.max(0.01, last * (1.0 + 0.002 * rng.nextGaussian()))
    price(p) = next
    f"$next%.2f"
  }

  private def emit(product: String, timeUs: Long): Msg = {
    seq += 1
    val m = Msg(seq, product, timeUs, nextPrice(product))
    recent += m
    if (recent.size > 512) recent.remove(0, 256)
    m
  }

  private def pick(): String = {
    val u = rng.nextDouble()
    products(math.min(products.size - 1, cum.indexWhere(_ >= u) max 0))
  }

  /** The messages delivered while candle `c` is current. */
  def candle(c: Long, n: Int = ticksPerCandle): Seq[Msg] = {
    val out = mutable.ArrayBuffer.empty[Msg]
    out ++= heldBack
    heldBack.clear()
    val start = T0Us + c * CandleUs
    val byProduct = Seq.fill(n)(pick()).groupBy(identity).toSeq.sortBy(_._1)
    byProduct.foreach { case (p, ticks) =>
      val k = ticks.size
      (0 until k).foreach { i =>
        val m = emit(p, start + i * (CandleUs / k) + rng.nextInt(1000))
        if (rng.nextDouble() < lateShare) heldBack += m else out += m
      }
    }
    (0 until n).foreach { _ =>
      if (recent.nonEmpty && rng.nextDouble() < updateShare) {
        val old = recent(rng.nextInt(recent.size))
        out += emit(old.product, old.timeUs)
      }
      if (recent.nonEmpty && rng.nextDouble() < redeliverShare)
        out += recent(rng.nextInt(recent.size))
    }
    // ground truth covers delivered messages only (held-back ticks count
    // once they are sent)
    out.foreach { m =>
      val key = (m.product, m.timeUs)
      if (truth.get(key).forall(_._1 < m.seq)) truth(key) = (m.seq, m.price)
    }
    out.toSeq
  }
}

object Feed {
  private val iso = DateTimeFormatter.ofPattern(StreamIngest.IsoMicros)
    .withZone(ZoneOffset.UTC)

  def isoUs(us: Long): String =
    iso.format(Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L))

  /** Producer envelope (FIXTURES.md §1): numerics as strings; `seq` stands
    * in for the Kafka offset and `gen_ts` is the creation stamp, a field
    * the engine's envelope schema does not read.
    */
  def json(m: Msg, genTsMs: Long): String = {
    val t = isoUs(m.timeUs)
    val p = m.price
    s"""{"channel":"ticker","timestamp":"$t","seq":${m.seq},"gen_ts":$genTsMs,""" +
      s""""events":[{"type":"update","tickers":[{"type":"ticker",""" +
      s""""product_id":"${m.product}","price":"$p","volume_24h":"1000.0",""" +
      s""""low_24h":"$p","high_24h":"$p","low_52w":"$p","high_52w":"$p",""" +
      s""""price_percent_chg_24h":"0.0","volume_percent_chg_24h":"0.0",""" +
      s""""price_change_24h":"0.0","volume_change_24h":"0.0","time":"$t"}]}]}"""
  }

  /** Writes one feed file atomically (staged, then renamed into `dir`). */
  def writeFile(stage: String, dir: String, name: String, lines: Seq[String]): Long = {
    val tmp = Paths.get(stage, name)
    val bytes = lines.mkString("", "\n", "\n").getBytes(UTF_8)
    Files.write(tmp, bytes)
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}

/** The pipeline's storage paths for one run. */
final case class Stores(root: String) {
  val prices = s"$root/prices"
  val candles = s"$root/candles"
  val predictions = s"$root/predictions"
  val byHorizon = s"$root/predictions_by_horizon"
}

object Streams {
  val SeqLen = 288
  val PredLen = 36
  val StepSeconds = 300

  /** Candle store rows → the (key, ts, id, OHLCV) frame FeatureFrame reads. */
  def candleFrame(candles: DataFrame): DataFrame =
    candles.withColumn("id", unix_seconds(col("start_time")))
      .withColumn("volume", col("n_ticks").cast("double"))

  def predict(feats: DataFrame): DataFrame =
    Serving.predictLatest(feats, "product_id", "start_time", "id", "close",
      SeqLen, PredLen, StepSeconds, "surrogate")

  /** The foreachBatch body: parse → LWW upsert → candles → features →
    * predictions → dual write, each stage materialized under its own span
    * and job tag.
    */
  def body(r: Run, st: Stores, nBuckets: Int, op: Long)(raw: DataFrame, id: Long): Unit = {
    val spark = raw.sparkSession
    val t = r.tracer
    def stage[A](name: String)(f: => A): A = t.span(op, name)(r.tagged(s"$op:$name")(f))
    t.span(op, "batch") {
      val parsed = stage("ingest.parse") {
        val withSeq = raw.select(col("value"),
          get_json_object(col("value"), "$.seq").cast("long").as("seq"))
        val p = StreamIngest.parseTickerEnvelopes(withSeq, "value", Seq("seq"))
          .persist()
        p.count()
        p
      }
      stage("ingest.lww_upsert") {
        StreamIngest.lwwUpsertPartitioned(st.prices, Seq("product_id", "time"),
          "seq", nBuckets)(parsed, id)
      }
      parsed.unpersist()
      stage("ingest.candles") {
        StreamIngest.buildCandles(StreamIngest.readLwwState(spark, st.prices),
          StepSeconds, None).write.mode("overwrite").parquet(st.candles)
      }
      serve(r, st, op)(spark)
    }
  }

  /** Serving half of the body: features over the candle store, predictions
    * and their dual write.
    */
  def serve(r: Run, st: Stores, op: Long)(spark: SparkSession): Unit = {
    def stage[A](name: String)(f: => A): A = r.tracer.span(op, name)(r.tagged(s"$op:$name")(f))
    val feats = stage("ts.features") {
      val f = FeatureFrame.enhance(candleFrame(spark.read.parquet(st.candles)),
        "product_id", "start_time", "id").persist()
      f.count()
      f
    }
    val preds = stage("serve.predict") {
      val p = predict(feats).persist()
      p.count()
      p
    }
    stage("serve.write")(Serving.dualWrite(preds, st.predictions, st.byHorizon))
    preds.unpersist()
    feats.unpersist()
  }

  /** Set-up half of the body: history into the LWW price store and the
    * candle store.
    */
  def preload(r: Run, st: Stores, raw: DataFrame, op: Long): Unit = {
    val spark = raw.sparkSession
    def stage[A](name: String)(f: => A): A = r.tracer.span(op, name)(r.tagged(s"$op:$name")(f))
    stage("ingest.lww_upsert") {
      val withSeq = raw.select(col("value"),
        get_json_object(col("value"), "$.seq").cast("long").as("seq"))
      StreamIngest.lwwUpsertPartitioned(st.prices, Seq("product_id", "time"), "seq", 4)(
        StreamIngest.parseTickerEnvelopes(withSeq, "value", Seq("seq")), op)
    }
    stage("ingest.candles") {
      StreamIngest.buildCandles(StreamIngest.readLwwState(spark, st.prices),
        StepSeconds, None).write.mode("overwrite").parquet(st.candles)
    }
  }

  /** Static frame of envelope lines, shaped like the text source's rows. */
  private def rawFrame(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import spark.implicits._
    lines.toDF("value")
  }

  private final case class BatchRec(id: Long, files: Seq[String], startMs: Double,
      doneMs: Double, backlog: Long, failed: Boolean)

  /** Wall clock in epoch ms with nanoTime resolution. */
  private object Clock {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  }

  private final class Progress extends StreamingQueryListener {
    val rows = mutable.ArrayBuffer.empty[Map[String, Double]]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val d = e.progress.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        if (e.progress.numInputRows > 0)
          rows += Map("batch" -> e.progress.batchId.toDouble,
            "trigger_ms" -> ms("triggerExecution"),
            "get_batch_ms" -> ms("getBatch"), "query_planning_ms" -> ms("queryPlanning"),
            "wal_commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
            "rows" -> e.progress.numInputRows.toDouble)
      }
  }

  private val LogPath = "\"path\":\"([^\"]+)\"".r

  /** Names of the files the file source assigned to `batchId`, read from
    * its metadata log in the checkpoint (plain or compacted entry).
    * foreachBatch hands the body an RDD-backed frame, so the batch's own
    * plan no longer lists its input files.
    */
  private def batchFiles(checkpoint: String, batchId: Long): Seq[String] = {
    val dir = s"$checkpoint/sources/0"
    val marker = s"\"batchId\":$batchId}"
    Seq(s"$dir/$batchId", s"$dir/$batchId.compact").map(new java.io.File(_))
      .filter(_.isFile).flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().filter(l => l.endsWith(marker) || f.getName == batchId.toString)
          .flatMap(l => LogPath.findFirstMatchIn(l).map(_.group(1))).toList
        finally src.close()
      }.map(p => new java.io.File(new java.net.URI(p).getPath).getName)
  }

  private def mkdirs(p: String): String = { new java.io.File(p).mkdirs(); p }

  private def dirStats(p: String): (Long, Long) = {
    val files = Option(new java.io.File(p)).toSeq.flatMap { f =>
      def walk(x: java.io.File): Seq[java.io.File] =
        if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(x)
      walk(f)
    }.filter(f => f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.size.toLong)
  }

  /** Final-state checks against the generator's ground truth and the batch
    * path. Returns the number of wrong or missing keys and a detail map.
    */
  private def checkState(spark: SparkSession, st: Stores, feed: Feed): (Long, Map[String, Any]) = {
    val got = StreamIngest.readLwwState(spark, st.prices)
      .select(col("product_id"), unix_micros(col("time")), col("price"), col("seq"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getDouble(2))))
      .toMap
    val want = feed.truth.map { case (k, (s, p)) => k -> ((s, p.toDouble)) }
    val wrongKeys = want.count { case (k, v) => !got.get(k).contains(v) } +
      got.keys.count(k => !want.contains(k))
    val state = StreamIngest.readLwwState(spark, st.prices)
    val candlesB = StreamIngest.buildCandles(state, StepSeconds, None)
    val candlesS = spark.read.parquet(st.candles)
    // rows differing between two small frames, compared as multisets
    // after a collect
    def diff(a: DataFrame, b: DataFrame): Long = {
      def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq).groupBy(identity)
        .map { case (k, v) => k -> v.size }
      val (x, y) = (bag(a), bag(b))
      (x.keySet ++ y.keySet).toSeq
        .map(k => math.abs(x.getOrElse(k, 0) - y.getOrElse(k, 0)).toLong).sum
    }
    val candleDiff = diff(candlesS, candlesB.select(candlesS.columns.map(col).toSeq: _*))
    val predsB = predict(FeatureFrame.enhance(candleFrame(candlesB),
      "product_id", "start_time", "id"))
    val predsS = spark.read.parquet(st.predictions)
    val predDiff = diff(predsS, predsB.select(predsS.columns.map(col).toSeq: _*))
    val nPreds = predsS.count()
    (wrongKeys + candleDiff + predDiff,
      Map("keys" -> want.size, "wrong_keys" -> wrongKeys, "candle_rows_differing" -> candleDiff,
        "prediction_rows_differing" -> predDiff, "predictions" -> nPreds))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-batch stage counters and stream progress, as traced layer metrics. */
  private def streamLayers(r: Run, progress: Progress, batches: Seq[BatchRec],
      st: Stores, rawBytes: Long): Unit = {
    val ids = batches.map(_.id).toSet
    def batchTag(t: String): Boolean = t.split(":", 2) match {
      case Array(i, _) => i.toLongOption.exists(ids.contains)
      case _ => false
    }
    val all = r.counters(batchTag)
    val lww = r.counters(t => batchTag(t) && t.endsWith(":ingest.lww_upsert"))
    val (stateBytes, stateFiles) = dirStats(st.prices)
    val n = math.max(1, batches.size)
    val p = progress.synchronized(progress.rows.toList)
      .filter(row => ids.contains(row("batch").toLong))
    def med(k: String): Double = median(p.map(_(k)))
    r.layers ++= Seq(
      "exec.jobs" -> all.jobs, "exec.stages" -> all.stages, "exec.tasks" -> all.tasks,
      "exec.task_cpu_s" -> all.cpuNs / 1e9,
      "exec.shuffle_read_bytes" -> all.shuffleRead,
      "exec.shuffle_write_bytes" -> all.shuffleWrite,
      "exec.spill_bytes" -> all.spill, "exec.task_failures" -> all.taskFailures,
      "ingest.state_bytes" -> stateBytes, "ingest.state_files" -> stateFiles,
      "ingest.write_amp" -> (if (rawBytes > 0) lww.bytesWritten.toDouble / rawBytes else 0.0),
      "stream.trigger_ms" -> med("trigger_ms"), "stream.get_batch_ms" -> med("get_batch_ms"),
      "stream.query_planning_ms" -> med("query_planning_ms"),
      "stream.wal_commit_ms" -> med("wal_commit_ms"),
      "stream.batches" -> batches.size,
      "stream.rows_per_batch" -> med("rows"),
      "stream.jobs_per_batch" -> all.jobs.toDouble / n,
      "stream.backlog_events" -> batches.map(_.backlog).foldLeft(0L)(_ max _))
  }

  private def liveProducts = IndexedSeq("BTC-USD", "ETH-USD", "SOL-USD")

  /** Candles of history laid down before the stream starts: warm-up rows
    * FeatureFrame drops plus a full 288-candle window, with margin.
    */
  val HistoryCandles = FeatureFrame.WarmupRows + SeqLen + 19

  /** Ticks per history candle: enough that every product has a tick in
    * nearly every candle, fewer than live candles so set-up stays short.
    */
  val HistoryTicks = 12

  /** Trigger interval of the live stream, above the batch time on a
    * 4-core host so the backlog stays flat.
    */
  val TriggerMs = 10000L

  /** How long before a trigger instant the generator writes its file. */
  val LeadMs = 500.0

  /** Open-loop live feed. One generator (the calling thread) writes one
    * file per trigger interval on a fixed schedule, `LeadMs` before each
    * trigger instant; each file carries one 5-minute candle of ticks for
    * the three products, so every batch closes a candle and predicts.
    */
  def live(r: Run, work: String, seed: Long, seconds: Double): Unit = {
    val spark = r.spark
    def newFeed() = new Feed(seed, liveProducts, IndexedSeq(1.0, 1.0, 1.0),
      36, redeliverShare = 0.05, lateShare = 0.05, updateShare = 0.03)
    val setups = mutable.ArrayBuffer.empty[Double]
    var feed: Feed = null
    var st: Stores = null
    var history: Seq[String] = Nil
    (0 until 3).foreach { i =>
      val t0 = System.nanoTime()
      feed = newFeed()
      st = Stores(mkdirs(s"$work/live/$i"))
      history = (0L until HistoryCandles).flatMap(feed.candle(_, HistoryTicks))
        .map(Feed.json(_, 0L))
      r.tracer.span(-1 - i, "setup")(preload(r, st, rawFrame(spark, history), -1 - i))
      setups += Harness.secondsSince(t0)
    }
    r.record("setup_s") = setups.toSeq

    val feedDir = mkdirs(s"${st.root}/feed")
    val stage = mkdirs(s"${st.root}/feed_stage")
    val fileDue = new java.util.concurrent.ConcurrentHashMap[String, (Double, Int)]()
    val generated = new java.util.concurrent.atomic.AtomicLong(0)
    var processed = 0L
    val batches = mutable.ArrayBuffer.empty[BatchRec]
    val progress = new Progress
    spark.streams.addListener(progress)
    // warm-up outside the timed feed: the serving half of the body (the
    // set-ups ran the ingest half three times), then the whole body as the
    // stream's first batch over the last history candle again (an LWW
    // no-op), whose file is in place before the stream starts so that the
    // batch runs at once. The JIT keeps speeding the body up for several
    // more runs: with the stream batch alone the first timed batch ran
    // 12-50 % slower than the faster of the later two, with both warm-ups
    // 3-30 %
    val tw = System.nanoTime()
    serve(r, st, -11)(spark)
    Feed.writeFile(stage, feedDir, "warmup.json", history.takeRight(40))
    val q = spark.readStream.format("text").load(feedDir).writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"${st.root}/checkpoint")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val files = batchFiles(s"${st.root}/checkpoint", id)
        if (files.nonEmpty && !files.forall(fileDue.containsKey)) body(r, st, 4, -10)(b, id)
        else if (files.nonEmpty) {
          val t0 = Clock.nowMs
          val backlog = generated.get - processed
          val failed = try { body(r, st, 4, id)(b, id); false }
            catch { case e: Throwable =>
              System.err.println(s"[perfbench] batch $id failed: ${e.getMessage}"); true }
          processed += files.map(f => Option(fileDue.get(f)).map(_._2).getOrElse(0)).sum
          batches.synchronized {
            batches += BatchRec(id, files, t0, Clock.nowMs, backlog, failed)
          }
        }
        ()
      }
      .start()
    q.processAllAvailable()
    r.record("warmup_s") = Harness.secondsSince(tw)

    val nFiles = math.max(3, math.round(seconds * 1000 / TriggerMs).toInt)
    val start = ((System.currentTimeMillis() + 600) / TriggerMs + 1) * TriggerMs - LeadMs
    val late = mutable.ArrayBuffer.empty[Double]
    var rawBytes = 0L
    var sent = 0L
    (0 until nFiles).foreach { i =>
      val msgs = feed.candle(HistoryCandles + i)
      val due = start + i * TriggerMs
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong)
      late += math.max(0.0, Clock.nowMs - due)
      val name = f"f-$i%06d.json"
      fileDue.put(name, (due, msgs.size))
      rawBytes += Feed.writeFile(stage, feedDir, name, msgs.map(Feed.json(_, due.toLong)))
      generated.addAndGet(msgs.size)
      sent += msgs.size
    }
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(progress)

    val recs = batches.synchronized(batches.toList)
    val lat = mutable.ArrayBuffer.empty[Double]
    val batchLat = mutable.ArrayBuffer.empty[Double]
    recs.filterNot(_.failed).foreach { b =>
      val dues = b.files.flatMap(f => Option(fileDue.get(f)))
      dues.foreach { case (due, n) => (0 until n).foreach(_ => lat += b.doneMs - due) }
      if (dues.nonEmpty) batchLat += b.doneMs - dues.map(_._1).min
    }
    val tc = System.nanoTime()
    val (wrong, detail) = checkState(spark, st, feed)
    r.record("check_s") = Harness.secondsSince(tc)
    r.record("feed_span_s") = (recs.map(_.doneMs).max - start) / 1000.0
    r.record("latencies_ms") = lat.toSeq
    r.record("batch_latencies_ms") = batchLat.toSeq
    r.record("work_s") = recs.map(b => b.doneMs - b.startMs).sum / 1000.0
    r.record("attempted") = sent
    r.record("failed_batches") = recs.count(_.failed)
    r.record("failed_batch_events") = recs.filter(_.failed)
      .flatMap(_.files).flatMap(f => Option(fileDue.get(f))).map(_._2).sum
    r.record("wrong_keys") = wrong
    r.record("check") = detail
    r.record("gen_late_ms") = late.toSeq
    if (r.traced) {
      streamLayers(r, progress, recs, st, rawBytes)
      r.layers("gen.late_ms") = late.max
    }
  }
}
