package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ingest — the Spark-native rebuild of the reference's
  * Kafka→Spark→keyed-store pipeline (SURVEY §2.1 S2/S3, §2.2 K2-K4/K7,
  * §2.3 P1-P6, §2.7 T1-T4/T7):
  *
  *  - fixed string-typed edge schemas (Coinbase sends every numeric as a
  *    JSON string; cast happens at projection, ref spark_processor.py:107-132);
  *  - envelope parse: `from_json` → `explode(events)` → `explode(tickers)`
  *    (the reference flattens producer-side, producer.py:83-106 — here it
  *    is an engine operator so raw archives replay through the same path);
  *  - missing-time patch from the envelope timestamp (P6, producer.py:87-91);
  *  - dual-format candle timestamp (P3, spark_processor.py:192-194);
  *  - last-writer-wins keyed upsert sink for `foreachBatch`: checkpointed
  *    offsets + key-deduped state make redelivery and micro-batch replay
  *    idempotent (T2 — the parquet equivalent of the reference's
  *    Cassandra PK upsert); state is key-hash bucketed and a batch
  *    rewrites only the buckets it touches, the store the incremental
  *    rollup shares;
  *  - optional ticker→candle builder: tumbling event-time window with
  *    watermark (T3/T4 — the one stateful streaming op the survey adds).
  *
  * The same parse functions serve batch (archived JSON) and streaming
  * (`readStream`) inputs — a DataFrame-in/DataFrame-out contract, so the
  * whole path is testable against the DuckDB oracle in batch mode and
  * exercised for streaming semantics with MemoryStream/file sources.
  */
object StreamIngest {

  /** Advanced-Trade ticker: 13 fields, all strings at the edge. */
  val tickerSchema: StructType = StructType(Seq(
    "type", "product_id", "price", "volume_24h", "low_24h", "high_24h",
    "low_52w", "high_52w", "price_percent_chg_24h", "volume_percent_chg_24h",
    "price_change_24h", "volume_change_24h", "time"
  ).map(StructField(_, StringType)))

  /** Candle: 7 fields, `start` is unix-seconds-as-string OR datetime text. */
  val candleSchema: StructType = StructType(Seq(
    "start", "high", "low", "open", "close", "volume", "product_id"
  ).map(StructField(_, StringType)))

  /** WS message envelope: events[].tickers[] / events[].candles[]. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("channel", StringType),
    StructField("timestamp", StringType),
    StructField("events", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("tickers", ArrayType(tickerSchema)),
      StructField("candles", ArrayType(candleSchema))))))))

  /** Producer time format: ISO-8601 with microseconds, UTC. */
  val IsoMicros = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"

  /** P1+P5+P6+P2: envelope JSON column → one typed row per ticker.
    * Missing per-ticker `time` falls back to the envelope timestamp.
    * `keep` columns (e.g. the Kafka offset) are carried through the
    * explodes unchanged — every ticker from one message inherits them.
    */
  def parseTickerEnvelopes(raw: DataFrame, jsonCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val kept = keep.map(col)
    raw
      .withColumn("__env", from_json(col(jsonCol), envelopeSchema))
      .select(kept :+ col("__env.timestamp").as("__msg_time") :+
        explode(col("__env.events")).as("__ev"): _*)
      .select(kept :+ col("__msg_time") :+
        explode(col("__ev.tickers")).as("__t"): _*)
      .select(kept ++ Seq(
        col("__t.product_id").as("product_id"),
        to_timestamp(coalesce(col("__t.time"), col("__msg_time")), IsoMicros)
          .as("time"),
        col("__t.price").cast("double").as("price"),
        col("__t.volume_24h").cast("double").as("volume_24h")): _*)
  }

  /** SURVEY §1.3: permissive-nulls parse WITH an explicit corrupt-record
    * column — unparseable JSON keeps the raw payload in `_corrupt` and
    * nulls the struct instead of failing the batch (the schema-evolution
    * posture: two ticker generations coexist upstream). `from_json`
    * yields null on malformed input; the raw text is retained alongside
    * so a quarantine sink can archive it.
    */
  def parseWithCorruptColumn(raw: DataFrame, jsonCol: String,
      schema: StructType): DataFrame = {
    val withCorrupt = schema.add(StructField("_corrupt", StringType))
    raw
      .withColumn("__parsed", from_json(col(jsonCol), withCorrupt,
        Map("columnNameOfCorruptRecord" -> "_corrupt", "mode" -> "PERMISSIVE")))
      .select(col("__parsed").as("data"),
        col("__parsed._corrupt").as("_corrupt"))
  }

  /** P3: `when(cast(long) ok, from-epoch).otherwise(parse-text)` —
    * both branches truncate to whole seconds.
    */
  def parseCandleTs(c: Column): Column = {
    val asLong = try_cast(c, "long")
    when(asLong.isNotNull, timestamp_seconds(asLong))
      .otherwise(to_timestamp(c))
  }

  private def try_cast(c: Column, t: String): Column =
    c.try_cast(t)

  /** Candle-doc JSON column → typed candle rows (ref spark_processor.py:184-200). */
  def parseCandles(raw: DataFrame, jsonCol: String): DataFrame =
    raw
      .withColumn("__c", from_json(col(jsonCol), candleSchema))
      .select(
        col("__c.product_id").as("product_id"),
        parseCandleTs(col("__c.start")).as("start_time"),
        col("__c.open").cast("double").as("open"),
        col("__c.high").cast("double").as("high"),
        col("__c.low").cast("double").as("low"),
        col("__c.close").cast("double").as("close"),
        col("__c.volume").cast("double").as("volume"))

  /** K2/K3/T2: last-writer-wins keyed parquet upsert for `foreachBatch`
    * (the parquet equivalent of the reference's Cassandra PK upsert).
    *
    * State invariant: one row per key, the one with the highest `seqCol`
    * (Kafka offset / emit sequence — per-key total order). Replayed
    * micro-batches (checkpoint recovery) are absorbed: re-upserting rows
    * already reflected in the state is a no-op, which together with
    * checkpointed source offsets gives effective exactly-once to storage.
    *
    * State is hash-partitioned on the key into `nBuckets` directories,
    * and a micro-batch rewrites ONLY the buckets its keys touch (staged
    * write + per-bucket rename swap) after an LWW merge against just
    * those buckets' current rows — per-batch I/O is O(touched buckets),
    * not O(state), which is what lets a keyed upsert absorb a firehose
    * against a 100 TB table. On a transactional table format the
    * identical contract is one `MERGE INTO`; this is the plain-parquet
    * equivalent (the MERGE slot documented in SCALE.md).
    *
    * State layout: `statePath/__bucket=N/` parquet files with an extra
    * `__bucket` partition column; readers either drop it or read through
    * [[readLwwState]]. `nBuckets` is fixed for the life of a state dir:
    * another count rehashes every key into a different bucket.
    */
  def lwwUpsertPartitioned(statePath: String, keyCols: Seq[String],
      seqCol: String, nBuckets: Int)(batch: DataFrame, batchId: Long): Unit =
    upsertTouchedBuckets(statePath, keyCols, nBuckets, batch, batchId) {
      (incoming, state, touched) =>
        val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
        val next = state.fold(incoming)(incoming.unionByName(_))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1)
          .drop("__rn")
        Some((next, touched))
    }

  /** The touched-bucket core under both keyed sinks: recovers an
    * interrupted swap, tags `rows` with their `__bucket`, finds the
    * buckets they touch and reads just those buckets' state, then stages
    * and swaps whatever `merge` returns.
    *
    * `merge(incoming, state, touched)` gets `rows` plus `__bucket`, the
    * touched buckets' current rows projected onto the same columns (None
    * before the first batch) and the sorted touched bucket ids. It
    * returns the merged rows, which carry `__bucket`, and the buckets to
    * swap, or None to write nothing.
    */
  private def upsertTouchedBuckets(statePath: String, keyCols: Seq[String],
      nBuckets: Int, rows: DataFrame, batchId: Long)(
      merge: (DataFrame, Option[DataFrame], Seq[Int]) =>
        Option[(DataFrame, Seq[Int])]): Unit = {
    val spark = rows.sparkSession
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwaps(fs, statePath)
    val incoming = rows.withColumn("__bucket",
      pmod(hash(keyCols.map(col): _*), lit(nBuckets)))
    // O(nBuckets) collected list — bounded by config, not by data (J3
    // posture). One map-side job: each task returns its own distinct
    // buckets (distinct() would shuffle, two jobs under AQE).
    val touched = incoming.select(col("__bucket")).queryExecution.toRdd
      .mapPartitions(it => it.map(_.getInt(0)).toSet.iterator)
      .collect().distinct.sorted.toSeq
    if (touched.isEmpty) return
    // the merge projects state onto the incoming columns, so their
    // schema is the read schema: no Parquet schema-inference job
    val state =
      if (fs.exists(new Path(statePath)))
        Some(spark.read.schema(incoming.schema).parquet(statePath)
          .where(col("__bucket").isin(touched.map(Integer.valueOf): _*))
          .select(incoming.columns.map(col): _*))
      else None
    merge(incoming, state, touched).foreach { case (merged, buckets) =>
      stageAndSwapBuckets(fs, statePath, merged, buckets, batchId)
    }
  }

  /** Stage `staged` (bucket-partitioned) to a sibling temp dir, then
    * swap each listed bucket dir into place and drop the staging dir.
    *
    * Why not a dynamic partition overwrite into `statePath` directly: the
    * merged plan READS the current state files, and the overwrite commit
    * deletes them — if a cached/computed block is lost mid-write (executor
    * failure, eviction), recomputation re-reads parquet the commit is
    * concurrently deleting: lost or corrupt state (ADVICE r8). Staging
    * fully materializes the merge BEFORE any old file is touched, so the
    * write never depends on files it replaces.
    *
    * The swap itself never deletes state before its replacement is in
    * place (ADVICE r9 — the old delete-then-rename had a third outcome:
    * a crash, or a false-returning rename per the Hadoop FileSystem
    * contract, between the delete and the rename silently lost the
    * bucket's entire prior rows, which no replay can heal). Protocol, per
    * bucket: rename(dst → retire/__bucket=N), rename(staged → dst), and
    * only after every bucket landed, delete the retire dir. Every rename
    * result is CHECKED — false throws, so the batch fails visibly and
    * replays. A crash mid-protocol leaves each bucket in exactly one of:
    * old-in-place, old-in-retire (dst missing), or new-in-place —
    * [[recoverSwaps]] at the next writer entry restores retired buckets
    * whose replacement never landed, after which the batch replay
    * re-merges (LWW idempotence / the rollup fence absorb both the
    * restored-old and the already-new cases).
    */
  private def stageAndSwapBuckets(fs: org.apache.hadoop.fs.FileSystem,
      statePath: String, staged: DataFrame, buckets: Seq[Int],
      batchId: Long): Unit = {
    val tmp = new Path(statePath + s"__stage_$batchId")
    staged.write.mode("overwrite").partitionBy("__bucket")
      .parquet(tmp.toString)
    val root = new Path(statePath)
    fs.mkdirs(root)
    val retire = new Path(statePath + s"__retire_$batchId")
    var anyRetired = false
    buckets.foreach { b =>
      val src = new Path(tmp, s"__bucket=$b")
      val dst = new Path(root, s"__bucket=$b")
      if (fs.exists(src)) {
        if (fs.exists(dst)) {
          if (!anyRetired) { fs.mkdirs(retire); anyRetired = true }
          val old = new Path(retire, s"__bucket=$b")
          require(fs.rename(dst, old),
            s"bucket swap: rename $dst -> $old returned false")
        }
        require(fs.rename(src, dst),
          s"bucket swap: rename $src -> $dst returned false")
      }
    }
    if (anyRetired) fs.delete(retire, true)
    fs.delete(tmp, true)
  }

  /** Crash recovery for the sibling-dir swap protocol, run at every
    * writer entry BEFORE the state is read (the upsert/rollup merge reads
    * state, so a bucket left in a retire dir by a mid-swap crash must be
    * restored first or the replayed merge would silently drop its rows):
    *  - `__retire_<batch>/__bucket=N` whose live bucket is MISSING →
    *    restored (the crash hit between the two renames); whose live
    *    bucket exists → obsolete copy, dropped;
    *  - orphaned `__stage_` dirs → dropped (their batch replays
    *    wholesale; the partial staging output is garbage).
    * Readers ([[readLwwState]]/[[readRollupState]]) stay read-only: a
    * read during the crash window sees the documented some-buckets-old
    * partial-commit state, which the writer's replay heals.
    */
  private[graft] def recoverSwaps(fs: org.apache.hadoop.fs.FileSystem,
      statePath: String): Unit = {
    val state = new Path(statePath)
    val parent = state.getParent
    if (parent == null || !fs.exists(parent)) return
    val base = state.getName
    fs.listStatus(parent).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(base + "__retire_")) {
        fs.listStatus(st.getPath).foreach { b =>
          val dst = new Path(state, b.getPath.getName)
          if (!fs.exists(dst)) {
            fs.mkdirs(state)
            require(fs.rename(b.getPath, dst),
              s"swap recovery: rename ${b.getPath} -> $dst returned false")
          }
        }
        fs.delete(st.getPath, true)
      } else if (nm.startsWith(base + "__stage_")) {
        fs.delete(st.getPath, true)
      }
    }
  }

  /** Read the logical state written by [[lwwUpsertPartitioned]] (drops the
    * internal bucket column). The read schema comes from a state file's
    * footer, read in this process: a bare `spark.read.parquet` runs a
    * Spark job per call to infer it.
    */
  def readLwwState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    footerSchema(spark, statePath).fold(spark.read)(spark.read.schema)
      .parquet(statePath).drop("__bucket")

  /** The row schema Spark recorded in the footer of the first data file
    * under `dir` — the schema a non-merging inference job would return
    * (it too reads one file). None when there is no such file or footer
    * entry; the caller then infers.
    */
  private def footerSchema(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return None
    val files = fs.listFiles(root, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .find(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          // the key Spark's parquet writer stores its row schema under
          .get("org.apache.spark.sql.parquet.row.metadata"))
          .map(DataType.fromJson).collect { case s: StructType => s }
        finally reader.close()
      }
  }

  /** Streaming incremental aggregate maintenance for `foreachBatch`: the
    * continuous face of `q_r_incremental_rollup`. State is one row per
    * key — count, exact integer-cent sum, min, max of `valueCol` over
    * every row ever ingested — and each micro-batch merges its own
    * partial aggregates into it: counts and cent-sums ADD, mins/maxes
    * FOLD. Only decomposable aggregates, by design: COUNT(DISTINCT) has
    * no exact mergeable partial (the HLL register state in
    * [[StreamingEngagement]] is its incremental answer).
    *
    * Scale shape, same as [[lwwUpsertPartitioned]]: state hash-partitions
    * on the key into `nBuckets` directories and a batch rewrites ONLY the
    * buckets its keys touch — per-batch I/O is O(batch + touched buckets'
    * key rows), never O(state), and the batch's raw rows collapse to
    * per-key partials BEFORE anything is read or shuffled.
    *
    * Replay fencing: additive merges are NOT naturally idempotent (LWW
    * is; re-adding a replayed batch would double-count), so every state
    * row carries `__applied_batch` — the last batchId merged into its
    * bucket — and a bucket whose rows already record `>= batchId` is
    * skipped whole. foreachBatch replays re-run the LAST batch with the
    * SAME batchId, so the fence makes replay a no-op; the fence travels
    * inside the same per-bucket swap as the data, so it cannot disagree
    * with what was actually committed (per-bucket atomicity = the
    * FileSystem rename contract, as for LWW).
    *
    * CONTRACTS (both enforced/declared, not silent):
    *  - Money precision: `valueCol` is quantized PER ROW to cents —
    *    `CAST(value AS DECIMAL(18,2)) * 100` (HALF_UP on the shortest
    *    decimal rendering of the double, so 0.575 → 58, not the binary
    *    57.4999…) — before the exact integer sum. Exact and order-free
    *    for ≤2-decimal money; deterministic but LOSSY for finer-grained
    *    values (sub-cent ticks need a different scale, not this helper).
    *  - Checkpoint lineage: a state dir is bound to ONE checkpoint
    *    lineage. foreachBatch batchIds are monotone within a checkpoint;
    *    restarting with a FRESH checkpoint against existing state resets
    *    them to 0, which a `>= batchId` fence would read as "already
    *    applied" and silently drop every batch. A bucket whose stored
    *    `__applied_batch` EXCEEDS the incoming batchId therefore fails
    *    fast (IllegalStateException) instead of losing data.
    */
  def rollupUpsertPartitioned(statePath: String, keyCols: Seq[String],
      valueCol: String, nBuckets: Int)(batch: DataFrame, batchId: Long): Unit = {
    // integer cents: exact, order-free, schema-stable across merges
    // (DECIMAL sums widen per merge level; LongType does not). The
    // per-row cent conversion goes through DECIMAL(18,2) — HALF_UP on
    // the decimal rendering — NOT round(v*100), whose binary double
    // product mis-rounds values like 0.575 (ADVICE r8; the 2-decimal
    // contract is in the doc comment above).
    // Persisted: the partial frame is consumed twice (touched-bucket
    // collect, then the merge write) and it is tiny — O(batch keys) rows
    // of fixed-width aggregates — so caching it halves the per-trigger
    // batch work instead of re-running the groupBy shuffle per consumer.
    val partial = batch
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        // ledger guard (see q_a_vwap): an out-of-DECIMAL-range value in
        // a batch is domain-invalid -> null, not a fatal ANSI cast
        sum((when(abs(col(valueCol)) < lit(1e16), col(valueCol))
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long")).as("sum_cents"),
        min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))
      .withColumn("__applied_batch", lit(batchId))
      .persist()
    try upsertTouchedBuckets(statePath, keyCols, nBuckets, partial, batchId) {
      (incoming, state, touched) =>
        // replay fence — per-bucket last-applied batchIds (O(touched)).
        // One map-side job, like the touched-bucket collect: each task
        // returns its own per-bucket maxima; the collect merges them.
        val bucketMax: Map[Int, Long] = state.fold(Map.empty[Int, Long])(
          _.select(col("__bucket"), col("__applied_batch"))
            .queryExecution.toRdd
            .mapPartitions { it =>
              val m = scala.collection.mutable.HashMap.empty[Int, Long]
              it.filterNot(_.isNullAt(1)).foreach { r =>
                val b = r.getInt(0)
                m(b) = math.max(m.getOrElse(b, Long.MinValue), r.getLong(1))
              }
              m.iterator
            }
            .collect().groupMapReduce(_._1)(_._2)(math.max))
        // batchId REGRESSION = a fresh checkpoint pointed at an old state
        // dir: every batch would silently fence as "already applied".
        // Fail fast instead (the checkpoint-lineage contract above).
        val regressed = bucketMax.filter(_._2 > batchId)
        if (regressed.nonEmpty) throw new IllegalStateException(
          s"rollup state at $statePath has __applied_batch " +
            s"${regressed.values.max} > incoming batchId $batchId: the " +
            "state dir belongs to a different checkpoint lineage " +
            "(restarting with a fresh checkpoint would silently drop " +
            "every batch). Point the query at its original checkpoint, " +
            "or start a new state dir.")
        // buckets that already merged THIS batchId (replay) are done
        val live = touched.filterNot(bucketMax.filter(_._2 == batchId).keySet)
        if (live.isEmpty) None
        else Some((state.fold(incoming)(incoming.unionByName(_))
          .where(col("__bucket").isin(live.map(Integer.valueOf): _*))
          // the bucket is a function of the key: grouping by it too keeps
          // each key's group whole and carries the column through
          .groupBy((keyCols :+ "__bucket").map(col): _*)
          .agg(
            sum(col("n")).as("n"),
            sum(col("sum_cents")).as("sum_cents"),
            min(col("mn")).as("mn"),
            max(col("mx")).as("mx"),
            max(col("__applied_batch")).as("__applied_batch")), live))
    } finally partial.unpersist()
  }

  /** Read the logical rollup state written by [[rollupUpsertPartitioned]]
    * (drops the bucket and fence columns), through the same footer-schema
    * read as [[readLwwState]].
    */
  def readRollupState(spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame =
    readLwwState(spark, statePath).drop("__applied_batch")

  /** True iff the spark-sql-kafka connector is on the classpath. */
  def kafkaConnectorAvailable: Boolean =
    scala.util.Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess

  /** Bucket count of the Kafka ingest's LWW state — the live path's
    * count. A constant: under another count every key rehashes, so a
    * batch would merge against the wrong bucket and miss the key's row.
    */
  private val KafkaStateBuckets = 4

  /** S2/S3 + K2/K3 + K7 + T7: the production ingest wiring — Kafka source
    * from earliest offsets, envelope/candle parse, checkpointed LWW upsert
    * into `KafkaStateBuckets` buckets.
    * The LWW sequence is the KAFKA OFFSET (per-partition total order, which
    * with per-product_id partition routing is a per-key total order) — NOT
    * the event time: a redelivered correction carries the same timestamp
    * as the stale row it replaces, so ordering by time is not
    * last-writer-wins.
    *
    * Compiles against core Spark; RUNNING it needs the spark-sql-kafka
    * connector on the classpath, which this container does not ship —
    * `kafkaConnectorAvailable` is checked up front so the failure mode is
    * explicit, and the identical parse/sink/checkpoint semantics are
    * covered by the MemoryStream/file-source suites instead.
    */
  def startKafkaTickerIngest(spark: org.apache.spark.sql.SparkSession,
      brokers: String, topic: String, statePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(kafkaConnectorAvailable,
      "spark-sql-kafka connector not on the classpath: add " +
        "org.apache.spark:spark-sql-kafka-0-10 to the cluster jars " +
        "(this container ships without it; see README)")
    val raw = spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(col("value").cast("string").as("json"),
        col("offset").as("__seq")) // per-key LWW total order
    val parsed = parseTickerEnvelopes(raw, "json", keep = Seq("__seq"))
    parsed.writeStream
      .foreachBatch(lwwUpsertPartitioned(statePath, Seq("product_id", "time"),
        "__seq", KafkaStateBuckets) _)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** K1: keyed-JSON producer payload — `(key, value)` in the exact shape
    * `writeStream.format("kafka")` publishes (key = partition routing,
    * value = the row as one JSON document). Kept broker-independent so
    * batch tests can round-trip the payload through the parse path.
    */
  def kafkaPayload(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** K4/P17: raw-JSON archive sink — one JSON doc per record, directory
    * layout {channel}/{product_id}/ via partitionBy (the engine's S3
    * object-key scheme). Returns the started query.
    */
  def startArchiveSink(parsed: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    parsed.writeStream
      .format("json")
      .partitionBy("channel", "product_id")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .start()

  /** T3/T4: build OHLC candles from a ticker stream — tumbling event-time
    * window + watermark; open/close via deterministic min_by/max_by on
    * event time. Works identically on batch frames (no watermark needed).
    */
  def buildCandles(tickers: DataFrame, windowSeconds: Int,
      watermark: Option[String]): DataFrame = {
    val src = watermark.fold(tickers)(w => tickers.withWatermark("time", w))
    src
      .groupBy(col("product_id"),
        window(col("time"), s"$windowSeconds seconds"))
      .agg(
        min_by(col("price"), col("time")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("time")).as("close"),
        count(lit(1)).as("n_ticks"))
      .select(col("product_id"), col("window.start").as("start_time"),
        col("window.end").as("end_time"), col("open"), col("high"),
        col("low"), col("close"), col("n_ticks"))
  }
}
