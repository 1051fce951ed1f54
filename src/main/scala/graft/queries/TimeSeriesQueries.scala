package graft.queries

import graft.{Query, QueryPack, Tables}
import graft.ts.TimeSeriesOps._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed time-series operators over the `events` table (SURVEY §2.5 W1-W18,
  * §2.3 P9-P14, §2.4 A1/A4-A9). The series key is `event_type` (long
  * series) or `user_id` (many short series); order is always
  * (ts, event_id) — a total order, so every window result is reproducible
  * at any parallelism.
  *
  * Oracle float discipline: raw stored doubles pass through exactly;
  * anything computed (log, avg, stddev, quantile interpolation) is
  * ROUND()ed identically on both sides — the pre-round values differ only
  * in the last ulps between engines, so 4-6 digit rounding is stable.
  */
object TimeSeriesQueries extends QueryPack {

  private val K = "event_type"
  private def ev(s: SparkSession, dir: String) = Tables(s, dir, "events")
  private def w = keyedOrder(K, "ts", "event_id")

  /** Events with `prev`, the series' previous value by the ordered scan
    * (the q_w4 rationale: a partitionBy(event_type) window sorts on
    * #event_types tasks), and `lr`, the guarded log return — logReturns
    * replicated exactly, null on non-positive ticks.
    */
  private[queries] def logReturnFrame(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.OrderedLag.withLags(ev(s, dir), Seq(K),
        Seq(col("ts"), col("event_id")), "value", Seq("prev" -> 1))
      .withColumn("lr", when(col("value") > 0.0 && col("prev") > 0.0,
        log(col("value") / col("prev"))))

  /** Oracle twin of [[logReturnFrame]]: `r(event_type, event_id, ts, lr)`. */
  private[queries] val logReturnCte =
    """r AS (
      |  SELECT event_type, event_id, ts,
      |    CASE WHEN value > 0 AND LAG(value) OVER w > 0
      |         THEN LN(value / LAG(value) OVER w) END AS lr
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))""".stripMargin

  /** Oracle of the OHLCV candles per event_type over `interval` buckets,
    * computed directly from the raw ticks.
    */
  private def ohlcvSql(interval: String): String =
    s"""SELECT event_type, time_bucket(INTERVAL 1 $interval, ts) AS bucket_start,
       |  first(value ORDER BY ts, event_id) AS open,
       |  MAX(value) AS high, MIN(value) AS low,
       |  last(value ORDER BY ts, event_id) AS close,
       |  ROUND(SUM(value), 2) AS volume, COUNT(*) AS n_rows
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  override def queries: Seq[Query] = Seq(

    // ---- W1: log returns ----
    Query(
      "q_w1_log_returns",
      (s, dir) => {
        // ordered-scan form (the q_w4 rationale: a partitionBy(event_type)
        // window sorts on #event_types tasks); prev + the same guarded-log
        // CASE replicate logReturns exactly
        import graft.ops.OrderedLag
        OrderedLag.withLags(ev(s, dir), Seq(K),
            Seq(col("ts"), col("event_id")), "value", Seq("prev" -> 1))
          .select(col("event_type"), col("event_id"),
            (round(when(col("value") > 0.0 && col("prev") > 0.0,
              log(col("value") / col("prev"))), 4) + lit(0.0)).as("log_ret"))
      },
      Some("""SELECT event_type, event_id,
             |  ROUND(CASE WHEN value > 0 AND LAG(value) OVER w > 0
             |             THEN LN(value / LAG(value) OVER w) END, 4) + 0.0 AS log_ret
             |FROM events
             |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin),
      doc = "SURVEY W1: lag + log; single shuffle on the series key; " +
        "null on non-positive ticks (ANSI-safe, same CASE in the oracle)"),

    // ---- W2: price / trailing-mean ratio ----
    Query(
      "q_w2_ma_ratio",
      (s, dir) => {
        // same ordered-scan rationale as q_w4; safeDiv over the rolling
        // avg is maRatio verbatim, the frame bit-equal per OrderedRollingSpec
        import graft.ops.OrderedRolling
        OrderedRolling.withRollups(ev(s, dir), Seq(K),
            Seq(col("ts"), col("event_id")),
            Seq(OrderedRolling.Roll("__ma24", "avg", 24, "value")))
          .select(col("event_type"), col("event_id"),
            round(safeDiv(col("value"), col("__ma24")), 4).as("ma_ratio"))
      },
      Some("""SELECT event_type, event_id,
             |  ROUND(CASE WHEN AVG(value) OVER win <> 0
             |             THEN value / AVG(value) OVER win END, 4) AS ma_ratio
             |FROM events
             |WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
             |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin),
      doc = "SURVEY W2: rolling(24, min_periods=1).mean() ratio"),

    // ---- W4: rolling z-score ----
    Query(
      "q_w4_rolling_zscore",
      (s, dir) => {
        // rolling frames via ops/OrderedRolling, not a window: the
        // PARTITION BY event_type sort runs on #event_types tasks (the
        // q_a7 OrderedLag rationale). The op replicates the window's
        // per-row frame re-accumulation bit-for-bit
        // (OrderedRollingSpec), so the zscore arithmetic and the oracle
        // are unchanged.
        import graft.ops.OrderedRolling
        OrderedRolling.withRollups(ev(s, dir), Seq("event_type"),
            Seq(col("ts"), col("event_id")),
            Seq(OrderedRolling.Roll("__a24", "avg", 24, "value"),
              OrderedRolling.Roll("__s24", "stddev_samp", 24, "value")))
          .select(col("event_type"), col("event_id"),
            (round(safeDiv(col("value") - col("__a24"), col("__s24")), 4)
              + lit(0.0)).as("zscore"))
      },
      Some("""SELECT event_type, event_id,
             |  ROUND(CASE WHEN STDDEV_SAMP(value) OVER win <> 0
             |             THEN (value - AVG(value) OVER win) / STDDEV_SAMP(value) OVER win
             |        END, 4) + 0.0 AS zscore
             |FROM events
             |WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
             |  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin),
      doc = "SURVEY W4: two frames over one sort — Catalyst evaluates both in a single Window node"),

    // ---- W10: on-balance volume (running signed sum) ----
    Query(
      "q_w10_obv",
      (s, dir) =>
        ev(s, dir).select(col("event_type"), col("event_id"),
          (round(obv(col("value"), lit(1.0), w), 4) + lit(0.0)).as("obv")),
      Some("""WITH d AS (
             |  SELECT event_type, event_id, ts,
             |    COALESCE(SIGN(value - LAG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id)) * 1.0, 0.0) AS sv
             |  FROM events)
             |SELECT event_type, event_id,
             |  ROUND(SUM(sv) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) + 0.0 AS obv
             |FROM d""".stripMargin),
      doc = "SURVEY W10: cumulative signed sum — running-total frame, no " +
        "self-join. Stays a per-key window ON PURPOSE: an unbounded " +
        "running DOUBLE sum is a per-key sequential recurrence (tiling " +
        "would re-associate float addition and drift from the oracle) — " +
        "the indicators_series contract: parallelism unit is the key, " +
        "and real feeds have thousands of symbols"),

    // ---- W11 + W12: rolling volatility & momentum ----
    Query(
      "q_w11_volatility",
      (s, dir) => {
        // ordered-scan form; NO filter on null lr — null rows occupy
        // frame slots without contributing, exactly the window's (and
        // OrderedRolling's pinned) null semantics
        import graft.ops.OrderedRolling
        OrderedRolling.withRollups(logReturnFrame(s, dir), Seq(K),
            Seq(col("ts"), col("event_id")),
            Seq(OrderedRolling.Roll("__v12", "stddev_samp", 12, "lr")))
          .select(col("event_type"), col("event_id"),
            round(col("__v12"), 4).as("volatility_12"))
      },
      Some(s"""WITH $logReturnCte
             |SELECT event_type, event_id,
             |  ROUND(STDDEV_SAMP(lr) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 4) AS volatility_12
             |FROM r""".stripMargin),
      doc = "SURVEY W11: stddev of derived returns; stacked windows share the sorted partition"),

    Query(
      "q_w12_momentum",
      (s, dir) => {
        // same OrderedRolling rationale as q_w4_rolling_zscore above
        import graft.ops.OrderedRolling
        OrderedRolling.withRollups(ev(s, dir), Seq("event_type"),
            Seq(col("ts"), col("event_id")),
            Seq(OrderedRolling.Roll("__a3", "avg", 3, "value"),
              OrderedRolling.Roll("__a12", "avg", 12, "value")))
          .select(col("event_type"), col("event_id"),
            (round(col("__a3") - col("__a12"), 4) + lit(0.0))
              .as("momentum_3_12"))
      },
      Some("""SELECT event_type, event_id,
             |  ROUND(AVG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             |      - AVG(value) OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 4) + 0.0 AS momentum_3_12
             |FROM events""".stripMargin),
      doc = "SURVEY W12: short-mean minus long-mean"),

    // ---- A1: OHLCV resample with deterministic ordered first/last ----
    Query(
      "q_a1_resample_ohlcv",
      (s, dir) => {
        val r = resampleOhlcv(ev(s, dir), K, "ts", "event_id",
          "value", "value", 86400)
        r.select(col("event_type"), col("bucket_start"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 2).as("volume"), col("n_rows"))
          .orderBy("event_type", "bucket_start")
      },
      Some(ohlcvSql("DAY")),
      doc = "SURVEY A1: pandas resample().agg(first/max/min/last/sum) — min_by/max_by on (ts,id) struct for order determinism; partial agg map-side"),

    // ---- A1 rollup cascade: coarse candles from fine candles ----
    Query(
      "q_a1_resample_rollup",
      (s, dir) => {
        // hourly built FROM 5-minute pre-aggregates; the oracle computes
        // hourly DIRECTLY from raw ticks — hash equality proves the
        // cascade lossless (the 100 TB pattern: raw ticks aggregated
        // once, every coarser resolution from the fine candles)
        val fine = resampleOhlcv(ev(s, dir), K, "ts", "event_id",
          "value", "value", 300)
        rollupOhlcv(fine, K, 3600)
          .select(col("event_type"), col("bucket_start"),
            col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 2).as("volume"), col("n_rows"))
          .orderBy("event_type", "bucket_start")
      },
      Some(ohlcvSql("HOUR")),
      doc = "A1 rollup cascade: hourly candles composed from 5-minute " +
        "candles, oracle computes hourly directly from raw — hash equality " +
        "= lossless pre-aggregation (open/close via min_by/max_by on the " +
        "fine bucket_start, high/low/volume compose associatively)"),

    // ---- P9: quantile winsorization ----
    Query(
      "q_p9_winsorize",
      (s, dir) =>
        winsorize(ev(s, dir), K, "value", 0.01, 0.99)
          .select(col("event_type"), col("event_id"),
            round(col("value_clipped"), 4).as("value_clipped")),
      Some("""WITH b AS (
             |  SELECT event_type, quantile_cont(value, 0.01) AS qlo, quantile_cont(value, 0.99) AS qhi
             |  FROM events GROUP BY event_type)
             |SELECT e.event_type, e.event_id,
             |  ROUND(LEAST(GREATEST(e.value, b.qlo), b.qhi), 4) AS value_clipped
             |FROM events e JOIN b ON e.event_type = b.event_type""".stripMargin),
      doc = "SURVEY P9: exact per-key quantiles broadcast back — params table is O(#keys)"),

    // ---- P10+P12: sentinel scrub + forward fill ----
    Query(
      "q_p12_ffill",
      (s, dir) => {
        val uw = keyedOrder("user_id", "ts", "event_id")
        val scrubbed = when(col("value") < 1.0, lit(null)).otherwise(col("value"))
        ev(s, dir)
          .withColumn("v", scrubbed)
          .select(col("user_id"), col("event_id"),
            ffill(col("v"), uw).as("value_ffill"))
      },
      Some("""SELECT user_id, event_id,
             |  last_value(CASE WHEN value < 1.0 THEN NULL ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
             |FROM events""".stripMargin),
      doc = "SURVEY P10/P12: zero→null scrub + pandas ffill = last(ignoreNulls) over running frame"),

    // ---- P12 (back-fill half): pandas bfill ----
    Query(
      "q_p12_bfill",
      (s, dir) => {
        val uw = keyedOrder("user_id", "ts", "event_id")
        val scrubbed = when(col("value") < 1.0, lit(null)).otherwise(col("value"))
        ev(s, dir)
          .withColumn("v", scrubbed)
          .select(col("user_id"), col("event_id"),
            bfill(col("v"), uw).as("value_bfill"))
      },
      Some("""SELECT user_id, event_id,
             |  first_value(CASE WHEN value < 1.0 THEN NULL ELSE value END IGNORE NULLS)
             |    OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value_bfill
             |FROM events""".stripMargin),
      doc = "SURVEY P12: pandas bfill = first(ignoreNulls) over the forward " +
        "frame — reference runs ffill().bfill() (data_loader.py:75); " +
        "this closes the back-fill half"),

    // ---- P11: rolling-median fill ----
    Query(
      "q_p11_rolling_median_fill",
      (s, dir) => {
        val uw = keyedOrder("user_id", "ts", "event_id")
        ev(s, dir)
          .withColumn("v", when(col("value") < 1.0, lit(null)).otherwise(col("value")))
          .select(col("user_id"), col("event_id"),
            round(rollingMedianFill("v", uw, 12), 4).as("value_filled"))
      },
      Some("""WITH n AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN value < 1.0 THEN NULL ELSE value END AS v
             |  FROM events)
             |SELECT user_id, event_id,
             |  ROUND(COALESCE(v, quantile_cont(v, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)), 4) AS value_filled
             |FROM n""".stripMargin),
      doc = "SURVEY P11: null volume ← trailing-12 exact median"),

    // ---- P13/P14: calendar + cyclical encodings ----
    Query(
      "q_p13_calendar_features",
      // `+ 0.0` after every round(): DuckDB's float round keeps IEEE -0.0
      // (cos(3π/2) ≈ -1.8e-16 → -0.0) while Spark's BigDecimal round gives
      // +0.0; adding +0.0 normalizes both sides (-0.0 + 0.0 == +0.0).
      (s, dir) =>
        ev(s, dir).select(col("event_id"),
          (round(hourSin(col("ts")), 6) + lit(0.0)).as("hour_sin"),
          (round(hourCos(col("ts")), 6) + lit(0.0)).as("hour_cos"),
          (round(dowSin(col("ts")), 6) + lit(0.0)).as("dow_sin"),
          (round(dowCos(col("ts")), 6) + lit(0.0)).as("dow_cos"),
          isWeekend(col("ts")).as("is_weekend"),
          isMarketOpen(col("ts")).as("is_market_open")),
      Some("""SELECT event_id,
             |  ROUND(SIN(2 * PI() * HOUR(ts) / 24), 6) + 0.0 AS hour_sin,
             |  ROUND(COS(2 * PI() * HOUR(ts) / 24), 6) + 0.0 AS hour_cos,
             |  ROUND(SIN(2 * PI() * dayofweek(ts) / 7), 6) + 0.0 AS dow_sin,
             |  ROUND(COS(2 * PI() * dayofweek(ts) / 7), 6) + 0.0 AS dow_cos,
             |  CAST(dayofweek(ts) IN (0, 6) AS INT) AS is_weekend,
             |  CAST(HOUR(ts) >= 8 AND HOUR(ts) < 20 AS INT) AS is_market_open
             |FROM events""".stripMargin),
      doc = "SURVEY P13/P14: pure scalar expressions — whole-stage codegen, no shuffle at all"),

    // ---- W14: latest-N rows per key ----
    Query(
      "q_w14_latest_window",
      (s, dir) =>
        latestN(ev(s, dir), K, "ts", "event_id", 5)
          .select("event_type", "event_id", "ts", "value")
          .orderBy("event_type", "event_id"),
      Some("""SELECT event_type, event_id, ts, value FROM (
             |  SELECT event_type, event_id, ts, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn <= 5
             |ORDER BY event_type, event_id""".stripMargin),
      doc = "SURVEY W14: newest-N per key via row_number — rank pushdown-friendly (WindowGroupLimit)"),

    // ---- W15: multi-horizon fan-out ----
    Query(
      "q_w15_horizon_fanout",
      (s, dir) =>
        horizonFanout(ev(s, dir), K, "ts", 36, 300)
          .orderBy("event_type", "horizon"),
      Some("""SELECT event_type, last_ts, horizon,
             |  last_ts + horizon * INTERVAL 300 SECOND AS target_ts
             |FROM (SELECT event_type, MAX(ts) AS last_ts FROM events GROUP BY event_type),
             |     (SELECT unnest(generate_series(1, 36)) AS horizon)
             |ORDER BY event_type, horizon""".stripMargin),
      doc = "SURVEY W15: explode(sequence()) generator — 36 rows per key from a 1-row-per-key agg"),

    // ---- W18: temporal train/test split ----
    Query(
      "q_w18_temporal_split",
      (s, dir) =>
        temporalSplit(ev(s, dir), K, "ts", "event_id", 0.8)
          .groupBy("event_type", "split")
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("sum_value"))
          .orderBy("event_type", "split"),
      Some("""WITH t AS (
             |  SELECT event_type, value,
             |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY event_type) AS n
             |  FROM events)
             |SELECT event_type,
             |  CASE WHEN rn <= CAST(FLOOR(n * 0.8) AS BIGINT) THEN 'train' ELSE 'test' END AS split,
             |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
             |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "SURVEY W18: first 80% of time-ordered rows per key — no shuffle across time"),

    // ---- T5 (beyond parity): session windows ----
    Query(
      "q_t5_session_windows",
      (s, dir) =>
        ev(s, dir)
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 2).as("sum_value"))
          .select(col("user_id"), col("sw.start").as("session_start"),
            col("sw.end").as("session_end"), col("n_events"), col("sum_value")),
      Some("""WITH s AS (
             |  SELECT user_id, event_id, ts, value,
             |    CASE WHEN LAG(ts) OVER w IS NULL
             |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS brk
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
             |      FROM s)
             |SELECT user_id, MIN(ts) AS session_start,
             |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             |  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
             |FROM g GROUP BY user_id, grp""".stripMargin),
      doc = "T5 (engine extension beyond reference parity): session windows " +
        "with a 30-min inactivity gap — session_window() in batch; oracle is " +
        "the gaps-and-islands rewrite; same operator runs streaming with a " +
        "watermark (StreamingSpec)"),

    // ---- temporal-proximity density (value-based RANGE frame) ----
    Query(
      "q_w_prox_count",
      (s, dir) => {
        // How many of the same user's events fall within ±300 s of each
        // event — the burstiness/co-occurrence feature. A self range-JOIN
        // would shuffle pairs; the value-based RANGE frame computes it in
        // ONE pass per user partition with a sliding two-pointer frame
        // (O(n) per key — bounded frames slide; it's the unbounded-
        // following frames that rescan, see SCALE.md).
        val w = Window.partitionBy("user_id").orderBy("ts_sec")
          .rangeBetween(-300, 300)
        ev(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("ts_sec"))
          .withColumn("n_prox", count(lit(1)).over(w) - 1)
          .select("event_id", "user_id", "n_prox")
      },
      Some("""SELECT event_id, user_id,
             |  COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_sec
             |    RANGE BETWEEN 300 PRECEDING AND 300 FOLLOWING) - 1 AS n_prox
             |FROM (SELECT event_id, user_id,
             |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)""".stripMargin),
      doc = "temporal-proximity density: same-user events within ±300 s of " +
        "each event via a value-based RANGE frame — one sorted pass per " +
        "user partition (sliding two-pointer frame), where a self " +
        "range-join would shuffle pairs; the burstiness feature"),

    // ---- A4 companion: fixed-width histogram profile ----
    Query(
      "q_a4_histogram",
      (s, dir) =>
        ev(s, dir)
          .withColumn("bucket",
            floor(col("value") / lit(50.0)).cast("long"))
          .groupBy(col("event_type"), col("bucket"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("sum_value"))
          .orderBy("event_type", "bucket"),
      Some("""SELECT event_type, CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket,
             |  COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "value-distribution histogram: fixed-width buckets as integer " +
        "math (deterministic across engines), one grouped pass — the " +
        "profiling companion to the exact quantiles"),

    // ---- W-family extension: rolling correlation ----
    Query(
      "q_w_rolling_corr",
      (s, dir) => {
        // Pearson via safeDiv(covar, sx*sy), NOT the corr() aggregate:
        // Spark's Corr guards n<=1 but lets a zero-variance frame reach
        // its internal ck/sqrt(xMk*yMk) division, which RAISES under
        // ANSI mode (Spark 4 default) where DuckDB's CORR returns NULL.
        // sf0.1 never has a flat 24-frame so bench/verify passed on data
        // luck — the 10x replica corpus (10 near-identical rows in a
        // row) and any real flatlining price feed hit it. covar_samp and
        // stddev_samp guard their own n-1 divisions (null, not raise),
        // and safeDiv's CaseWhen evaluates the outer division lazily —
        // null on flat frames, exactly the oracle's CORR.
        // Executed via the ordered-scan ops (one OrderedLag pass for
        // prev, then covar + both stddevs in ONE OrderedRolling pass,
        // bit-equal to the three window aggregates per
        // OrderedRollingSpec): the window form ran the whole 3-aggregate
        // frame re-accumulation on #event_types tasks — 72.8 s at the
        // 100x probe scale.
        import graft.ops.{OrderedLag, OrderedRolling}
        val lagged = OrderedLag.withLags(ev(s, dir), Seq("event_type"),
            Seq(col("ts"), col("event_id")), "value", Seq("prev" -> 1))
          .where(col("prev").isNotNull)
        OrderedRolling.withRollups(lagged, Seq("event_type"),
            Seq(col("ts"), col("event_id")),
            Seq(OrderedRolling.Roll("__cv", "covar_samp", 24, "value", "prev"),
              OrderedRolling.Roll("__sx", "stddev_samp", 24, "value"),
              OrderedRolling.Roll("__sy", "stddev_samp", 24, "prev")))
          .select(col("event_type"), col("event_id"),
            (round(safeDiv(col("__cv"), col("__sx") * col("__sy")), 4)
              + lit(0.0)).as("corr_24"))
      },
      Some("""WITH p AS (
             |  SELECT event_type, event_id, ts, value,
             |    LAG(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
             |  FROM events)
             |SELECT event_type, event_id,
             |  ROUND(CORR(value, prev) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 4) + 0.0 AS corr_24
             |FROM p WHERE prev IS NOT NULL""".stripMargin),
      doc = "rolling autocorrelation(lag 1) over trailing 24 rows — the " +
        "regime-shift signal; corr as a window aggregate, same sorted partition"),

    // ---- A4: quantiles ----
    Query(
      "q_a4_quantiles",
      (s, dir) =>
        ev(s, dir).groupBy(col("event_type")).agg(
          round(expr("percentile(value, 0.25)"), 4).as("q25"),
          round(expr("percentile(value, 0.5)"), 4).as("q50"),
          round(expr("percentile(value, 0.75)"), 4).as("q75"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  ROUND(quantile_cont(value, 0.25), 4) AS q25,
             |  ROUND(quantile_cont(value, 0.5), 4) AS q50,
             |  ROUND(quantile_cont(value, 0.75), 4) AS q75
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "SURVEY A4: exact linear-interpolated percentiles (matches pandas/DuckDB quantile_cont)"),

    // ---- A5/A6: scaler fits ----
    Query(
      "q_a5_robust_scaler_params",
      (s, dir) =>
        ev(s, dir).groupBy(col("event_type")).agg(
          round(expr("percentile(value, 0.5)"), 4).as("center"),
          round(expr("percentile(value, 0.75) - percentile(value, 0.25)"), 4).as("scale"))
          .orderBy("event_type"),
      Some("""SELECT event_type,
             |  ROUND(quantile_cont(value, 0.5), 4) AS center,
             |  ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 4) AS scale
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "SURVEY A5: RobustScaler fit = median/IQR params table (composed from quantiles; no MLlib dependency)"),

    Query(
      "q_p_outlier_mad",
      (s, dir) => {
        // MAD-based robust outlier gate (the cleaning rule winsorize
        // doesn't give you: a FLAG, not a clip): per key, median and the
        // median absolute deviation, then |v - med|·0.6745 > 3.5·mad
        // marks the outlier (the modified-z rule, multiplicative form so
        // mad = 0 degenerates to "nothing flagged" with no division).
        // Three passes over the fact table — MAD is inherently two-pass
        // and the flag count is the third; every intermediate is an
        // O(#keys) params table broadcast back, never a fact-side
        // shuffle. Params rounded to 4 BEFORE the comparison (the A5
        // convention: both engines then compare identical doubles).
        val med = ev(s, dir).groupBy(col(K))
          .agg((round(expr("percentile(value, 0.5)"), 4) + lit(0.0))
            .as("med"))
        val withMed = ev(s, dir).join(broadcast(med), K)
        val mad = withMed.groupBy(col(K))
          .agg((round(expr("percentile(abs(value - med), 0.5)"), 4)
            + lit(0.0)).as("mad"))
        withMed.join(broadcast(mad), K)
          .groupBy(col(K))
          .agg(count(lit(1)).as("n"),
            sum((abs(col("value") - col("med")) * lit(0.6745)
              > col("mad") * lit(3.5)).cast("long")).as("n_out"))
          .select(col(K), col("n"), col("n_out"),
            (round(col("n_out") / col("n"), 4) + lit(0.0)).as("out_frac"))
          .orderBy(K)
      },
      Some("""WITH m AS (SELECT event_type,
             |         ROUND(quantile_cont(value, 0.5), 4) + 0.0 AS med
             |       FROM events GROUP BY 1),
             |d AS (SELECT e.event_type, e.value, m.med
             |      FROM events e JOIN m USING (event_type)),
             |md AS (SELECT event_type,
             |         ROUND(quantile_cont(abs(value - med), 0.5), 4) + 0.0 AS mad
             |       FROM d GROUP BY 1)
             |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN abs(d.value - d.med) * 0.6745 > md.mad * 3.5
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
             |  ROUND(SUM(CASE WHEN abs(d.value - d.med) * 0.6745 > md.mad * 3.5
             |       THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) + 0.0 AS out_frac
             |FROM d JOIN md USING (event_type)
             |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin),
      doc = "MAD robust outlier gate (modified z, |v-med|·0.6745 > 3.5·mad): " +
        "per-key median + MAD as broadcast params tables, multiplicative " +
        "comparison so mad=0 flags nothing instead of dividing by zero — " +
        "the flag-don't-clip complement to winsorize; params rounded " +
        "before comparing so both engines test identical doubles"),

    Query(
      "q_p_quantile_bins",
      (s, dir) => {
        // Quantile discretization (the feature-binning step before
        // gradient-boosting / embedding-table features): per key, ntile
        // deciles over (value, event_id) — the id tiebreak makes the
        // assignment total and engine-stable, and ntile is pure integer
        // arithmetic on ranks, so bin populations and edges are exact on
        // both engines. Executed via ops/OrderedNtile, NOT the
        // partitionBy(event_type) window: 5 keys = 5 tasks sorting the
        // whole input (22.3x / 19.9 s at the 100x probe); the tiled rank
        // form range-partitions (key, value, id) so the sort uses all
        // cores, then an O(#keys·10) rollup of bin edges — the fitted
        // bin table a serving layer broadcasts.
        graft.ops.OrderedNtile.withNtile(ev(s, dir), Seq(K),
            Seq(col("value"), col("event_id")), 10, "bin")
          .groupBy(col(K), col("bin"))
          .agg(count(lit(1)).as("n"),
            (round(min("value"), 4) + lit(0.0)).as("lo"),
            (round(max("value"), 4) + lit(0.0)).as("hi"))
          .orderBy(K, "bin")
      },
      Some("""WITH b AS (SELECT event_type, value,
             |         NTILE(10) OVER (PARTITION BY event_type
             |           ORDER BY value, event_id) AS bin
             |       FROM events)
             |SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS n,
             |  ROUND(MIN(value), 4) + 0.0 AS lo,
             |  ROUND(MAX(value), 4) + 0.0 AS hi
             |FROM b GROUP BY event_type, bin
             |ORDER BY event_type, bin""".stripMargin),
      doc = "quantile discretization: per-key ntile deciles with an id " +
        "tiebreak (total order -> exact integer bin populations on any " +
        "engine), rolled up to the O(#keys·10) bin-edge table a serving " +
        "layer broadcasts — the feature-binning fit for boosted-tree / " +
        "embedding-table features"),

    Query(
      "q_a6_minmax_scaler_params",
      (s, dir) =>
        ev(s, dir).groupBy(col("event_type")).agg(
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
          .orderBy("event_type"),
      Some("""SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "SURVEY A6: MinMax fit — exact min/max, affine transform applied as column arithmetic"),

    // ---- A7/A8: error metrics + directional accuracy on a naive lag-1 predictor ----
    Query(
      "q_a7_error_metrics",
      (s, dir) => {
        // lag alignment via ops/OrderedLag, not a window: `lag OVER
        // (PARTITION BY event_type)` sorts on #event_types tasks (5 here)
        // — measured 11 s of the query's 12.1 s at the 100x probe scale,
        // and at 100 TB it puts ~20 TB on one task. OrderedLag
        // range-partitions (key, ts, id) so the sort uses every core;
        // lag is pure row shifting, so the output is bit-equal
        // (OrderedLagSpec) and the oracle keeps its window formulation.
        val pred = graft.ops.OrderedLag.withLags(ev(s, dir),
            Seq("event_type"), Seq(col("ts"), col("event_id")), "value",
            Seq("pred" -> 1, "prev2" -> 2))
          .where(col("pred").isNotNull && col("prev2").isNotNull)
        pred.groupBy(col("event_type")).agg(
          round(avg(abs(col("value") - col("pred"))), 4).as("mae"),
          round(sqrt(avg(pow(col("value") - col("pred"), 2))), 4).as("rmse"),
          round(avg(safeDiv(lit(2) * abs(col("value") - col("pred")),
            abs(col("value")) + abs(col("pred")))), 4).as("smape"),
          round(avg((signum(col("value") - col("pred")) ===
            signum(col("pred") - col("prev2"))).cast("int")), 4).as("dir_acc"),
          count(lit(1)).as("sample_count"))
          .orderBy("event_type")
      },
      Some("""WITH p AS (
             |  SELECT event_type, value,
             |    LAG(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pred,
             |    LAG(value, 2) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev2
             |  FROM events)
             |SELECT event_type,
             |  ROUND(AVG(ABS(value - pred)), 4) AS mae,
             |  ROUND(SQRT(AVG((value - pred) * (value - pred))), 4) AS rmse,
             |  ROUND(AVG(CASE WHEN ABS(value) + ABS(pred) <> 0
             |                 THEN 2 * ABS(value - pred) / (ABS(value) + ABS(pred)) END), 4) AS smape,
             |  ROUND(AVG(CAST(SIGN(value - pred) = SIGN(pred - prev2) AS INT)), 4) AS dir_acc,
             |  COUNT(*) AS sample_count
             |FROM p WHERE pred IS NOT NULL AND prev2 IS NOT NULL
             |GROUP BY event_type ORDER BY event_type""".stripMargin),
      doc = "SURVEY A7/A8: MAE/RMSE/SMAPE/directional-accuracy as plain SQL aggregates over a lag-aligned frame"),

    // ---- A9: grouped multi-dimension metrics ----
    Query(
      "q_a9_grouped_metrics",
      (s, dir) => {
        // same OrderedLag rationale as q_a7_error_metrics above.
        // mae goes through the DSIR integer-micro-unit discipline: a
        // round-4 over avg(double) is summation-ORDER-dependent, and the
        // tile partitioning changed the partial-agg order — one sf0.01
        // cell sat exactly on a .00005 boundary and flipped against the
        // oracle. Quantizing each |diff| to exact micro-units
        // (floor(x*1e6 + .5) — identical double product + floor on both
        // engines), summing in long, and rounding to 4 decimals in
        // integer arithmetic before one shared /1e4 division makes the
        // cell partition-order-free and engine-exact, boundary or not.
        val pred = graft.ops.OrderedLag.withLags(ev(s, dir),
            Seq("event_type"), Seq(col("ts"), col("event_id")), "value",
            Seq("pred" -> 1))
          .where(col("pred").isNotNull)
        // micro-unit budget guard: a non-finite or overflow-scale diff
        // (NaN/Inf/1e308 measurements — HostileInputProbe) is outside the
        // metric's price domain; it quantizes to null (both engines) so
        // one bad tick can't overflow the long sum. 1e9 keeps q6 <= 1e15
        // per row — vast headroom over any price diff.
        val diff = abs(col("value") - col("pred"))
        val q6 = when(diff < lit(1e9), floor(diff * 1e6 + 0.5))
          .cast("long")
        // n counts exactly the rows q6 sums: a null `value` under a
        // non-null pred makes q6 null — the oracle's `WHERE q6 IS NOT
        // NULL` excludes it, so count(lit(1)) over the pred-filtered
        // frame alone would diverge on any corpus with null values
        // (ADVICE r9). Filter on q6 itself so both engines count the
        // same rows.
        pred.select(col("event_type"), dow(col("ts")).as("dow"), q6.as("q6"))
          .where(col("q6").isNotNull)
          .groupBy(col("event_type"), col("dow"))
          .agg(sum(col("q6")).as("__s6"), count(lit(1)).as("n"))
          .select(col("event_type"), col("dow"),
            (expr("(__s6 + n * 50) div (n * 100)").cast("double")
              / lit(10000.0) + lit(0.0)).as("mae"),
            col("n"))
          .orderBy("event_type", "dow")
      },
      Some("""WITH p AS (
             |  SELECT event_type, dayofweek(ts) AS dow,
             |    CAST(CASE WHEN ABS(value - LAG(value, 1) OVER w) < 1e9
             |      THEN FLOOR(ABS(value - LAG(value, 1) OVER w) * 1e6 + 0.5)
             |      END AS BIGINT) AS q6
             |  FROM events
             |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
             |g AS (SELECT event_type, dow, SUM(q6) AS s6, COUNT(*) AS n
             |      FROM p WHERE q6 IS NOT NULL GROUP BY 1, 2)
             |SELECT event_type, dow,
             |  CAST((s6 + n * 50) // (n * 100) AS DOUBLE) / 10000.0 + 0.0 AS mae,
             |  n
             |FROM g ORDER BY 1, 2""".stripMargin),
      doc = "SURVEY A9: metrics per (key, horizon-like dimension); mae in " +
        "exact integer micro-units (partition-order-free, the DSIR " +
        "rounding discipline)"),

    Query(
      "q_a_vwap",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        // VWAP — the volume-weighted average price every execution /
        // benchmark system publishes per bucket. Both sums run in
        // DECIMAL: exact, order-independent (a double Σ p·v differs in
        // the last ulp under Spark's varying partial-agg order — the
        // DSIR lesson), one partial-agg shuffle on (key, bucket). The
        // proxy maps value→price and (value mod 7)+1→size so the weights
        // are deterministic integers replayed in the oracle.
        // ledger guard: a value outside DECIMAL(28,4)'s range (an
        // overflow-scale corrupt measurement) is domain-invalid — null,
        // not an ANSI NUMERIC_VALUE_OUT_OF_RANGE (HostileInputProbe);
        // the oracle casts through the same CASE
        def d4(c: org.apache.spark.sql.Column) =
          when(abs(c) < lit(1e24), c).cast(DecimalType(28, 4))
        val sz = (pmod(col("event_id"), lit(7)) + 1).cast("long")
        ev(s, dir)
          .select(col("event_type"), col("ts"), col("value"),
            sz.as("size"))
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("bucket_start"))
          .agg(sum(d4(col("value")) * col("size")).as("__pv"),
            sum(col("size")).as("volume"))
          // the Σp·v is EXACT decimal; convert once to double and divide
          // (identical IEEE result on both engines) — engines' native
          // decimal-division scale rules differ, so never divide decimals
          .select(col("event_type"), col("bucket_start"), col("volume"),
            (round(col("__pv").cast("double") / col("volume"), 6)
              + lit(0.0)).as("vwap"))
          .orderBy("event_type", "bucket_start")
      },
      Some("""SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             |  CAST(SUM((event_id % 7) + 1) AS BIGINT) AS volume,
             |  ROUND(CAST(SUM(CAST(CASE WHEN ABS(value) < 1e24 THEN value END
             |      AS DECIMAL(28,4)) * ((event_id % 7) + 1)) AS DOUBLE)
             |    / SUM((event_id % 7) + 1), 6) + 0.0 AS vwap
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "VWAP per (key, hour bucket): both sums in DECIMAL — exact " +
        "and summation-order-independent where a double sum wobbles in " +
        "the last ulp — one partial-agg shuffle; the execution-benchmark " +
        "aggregate every trading system publishes"),

    Query(
      "q_a_gap_audit",
      (s, dir) => {
        // Ingest-completeness audit: which expected time buckets have NO
        // rows, per key — the backfill trigger a monitored pipeline runs
        // after every outage. Expected buckets = sequence(min, max) per
        // key (a generator, O(range/width) rows — bounded by the
        // retention window at any corpus size), anti-joined against the
        // observed buckets; output is per-key gap counts, O(#keys).
        val hour = 3600L
        val b = ev(s, dir)
          .select(col("event_type"),
            expr(s"CAST(unix_timestamp(ts) AS BIGINT) DIV $hour * $hour")
              .as("bucket"))
        // observed feeds BOTH the span bounds and the anti-join: retain
        // the O(#keys·#buckets) aggregate so the fact table scans once
        val observed = graft.CacheScope.retain(
          b.groupBy("event_type", "bucket").count())
        val spans = observed.groupBy("event_type")
          .agg(min("bucket").as("b0"), max("bucket").as("b1"),
            count(lit(1)).as("n_observed"))
        spans
          .select(col("event_type"), col("n_observed"),
            explode(expr(s"sequence(b0, b1, $hour)")).as("bucket"))
          .join(observed, Seq("event_type", "bucket"), "left_anti")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
            min("bucket").as("first_gap"), max("bucket").as("last_gap"))
          .join(spans.select(col("event_type"), col("n_observed")),
            Seq("event_type"), "right")
          .select(col("event_type"), col("n_observed"),
            coalesce(col("n_gaps"), lit(0L)).as("n_gaps"),
            col("first_gap"), col("last_gap"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (SELECT event_type,
             |    (CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket FROM events),
             |obs AS (SELECT event_type, bucket, COUNT(*) AS n
             |        FROM b GROUP BY 1, 2),
             |spans AS (SELECT event_type, MIN(bucket) AS b0, MAX(bucket) AS b1,
             |            COUNT(*) AS n_observed FROM obs GROUP BY 1),
             |expect AS (SELECT event_type, n_observed,
             |             unnest(range(b0, b1 + 3600, 3600)) AS bucket FROM spans),
             |gaps AS (SELECT e.event_type, e.bucket FROM expect e
             |         LEFT JOIN obs o USING (event_type, bucket)
             |         WHERE o.bucket IS NULL)
             |SELECT s.event_type, s.n_observed,
             |  CAST(COALESCE(COUNT(g.bucket), 0) AS BIGINT) AS n_gaps,
             |  MIN(g.bucket) AS first_gap, MAX(g.bucket) AS last_gap
             |FROM spans s LEFT JOIN gaps g USING (event_type)
             |GROUP BY s.event_type, s.n_observed
             |ORDER BY s.event_type""".stripMargin),
      doc = "ingest-completeness audit: expected hourly buckets (sequence " +
        "per key, bounded by the retention window) anti-joined against " +
        "observed buckets — per-key gap counts and bounds, the backfill " +
        "trigger a monitored pipeline runs after an outage")
  )
}
