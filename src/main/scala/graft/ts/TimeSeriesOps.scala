package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Keyed time-series operator library — the Spark-native rebuild of the
  * reference's pandas feature pipeline (SURVEY §2.5 W1-W18, §2.3 P9-P15,
  * §2.4 A1). Everything here is declarative window/aggregate work: one
  * shuffle on the series key, then all rolling frames evaluate inside the
  * same sorted partition — the layout Catalyst reuses across consecutive
  * window functions with identical (partitionBy, orderBy).
  *
  * Scale posture: a series key (product_id / event_type / user_id) is the
  * partition unit. N keys → N-way parallelism; per-key data must fit a
  * task's sort spill budget, which holds for time-series (years of 5-min
  * candles ≈ 10^5 rows/key). Skewed keys only matter for *aggregation*
  * (salt there), never for order-dependent windows.
  */
object TimeSeriesOps {

  /** Deterministic per-key time order: ties on ts broken by a unique id
    * column so window results are reproducible across partitionings (the
    * reference's pandas sort is stable on its index; we make order total).
    */
  def keyedOrder(key: String, ts: String, id: String): WindowSpec =
    Window.partitionBy(col(key)).orderBy(col(ts), col(id))

  /** Trailing row-count frame of `n` rows ending at the current row
    * (pandas `rolling(n)` with min_periods=1 semantics for mean/sum).
    */
  def trailing(w: WindowSpec, n: Int): WindowSpec = w.rowsBetween(-(n - 1), 0)

  def runningFrame(w: WindowSpec): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, 0)

  /** ANSI-safe ratio: null when the denominator is 0 (or null). Spark 4's
    * default ANSI mode throws DIVIDE_BY_ZERO on double/0 — at 100 TB a
    * single zero tick must yield a null feature, not kill the job. The
    * null-on-zero posture is replayed in every oracle with
    * `CASE WHEN denom = 0 THEN NULL` (DuckDB's IEEE float division would
    * otherwise give ±inf). CaseWhen evaluates the branch lazily, so the
    * division never runs when the guard is false.
    */
  def safeDiv(num: Column, den: Column): Column =
    when(den =!= 0.0, num / den)

  // ---- W1: log returns -----------------------------------------------
  /** log1p(pct_change) == log(x_t / x_{t-1}); null on the first row of a key
    * (pandas pct_change head behavior, SURVEY §7.3) and on any non-positive
    * tick (zero/negative price has no defined log return; an unguarded
    * divide or log would be an ANSI runtime error at scale).
    */
  def logReturns(price: Column, w: WindowSpec): Column = {
    val prev = lag(price, 1).over(w)
    when(price > 0.0 && prev > 0.0, log(price / prev))
  }

  // ---- W2/W5: value / trailing-mean ratio ------------------------------
  def maRatio(c: Column, w: WindowSpec, n: Int): Column =
    safeDiv(c, avg(c).over(trailing(w, n)))

  // ---- W4: rolling z-score ---------------------------------------------
  /** null when the trailing stddev is 0 (constant window) or undefined
    * (single row) — same posture as pandas' 0/0→NaN, minus the NaN.
    */
  def rollingZscore(c: Column, w: WindowSpec, n: Int): Column =
    safeDiv(c - avg(c).over(trailing(w, n)), stddev_samp(c).over(trailing(w, n)))

  // ---- W10: on-balance volume (running signed sum) -----------------------
  def obv(price: Column, volume: Column, w: WindowSpec): Column = {
    val signed = signum(price - lag(price, 1).over(w)) * volume
    sum(coalesce(signed, lit(0.0))).over(runningFrame(w))
  }

  // ---- W11: rolling volatility (stddev of returns) -----------------------
  def rollingStd(c: Column, w: WindowSpec, n: Int): Column =
    stddev_samp(c).over(trailing(w, n))

  // ---- W12: momentum = short mean − long mean ----------------------------
  def momentum(c: Column, w: WindowSpec, short: Int, long: Int): Column =
    avg(c).over(trailing(w, short)) - avg(c).over(trailing(w, long))

  // ---- P12: forward / backward fill --------------------------------------
  /** last non-null value at or before the current row (pandas ffill). */
  def ffill(c: Column, w: WindowSpec): Column =
    last(c, ignoreNulls = true).over(runningFrame(w))

  /** first non-null value at or after the current row (pandas bfill). */
  def bfill(c: Column, w: WindowSpec): Column =
    first(c, ignoreNulls = true)
      .over(w.rowsBetween(0, Window.unboundedFollowing))

  // ---- P11: rolling-median fill -------------------------------------------
  /** exact rolling median over the trailing n rows (pandas rolling(n).median
    * with min_periods=1); used to patch null volume rows.
    */
  def rollingMedianFill(colName: String, w: WindowSpec, n: Int): Column =
    coalesce(col(colName),
      expr(s"percentile($colName, 0.5)").over(trailing(w, n)))

  // ---- P13/P14: calendar features ------------------------------------------
  /** dow: 0=Sunday..6=Saturday (Spark dayofweek()-1 == DuckDB dayofweek()). */
  def dow(ts: Column): Column = dayofweek(ts) - 1

  def hourSin(ts: Column): Column = sin(lit(2 * math.Pi) * hour(ts) / 24)
  def hourCos(ts: Column): Column = cos(lit(2 * math.Pi) * hour(ts) / 24)
  def dowSin(ts: Column): Column = sin(lit(2 * math.Pi) * dow(ts) / 7)
  def dowCos(ts: Column): Column = cos(lit(2 * math.Pi) * dow(ts) / 7)

  /** Saturday/Sunday flag as int (reference data_loader.py:117). */
  def isWeekend(ts: Column): Column = dow(ts).isin(0, 6).cast("int")

  /** 8 <= hour < 20 flag as int (reference data_loader.py:118). */
  def isMarketOpen(ts: Column): Column =
    (hour(ts) >= 8 && hour(ts) < 20).cast("int")

  // ---- A1: OHLCV resample ---------------------------------------------------
  /** Time-bucket resample with deterministic ordered first/last: pandas
    * `resample().agg({open:first, high:max, low:min, close:last, vol:sum})`
    * (reference data_loader.py:80-88). Spark's groupBy first()/last() are
    * order-nondeterministic, so open/close use min_by/max_by on a
    * (ts, id) struct — total order, reproducible at any parallelism.
    * One shuffle on (key, bucket); partial aggregation runs map-side.
    */
  def resampleOhlcv(df: DataFrame, key: String, ts: String, id: String,
      price: String, volume: String, bucketSeconds: Int): DataFrame = {
    val bucket = timestamp_seconds(
      floor(unix_timestamp(col(ts)) / bucketSeconds) * bucketSeconds)
    val ord = struct(col(ts), col(id))
    df.groupBy(col(key), bucket.as("bucket_start"))
      .agg(
        min_by(col(price), ord).as("open"),
        max(col(price)).as("high"),
        min(col(price)).as("low"),
        max_by(col(price), ord).as("close"),
        sum(col(volume)).as("volume"),
        count(lit(1)).as("n_rows"))
  }

  /** Roll already-resampled OHLCV buckets up to a coarser resolution —
    * open = open of the earliest fine bucket, close = close of the
    * latest, high/low/volume/n compose associatively. Lossless vs
    * resampling the raw ticks directly (hash-checked by
    * `q_a1_resample_rollup`), which is what makes OHLCV cheap at
    * 100 TB: keep 5-minute pre-aggregates, build any coarser frame
    * from them without touching raw ticks again.
    */
  def rollupOhlcv(fine: DataFrame, key: String, bucketSeconds: Int): DataFrame = {
    val bucket = timestamp_seconds(
      floor(unix_timestamp(col("bucket_start")) / bucketSeconds) * bucketSeconds)
    val ord = col("bucket_start")
    fine.groupBy(col(key), bucket.as("bucket_start"))
      .agg(
        min_by(col("open"), ord).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), ord).as("close"),
        sum(col("volume")).as("volume"),
        sum(col("n_rows")).as("n_rows"))
  }

  // ---- P9: quantile winsorization ---------------------------------------------
  /** Clip `c` to its per-key exact [lo, hi] quantiles (reference
    * data_loader.py:70-73). Quantiles are computed once per key with exact
    * `percentile` (linear interpolation — matches pandas/DuckDB
    * quantile_cont) and joined back broadcast-style: the params table is
    * O(#keys), never the fact table.
    */
  def winsorize(df: DataFrame, key: String, valueCol: String,
      lo: Double, hi: Double): DataFrame = {
    val bounds = df.groupBy(col(key)).agg(
      expr(s"percentile($valueCol, $lo)").as("__q_lo"),
      expr(s"percentile($valueCol, $hi)").as("__q_hi"))
    df.join(broadcast(bounds), key)
      .withColumn(valueCol + "_clipped",
        least(greatest(col(valueCol), col("__q_lo")), col("__q_hi")))
      .drop("__q_lo", "__q_hi")
  }

  // ---- W14: latest-N rows per key -----------------------------------------------
  def latestN(df: DataFrame, key: String, ts: String, id: String,
      n: Int): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts).desc, col(id).desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= n)
      .drop("__rn")
  }

  // ---- W15: multi-horizon timestamp fan-out ---------------------------------------
  /** For each key's max(ts), emit `horizons` rows at +step*h seconds
    * (reference predictor.py:224-227 → explode(sequence)).
    */
  def horizonFanout(df: DataFrame, key: String, ts: String,
      horizons: Int, stepSeconds: Int): DataFrame =
    df.groupBy(col(key)).agg(max(col(ts)).as("last_ts"))
      .select(col(key), col("last_ts"),
        explode(sequence(lit(1), lit(horizons))).as("horizon"))
      .withColumn("target_ts",
        expr(s"timestampadd(SECOND, horizon * $stepSeconds, last_ts)"))

  // ---- W18: temporal train/test split ----------------------------------------------
  /** Tags the first `frac` of each key's time-ordered rows as train
    * (reference data_loader.py:283-289 — no shuffling across time).
    */
  def temporalSplit(df: DataFrame, key: String, ts: String, id: String,
      frac: Double): DataFrame = {
    val w = keyedOrder(key, ts, id)
    val cw = Window.partitionBy(col(key))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("split",
        when(col("__rn") <= floor(col("__n") * frac).cast("long"), lit("train"))
          .otherwise(lit("test")))
      .drop("__rn", "__n")
  }
}
