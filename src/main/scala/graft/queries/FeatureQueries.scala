package graft.queries

import graft.{Query, QueryPack, Tables}
import graft.ts.FeatureFrame
import graft.ts.TimeSeriesOps._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The 26-feature parity frame (SURVEY §7.4.2) and the rolling-eval
  * metrics (W16/W17), driven from hourly OHLCV resampled off `events`.
  * The oracle replays the full chain — resample → rolling features →
  * positional warmup cut — with the recursive indicator columns
  * (rsi/macd/atr) excluded here because they have no closed SQL form;
  * those are golden-tested in FeatureFrameSpec/IndicatorsSpec instead.
  */
object FeatureQueries extends QueryPack {

  private val K = "event_type"
  private def ev(s: SparkSession, dir: String) = Tables(s, dir, "events")

  /** The rounded 26-column frame — shared by the DataFrame-API query and
    * the SQL-view face (`q_sql_feature_frame`).
    */
  def frame26(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
        val hourly = resampleOhlcv(ev(s, dir), K, "ts", "event_id",
            "value", "value", 3600)
          .withColumn("bucket_id", unix_timestamp(col("bucket_start")))
        FeatureFrame.enhance(hourly, K, "bucket_start", "bucket_id")
          .select(col(K), col("bucket_start"),
            col("open"), col("high"), col("low"), col("close"),
            (round(col("price_ma_ratio"), 4) + lit(0.0)).as("price_ma_ratio"),
            (round(col("price_spread"), 6) + lit(0.0)).as("price_spread"),
            (round(col("volume"), 2) + lit(0.0)).as("volume"),
            (round(col("volume_zscore"), 4) + lit(0.0)).as("volume_zscore"),
            (round(col("volume_ma_ratio"), 4) + lit(0.0)).as("volume_ma_ratio"),
            (round(col("liquidity"), 4) + lit(0.0)).as("liquidity"),
            (round(col("obv"), 2) + lit(0.0)).as("obv"),
            (round(col("log_returns"), 4) + lit(0.0)).as("log_returns"),
            (round(col("volatility_6"), 4) + lit(0.0)).as("volatility_6"),
            (round(col("volatility_12"), 4) + lit(0.0)).as("volatility_12"),
            (round(col("volatility_24"), 4) + lit(0.0)).as("volatility_24"),
            (round(col("momentum_3_6"), 4) + lit(0.0)).as("momentum_3_6"),
            (round(col("momentum_6_12"), 4) + lit(0.0)).as("momentum_6_12"),
            (round(col("hour_sin"), 6) + lit(0.0)).as("hour_sin"),
            (round(col("hour_cos"), 6) + lit(0.0)).as("hour_cos"),
            (round(col("dow_sin"), 6) + lit(0.0)).as("dow_sin"),
            (round(col("dow_cos"), 6) + lit(0.0)).as("dow_cos"),
            col("is_weekend"), col("is_market_open"))
  }

  /** DuckDB replay of [[frame26]] (recursive rsi/macd/atr columns excluded
    * — no closed SQL form; golden-tested in ScalaTest).
    */
  val frame26Oracle: String = """WITH c AS (
             |  SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
             |    first(value ORDER BY ts, event_id) AS open, MAX(value) AS high,
             |    MIN(value) AS low, last(value ORDER BY ts, event_id) AS close,
             |    SUM(value) AS volume
             |  FROM events GROUP BY 1, 2),
             |f AS (
             |  SELECT *,
             |    CASE WHEN close > 0 AND LAG(close) OVER w > 0
             |         THEN LN(close / LAG(close) OVER w) END AS lr,
             |    CASE WHEN AVG(close) OVER w24 <> 0
             |         THEN close / AVG(close) OVER w24 END AS price_ma_ratio,
             |    CASE WHEN close <> 0 THEN (high - low) / close END AS price_spread,
             |    CASE WHEN STDDEV_SAMP(volume) OVER w24 <> 0
             |         THEN (volume - AVG(volume) OVER w24) / STDDEV_SAMP(volume) OVER w24 END AS volume_zscore,
             |    CASE WHEN AVG(volume) OVER w24 <> 0
             |         THEN volume / AVG(volume) OVER w24 END AS volume_ma_ratio,
             |    LN(1 + volume * close) AS liquidity,
             |    AVG(close) OVER w3 - AVG(close) OVER w6 AS momentum_3_6,
             |    AVG(close) OVER w6 - AVG(close) OVER w12 AS momentum_6_12,
             |    CASE WHEN LAG(close) OVER w IS NULL THEN volume
             |         WHEN close < LAG(close) OVER w THEN -volume
             |         ELSE volume END AS sv,
             |    ROW_NUMBER() OVER w AS rn
             |  FROM c
             |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start),
             |    w24 AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 23 PRECEDING AND CURRENT ROW),
             |    w3 AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             |    w6 AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
             |    w12 AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
             |g AS (
             |  SELECT *,
             |    SUM(sv) OVER w AS obv,
             |    STDDEV_SAMP(lr) OVER w6 AS volatility_6,
             |    STDDEV_SAMP(lr) OVER w12 AS volatility_12,
             |    STDDEV_SAMP(lr) OVER w24 AS volatility_24
             |  FROM f
             |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    w6 AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
             |    w12 AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
             |    w24 AS (PARTITION BY event_type ORDER BY bucket_start ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
             |SELECT event_type, bucket_start, open, high, low, close,
             |  ROUND(price_ma_ratio, 4) + 0.0 AS price_ma_ratio,
             |  ROUND(price_spread, 6) + 0.0 AS price_spread,
             |  ROUND(volume, 2) + 0.0 AS volume,
             |  ROUND(volume_zscore, 4) + 0.0 AS volume_zscore,
             |  ROUND(volume_ma_ratio, 4) + 0.0 AS volume_ma_ratio,
             |  ROUND(liquidity, 4) + 0.0 AS liquidity,
             |  ROUND(obv, 2) + 0.0 AS obv,
             |  ROUND(lr, 4) + 0.0 AS log_returns,
             |  ROUND(volatility_6, 4) + 0.0 AS volatility_6,
             |  ROUND(volatility_12, 4) + 0.0 AS volatility_12,
             |  ROUND(volatility_24, 4) + 0.0 AS volatility_24,
             |  ROUND(momentum_3_6, 4) + 0.0 AS momentum_3_6,
             |  ROUND(momentum_6_12, 4) + 0.0 AS momentum_6_12,
             |  ROUND(SIN(2 * PI() * HOUR(bucket_start) / 24), 6) + 0.0 AS hour_sin,
             |  ROUND(COS(2 * PI() * HOUR(bucket_start) / 24), 6) + 0.0 AS hour_cos,
             |  ROUND(SIN(2 * PI() * dayofweek(bucket_start) / 7), 6) + 0.0 AS dow_sin,
             |  ROUND(COS(2 * PI() * dayofweek(bucket_start) / 7), 6) + 0.0 AS dow_cos,
             |  CAST(dayofweek(bucket_start) IN (0, 6) AS INT) AS is_weekend,
             |  CAST(HOUR(bucket_start) >= 8 AND HOUR(bucket_start) < 20 AS INT) AS is_market_open
             |FROM g WHERE rn > 33""".stripMargin

  override def queries: Seq[Query] = Seq(

    Query(
      "q_feature_frame_26",
      (s, dir) => frame26(s, dir),
      Some(frame26Oracle),
      doc = "SURVEY §7.4.2: the 26-feature frame (W1-W12, P13-P15, W3/W6 " +
        "included) over hourly resampled OHLCV, positional warmup cut = " +
        "reference dropna(); recursive rsi/macd/atr columns golden-tested " +
        "in ScalaTest (no closed SQL form)"),

    // ---- the same contract reachable from TEXT SQL (S8 × §7.4.2) ----
    Query(
      "q_sql_feature_frame",
      (s, dir) => {
        frame26(s, dir).createOrReplaceTempView("feature_frame_26")
        s.sql("""SELECT event_type, bucket_start, close, log_returns,
                |  volatility_24, momentum_3_6, is_market_open
                |FROM feature_frame_26
                |WHERE is_weekend = 0""".stripMargin)
      },
      Some(s"""SELECT event_type, bucket_start, close, log_returns,
             |  volatility_24, momentum_3_6, is_market_open
             |FROM ($frame26Oracle) feature_frame_26
             |WHERE is_weekend = 0""".stripMargin),
      doc = "S8 polish: the 26-feature parity frame registered as a view and " +
        "queried through spark.sql text — the training-data contract is " +
        "reachable from the dashboard SQL surface, not only the DataFrame API"),

    // ---- W16: rolling and per-step eval MSE ----
    Query(
      "q_w16_rolling_mse",
      (s, dir) => {
        // ordered-scan ops, not a partitionBy(event_type) window: 5 keys
        // = 5 tasks sorting 10M rows each at the 100x probe (19.9x
        // ratio, 30.0 s); OrderedLag + OrderedRolling range-partition
        // (key, ts) into tiles so sort AND frame re-accumulation use all
        // cores, bit-equal to the window per OrderedRollingSpec
        import graft.ops.{OrderedLag, OrderedRolling}
        val lagged = OrderedLag.withLags(ev(s, dir), Seq(K),
            Seq(col("ts"), col("event_id")), "value", Seq("pred" -> 1))
          .where(col("pred").isNotNull)
          .withColumn("se",
            (col("value") - col("pred")) * (col("value") - col("pred")))
        OrderedRolling.withRollups(lagged, Seq(K),
            Seq(col("ts"), col("event_id")),
            Seq(OrderedRolling.Roll("__mse", "avg", 100, "se")))
          .select(col(K), col("event_id"),
            // sqrt before round: raw MSE magnitudes make 4-digit rounding
            // sensitive to the engines' differing sliding-sum orders
            (round(sqrt(col("__mse")), 4) + lit(0.0))
              .as("rolling_rmse_100"))
      },
      Some("""WITH p AS (
             |  SELECT event_type, event_id, ts, value,
             |    LAG(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS pred
             |  FROM events),
             |q AS (SELECT event_type, event_id, ts,
             |        (value - pred) * (value - pred) AS se
             |      FROM p WHERE pred IS NOT NULL)
             |SELECT event_type, event_id,
             |  ROUND(SQRT(AVG(se) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |    ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)), 4) + 0.0 AS rolling_rmse_100
             |FROM q""".stripMargin),
      doc = "SURVEY W16: rolling window-100 eval error of a lag-1 predictor " +
        "(16.ipynb cell 4 shape)"),

    // ---- W17: rolling volatility of residuals ----
    Query(
      "q_w17_residual_volatility",
      (s, dir) => {
        // same ordered-scan rationale as q_w16 above (was 15.6x at the
        // 100x probe as a 5-key window); lr2 is materialized so the
        // rolling avg re-accumulates the identical per-row input the
        // window saw
        import graft.ops.OrderedRolling
        val lagged = TimeSeriesQueries.logReturnFrame(s, dir)
          .where(col("lr").isNotNull)
          .withColumn("lr2", pow(col("lr"), 2))
        OrderedRolling.withRollups(lagged, Seq(K),
            Seq(col("ts"), col("event_id")),
            Seq(OrderedRolling.Roll("__v", "avg", 24, "lr2")))
          .select(col(K), col("event_id"),
            (round(sqrt(col("__v")), 6) + lit(0.0)).as("resid_vol_24"))
      },
      Some(s"""WITH ${TimeSeriesQueries.logReturnCte}
             |SELECT event_type, event_id,
             |  ROUND(SQRT(AVG(lr * lr) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)), 6) + 0.0 AS resid_vol_24
             |FROM r WHERE lr IS NOT NULL""".stripMargin),
      doc = "SURVEY W17: sqrt of rolling mean of squared returns " +
        "(metrics.py:46-51 convolution as a window mean)")
  )
}
