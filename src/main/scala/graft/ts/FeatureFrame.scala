package graft.ts

import graft.ops.RollingKernel
import graft.ts.TimeSeriesOps._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The 26-feature crypto frame — the reference's parity contract
  * (data_loader.py:77-126; FIXTURES.md §4 fixes the exact column order):
  * price block, volume block, indicator block, calendar block.
  *
  * One keyed, sorted pass: hash-repartition on the series key, sort each
  * partition by (key, ts, id), then one fold per key
  * ([[Indicators.foldByKey]]) that carries the trailing 24 rows of
  * (close, volume, log return), the indicator recursion
  * ([[Indicators.Stepper]]) and a row counter. The fold emits the rolling
  * columns, the four indicator columns and the warm-up cut; the row-local
  * columns (price spread, liquidity, the six calendar columns) are
  * ordinary Column expressions over its output. The plan has one shuffle,
  * no window operator and no join.
  *
  * The rolling columns are the window functions of [[TimeSeriesOps]]
  * (`maRatio`, `rollingZscore`, `logReturns`, `rollingStd`, `momentum`
  * over `keyedOrder`), computed by [[RollingKernel]] with Spark's own
  * aggregate arithmetic, so each value is bit-equal to the window
  * formulation (FeatureFrameSpec keeps it as the oracle). OHLCV columns
  * may be any numeric type but decimal; the math runs in double, as the
  * window aggregates' casts do. `(key, id)` must be unique.
  *
  * A row with a null high, low, close or volume has no indicator value:
  * it is dropped from the output, but it still occupies its slot in the
  * rolling frames and counts toward the warm-up. Rows with a null key or
  * id are dropped too.
  *
  * `dropWarmup` mirrors the reference's trailing `dropna()`
  * (data_loader.py:126): on a gapless grid every column is non-null from
  * row 34 per key (MACD 12/26/9 signal warm-up dominates), so the cut is
  * positional and engine-independent.
  */
object FeatureFrame {

  /** FIXTURES.md §4 order. */
  val FeatureCols: Seq[String] = Seq(
    "open", "high", "low", "close", "price_ma_ratio", "price_spread",
    "volume", "volume_zscore", "volume_ma_ratio", "liquidity",
    "rsi", "macd", "atr", "obv", "log_returns",
    "volatility_6", "volatility_12", "volatility_24",
    "momentum_3_6", "momentum_6_12",
    "hour_sin", "hour_cos", "dow_sin", "dow_cos",
    "is_weekend", "is_market_open")

  /** MACD(12,26,9) needs 26+9-1 rows before macd_diff is defined. */
  val WarmupRows = 33

  /** Rows the widest rolling frame spans. */
  private val Frame = 24

  /** Columns the fold appends to its (key, ts, id, OHLCV) input. */
  private val Folded = Seq("price_ma_ratio", "volume_zscore",
    "volume_ma_ratio", "log_returns", "volatility_6", "volatility_12",
    "volatility_24", "momentum_3_6", "momentum_6_12", "rsi", "macd", "atr")

  /** Input: (key, ts, id, open, high, low, close, volume). Output: input
    * keys + the 26 features, first `WarmupRows` rows per key dropped.
    */
  def enhance(df: DataFrame, key: String, ts: String, id: String,
      dropWarmup: Boolean = true): DataFrame = {
    val in = df.select(
      Seq(key, ts, id, "open", "high", "low", "close", "volume").map(col): _*)
    val schema = StructType(in.schema.fields ++
      Folded.map(StructField(_, DoubleType)) :+
      StructField("obv", DoubleType, nullable = false))
    val p = Indicators.Params()
    val folded = in
      .repartition(col(key))
      .sortWithinPartitions(col(key), col(ts), col(id))
      .mapPartitions { rows =>
        Indicators.foldByKey(rows, (r: Row) => r.get(0), () => new Carry(p))(
          (c, r) => c.next(r, dropWarmup)).flatten
      }(Encoders.row(schema))
    val rowLocal = Map(
      "price_spread" -> safeDiv(col("high") - col("low"), col("close")),
      "liquidity" -> log1p(col("volume") * col("close")),
      "hour_sin" -> hourSin(col(ts)),
      "hour_cos" -> hourCos(col(ts)),
      "dow_sin" -> dowSin(col(ts)),
      "dow_cos" -> dowCos(col(ts)),
      "is_weekend" -> isWeekend(col(ts)),
      "is_market_open" -> isMarketOpen(col(ts)))
    folded.select(Seq(key, ts, id).map(col) ++ FeatureCols.map(c =>
      rowLocal.get(c).map(_.as(c)).getOrElse(col(c))): _*)
  }

  /** The newest `Frame` values of one series; a slot is a boxed Double or
    * null.
    */
  private final class Trail {
    private val buf = new Array[Any](Frame)
    private var n = 0L

    def push(v: Any): Unit = { buf((n % Frame).toInt) = v; n += 1 }

    /** The newest value; null before the first. */
    def newest: Any = if (n == 0) null else buf(((n - 1) % Frame).toInt)

    /** `agg` over the trailing `k` rows ending at the newest, oldest first
      * (fewer at the start of a key: `ROWS BETWEEN k-1 PRECEDING`).
      */
    def roll(k: Int)(agg: (Int, Int => Any) => Any): Any = {
      val len = math.min(k.toLong, n).toInt
      val from = n - len
      agg(len, j => buf(((from + j) % Frame).toInt))
    }
  }

  /** One key's state in the fold. */
  private final class Carry(p: Indicators.Params) {
    private val close, volume, logRet = new Trail
    private val indicators = new Indicators.Stepper(p)
    private var rows = 0L

    /** Advances by one (key, ts, id, open, high, low, close, volume) row;
      * returns its output row, or None for a row the frame drops.
      */
    def next(r: Row, dropWarmup: Boolean): Option[Row] = {
      val h = num(r.get(4)); val l = num(r.get(5))
      val c = num(r.get(6)); val v = num(r.get(7))
      val lr = logReturn(c, close.newest)
      close.push(c); volume.push(v); logRet.push(lr)
      rows += 1
      if (h == null || l == null || c == null || v == null) None
      else {
        val o = indicators(h, l, c, v)
        if ((dropWarmup && rows <= WarmupRows) || r.isNullAt(0) ||
            r.isNullAt(2)) None
        else {
          val closeAvg24 = close.roll(24)(RollingKernel.avg)
          val volAvg24 = volume.roll(24)(RollingKernel.avg)
          val closeAvg6 = close.roll(6)(RollingKernel.avg)
          Some(Row.fromSeq(r.toSeq ++ Seq(
            div(c, closeAvg24),
            div(minus(v, volAvg24), volume.roll(24)(RollingKernel.stddevSamp)),
            div(v, volAvg24),
            lr,
            logRet.roll(6)(RollingKernel.stddevSamp),
            logRet.roll(12)(RollingKernel.stddevSamp),
            logRet.roll(24)(RollingKernel.stddevSamp),
            minus(close.roll(3)(RollingKernel.avg), closeAvg6),
            minus(closeAvg6, close.roll(12)(RollingKernel.avg)),
            o.rsi.getOrElse(null), o.macd_diff.getOrElse(null),
            o.atr.getOrElse(null), o.obv)))
        }
      }
    }
  }

  /** A numeric cell as the window aggregates' double cast sees it. */
  private def num(v: Any): java.lang.Double = v match {
    case null => null
    case d: java.lang.Double => d
    case n: Number => n.doubleValue
  }

  /** [[TimeSeriesOps.logReturns]]: Spark's `>` on doubles ranks NaN above
    * every number, and its `log` is `StrictMath.log`, null at or below 0.
    */
  private def logReturn(price: Any, prev: Any): Any = (price, prev) match {
    case (x: Double, y: Double) if above0(x) && above0(y) =>
      val q = x / y
      if (q <= 0.0) null else StrictMath.log(q)
    case _ => null
  }

  private def above0(x: Double): Boolean = x > 0.0 || x.isNaN

  /** [[TimeSeriesOps.safeDiv]]: null on a null side or a zero denominator. */
  private def div(num: Any, den: Any): Any = (num, den) match {
    case (x: Double, y: Double) => if (y == 0.0) null else x / y
    case _ => null
  }

  private def minus(a: Any, b: Any): Any = (a, b) match {
    case (x: Double, y: Double) => x - y
    case _ => null
  }

  /** S6+P7: OHLCV CSV scan with the reference's header normalization
    * (data_loader.py:46-63) — declared schema (no inference pass),
    * rename map, timestamp parse, time order.
    */
  def loadOhlcvCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema("timestamp STRING, Open DOUBLE, High DOUBLE, Low DOUBLE, " +
        "Close DOUBLE, Volume DOUBLE")
      .csv(path)
      .withColumnsRenamed(Map(
        "Open" -> "open", "High" -> "high", "Low" -> "low",
        "Close" -> "close", "Volume" -> "volume"))
      .withColumn("ts", to_timestamp(col("timestamp")))
      .drop("timestamp")
      .withColumn("id", unix_timestamp(col("ts")))
}
