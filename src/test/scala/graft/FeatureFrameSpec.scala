package graft

import java.nio.file.{Files, Paths}
import graft.ts.{FeatureFrame, Indicators}
import graft.ts.TimeSeriesOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden test of the 26-feature parity frame on a CSV fixture shaped like
  * FIXTURES.md §3 (5-minute grid, reference header names), and bit-parity
  * of the keyed fold against the window-plus-join formulation it replaced.
  */
class FeatureFrameSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Deterministic 200-row 5-min OHLCV fixture starting Mon 2024-01-01. */
  private lazy val csvPath: String = {
    val dir = Files.createTempDirectory("ohlcv").toString
    val rows = (0 until 200).map { i =>
      val t = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
        .plusMinutes(5L * i)
      val base = 100.0 + 10.0 * math.sin(i * 0.15)
      val open = base
      val close = base + math.cos(i * 0.4)
      val high = math.max(open, close) + 0.5
      val low = math.min(open, close) - 0.5
      val vol = 10.0 + (i % 7)
      f"$t%s,$open%.6f,$high%.6f,$low%.6f,$close%.6f,$vol%.2f"
        .replace("T", " ")
    }
    Files.write(Paths.get(dir, "fix.csv"),
      ("timestamp,Open,High,Low,Close,Volume" +: rows).mkString("\n").getBytes)
    dir + "/fix.csv"
  }

  private lazy val frame = {
    val ohlcv = FeatureFrame.loadOhlcvCsv(spark, csvPath)
      .withColumn("k", lit("BNB"))
    FeatureFrame.enhance(ohlcv, "k", "ts", "id")
  }

  test("CSV loader normalizes headers and parses the grid (S6/P7)") {
    val df = FeatureFrame.loadOhlcvCsv(spark, csvPath)
    assert(df.columns.toSet ==
      Set("open", "high", "low", "close", "volume", "ts", "id"))
    assert(df.count() == 200)
    assert(df.agg(min("ts")).head().getTimestamp(0).toInstant.toString
      == "2024-01-01T00:00:00Z")
  }

  test("frame has the 26 contract columns in FIXTURES.md order") {
    assert(frame.columns.toSeq ==
      Seq("k", "ts", "id") ++ FeatureFrame.FeatureCols)
  }

  test("warmup cut leaves a null-free frame of n - 33 rows") {
    assert(frame.count() == 200 - FeatureFrame.WarmupRows)
    val nullCounts = frame.select(FeatureFrame.FeatureCols.map(c =>
      sum(col(c).isNull.cast("long")).as(c)): _*).head()
    FeatureFrame.FeatureCols.zipWithIndex.foreach { case (c, i) =>
      assert(nullCounts.getLong(i) == 0, s"column $c has nulls")
    }
  }

  test("scalar features match hand-computed values on a known row") {
    // row i=100: open/close/high/low from the generator formulas
    val i = 100
    val base = 100.0 + 10.0 * math.sin(i * 0.15)
    val close = base + math.cos(i * 0.4)
    val high = math.max(base, close) + 0.5
    val low = math.min(base, close) - 0.5
    val vol = 10.0 + (i % 7)
    val r = frame.where($"id" === (1704067200L + 300L * i)).head()
    assert(math.abs(r.getAs[Double]("price_spread") - (high - low) / close) < 1e-6)
    assert(math.abs(r.getAs[Double]("liquidity") - math.log1p(vol * close)) < 1e-6)
    // 2024-01-01 is a Monday; hour cycles every 12 rows of 5 min
    val hour = (i * 5 / 60) % 24
    assert(math.abs(r.getAs[Double]("hour_sin")
      - math.sin(2 * math.Pi * hour / 24)) < 1e-9)
  }

  test("indicator block joins in: rsi within (0,100), obv cumulative") {
    val rsiVals = frame.select("rsi").as[Double].collect()
    assert(rsiVals.forall(v => v > 0.0 && v < 100.0))
    // obv at the last row equals the full signed-volume sum
    val ordered = frame.orderBy("id")
      .select("close", "obv").as[(Double, Double)].collect()
    assert(ordered.length == 167)
  }

  test("calendar flags: Monday grid rows are non-weekend") {
    // 2024-01-01..2024-01-01T16:35 fits in Monday
    assert(frame.where($"is_weekend" === 1).count() == 0)
    val open = frame.where($"is_market_open" === 1)
      .agg(min("ts"), max("ts")).head()
    assert(open.getTimestamp(0).toInstant.toString == "2024-01-01T08:00:00Z")
  }

  /** The window-plus-join formulation of the frame: a window chain over
    * (key; ts, id) for the rolling columns, the indicator pass joined back
    * on (key, id), the warm-up cut on row_number. The parity oracle.
    */
  private def windowFrame(df: DataFrame, key: String, ts: String, id: String,
      dropWarmup: Boolean): DataFrame = {
    val w = keyedOrder(key, ts, id)
    val ind = Indicators.compute(df, key, ts, id,
        "high", "low", "close", "volume")
      .select(col("key").as("__ik"), col("id").as("__ii"),
        col("rsi"), col("macd_diff").as("macd"), col("atr"), col("obv"))
    val base = df
      .withColumn("price_ma_ratio", maRatio(col("close"), w, 24))
      .withColumn("price_spread", safeDiv(col("high") - col("low"), col("close")))
      .withColumn("volume_zscore", rollingZscore(col("volume"), w, 24))
      .withColumn("volume_ma_ratio", maRatio(col("volume"), w, 24))
      .withColumn("liquidity", log1p(col("volume") * col("close")))
      .withColumn("log_returns", logReturns(col("close"), w))
      .withColumn("volatility_6", rollingStd(col("log_returns"), w, 6))
      .withColumn("volatility_12", rollingStd(col("log_returns"), w, 12))
      .withColumn("volatility_24", rollingStd(col("log_returns"), w, 24))
      .withColumn("momentum_3_6", momentum(col("close"), w, 3, 6))
      .withColumn("momentum_6_12", momentum(col("close"), w, 6, 12))
      .withColumn("hour_sin", hourSin(col(ts)))
      .withColumn("hour_cos", hourCos(col(ts)))
      .withColumn("dow_sin", dowSin(col(ts)))
      .withColumn("dow_cos", dowCos(col(ts)))
      .withColumn("is_weekend", isWeekend(col(ts)))
      .withColumn("is_market_open", isMarketOpen(col(ts)))
      .withColumn("__rn", row_number().over(w))
    val joined = base.join(ind,
        base(key).cast("string") === col("__ik") &&
          base(id).cast("long") === col("__ii"))
      .drop("__ik", "__ii")
    val cut = if (dropWarmup) joined.where(col("__rn") > FeatureFrame.WarmupRows)
      else joined
    cut.select((Seq(key, ts, id) ++ FeatureFrame.FeatureCols).map(col): _*)
  }

  /** Three keys on a 5-minute grid: BTC 120 rows, ETH 90, SOL 25 (under
    * the 34-row warm-up). Null high/low/close/volume cells (rotating),
    * zero, negative and NaN closes (the log-return guard), a constant- and
    * a zero-volume stretch (safeDiv's null), and a null-key row.
    */
  private lazy val hostile: DataFrame = {
    val rnd = new scala.util.Random(11)
    val t0 = 1704067200L
    val rows = for {
      (k, n) <- Seq("BTC" -> 120, "ETH" -> 90, "SOL" -> 25)
      i <- 0 until n
    } yield {
      val base = 100.0 + 10.0 * math.sin(i * 0.15 + k.length)
      val close: Option[Double] = (k, i % 17) match {
        case (_, 5) => Some(0.0)
        case (_, 11) => Some(-base)
        case ("BTC", 14) if i == 48 => Some(Double.NaN)
        case _ => Some(base + rnd.nextGaussian())
      }
      val open = base + rnd.nextGaussian()
      val vol: Option[Double] =
        if (k == "ETH" && i >= 40 && i < 75) Some(5.0)
        else if (k == "SOL" && i < 10) Some(0.0)
        else Some(10.0 + rnd.nextInt(7))
      val hlcv: Seq[Option[Double]] = Seq(
        Some(math.max(open, 110.0) + 0.5), Some(math.min(open, 90.0) - 0.5),
        close, vol)
      // one null cell every 13 rows, rotating through high/low/close/volume
      val cells = if (i % 13 == 7) hlcv.updated((i / 13) % 4, None) else hlcv
      val ts = new java.sql.Timestamp((t0 + 300L * i) * 1000L)
      (k, ts, t0 + 300L * i, open, cells(0), cells(1), cells(2), cells(3))
    }
    val nullKey = (null: String, new java.sql.Timestamp(t0 * 1000L), t0,
      1.0, Option(2.0), Option(0.5), Option(1.5), Option(3.0))
    (rows :+ nullKey).toDF("k", "ts", "id", "open", "high", "low", "close",
      "volume")
  }

  /** Rows of `f` ordered by (k, id), doubles as their bit patterns (NaN
    * canonical), so 0.0 and -0.0 differ and NaN equals NaN.
    */
  private def bits(f: DataFrame): Seq[Seq[Any]] =
    f.orderBy("k", "id").collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    })

  private def assertParity(df: DataFrame, dropWarmup: Boolean): Unit = {
    val got = FeatureFrame.enhance(df, "k", "ts", "id", dropWarmup)
    val want = windowFrame(df, "k", "ts", "id", dropWarmup)
    assert(got.schema == want.schema)
    val (g, w) = (bits(got), bits(want))
    assert(g.size == w.size)
    g.zip(w).foreach { case (a, b) => assert(a == b, s"\n got $a\nwant $b") }
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("keyed fold is bit-equal to the window-plus-join frame (warm-up cut)") {
    assertParity(hostile, dropWarmup = true)
    // the short key and the null-key row leave nothing after the cut; null
    // cells drop their own row only
    val got = FeatureFrame.enhance(hostile, "k", "ts", "id")
    assert(got.where(col("k") === "SOL" || col("k").isNull).count() == 0)
    assert(got.where(col("k") === "BTC").count() ==
      120 - FeatureFrame.WarmupRows - (FeatureFrame.WarmupRows until 120)
        .count(_ % 13 == 7))
  }

  test("keyed fold is bit-equal to the window-plus-join frame (no cut)") {
    assertParity(hostile, dropWarmup = false)
    val got = FeatureFrame.enhance(hostile, "k", "ts", "id", dropWarmup = false)
    assert(got.where(col("k") === "SOL").count() ==
      25 - (0 until 25).count(_ % 13 == 7))
    // the guards engaged: a non-positive close has no log return, a
    // constant-volume window no z-score
    assert(got.where(col("close") <= 0.0 && col("log_returns").isNotNull)
      .count() == 0)
    assert(got.where(col("k") === "ETH" && col("id") === 1704067200L + 300L * 74)
      .select("volume_zscore").head().isNullAt(0))
  }

  test("keyed fold matches the window frame on an integral volume column") {
    assertParity(hostile.withColumn("volume", col("volume").cast("long")),
      dropWarmup = true)
  }
}
