package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Wilder/exponential technical indicators (SURVEY §2.5 W7-W9, §7.3):
  * RSI(14), MACD(12,26,9), ATR(14), plus ta-style OBV.
  *
  * EMA is an order-dependent recursion `e_t = (1-α)·e_{t-1} + α·x_t` — not
  * an associative aggregate — so it cannot be a plain window function.
  * The recursion lives in ONE pure step function ([[IndicatorState.step]])
  * shared by two execution shapes:
  *  - batch: hash-repartition on the series key, sort each partition by
  *    (key, ts, id), one streaming `mapPartitions` fold ([[foldByKey]],
  *    which [[FeatureFrame.enhance]] shares) — O(1) state per key, a
  *    10^9-row key streams through one task without materializing;
  *  - streaming: `flatMapGroupsWithState` carrying the same state across
  *    micro-batches ([[graft.streaming.StatefulIndicators]]) — the batch
  *    and stream paths produce bit-identical output by construction.
  *
  * Scale posture: parallelism = #keys (a real corpus has keys ≫ cores;
  * the recursion is inherently sequential per key). Salting never applies
  * here — order must be preserved — only to commutative aggregations.
  *
  * Semantics (documented engine contract, mirrors pandas
  * `ewm(adjust=False)` as used by the `ta` library — reference
  * data_loader.py:101-104):
  *  - RSI: diffs from the 2nd row; gain/loss EMAs seeded with the first
  *    diff; output null until `rsiN` diffs seen.
  *  - MACD: fast/slow EMAs seeded with the first close; `macd` null until
  *    `slow` rows; signal EMA seeded with the first valid macd;
  *    `macd_diff` null until `slow + sig - 1` rows.
  *  - ATR: true range `max(h-l, |h-prev_c|, |l-prev_c|)` from the 2nd row;
  *    seeded with the mean of the first `atrN` TRs, Wilder recursion
  *    `(atr·(n-1) + tr)/n` after.
  *  - OBV: cumulative ±volume with ta's tie rule (`close < prev ? -v : +v`).
  */
object Indicators {

  final case class Params(rsiN: Int = 14, fast: Int = 12, slow: Int = 26,
      sig: Int = 9, atrN: Int = 14)

  /** Immutable recursion state — one value per key, carried across rows
    * (batch fold) or micro-batches (GroupState).
    */
  final case class IndicatorState(
      i: Long = 0L, prevClose: Double = 0.0,
      emaUp: Double = 0.0, emaDn: Double = 0.0, nDiff: Int = 0,
      emaFast: Double = 0.0, emaSlow: Double = 0.0,
      emaSig: Double = 0.0, nSig: Int = 0,
      atr: Double = 0.0, trSum: Double = 0.0, nTr: Int = 0,
      obv: Double = 0.0)

  final case class Out(
      rsi: Option[Double], macd: Option[Double], macd_signal: Option[Double],
      macd_diff: Option[Double], atr: Option[Double],
      ema_fast: Double, ema_slow: Double, obv: Double)

  object IndicatorState {
    /** One recursion step: previous state + row → (next state, outputs). */
    def step(st: IndicatorState, high: Double, low: Double, close: Double,
        volume: Double, p: Params): (IndicatorState, Out) = {
      val aRsi = 1.0 / p.rsiN
      val aFast = 2.0 / (p.fast + 1)
      val aSlow = 2.0 / (p.slow + 1)
      val aSig = 2.0 / (p.sig + 1)

      var s = st
      if (st.i == 0L) {
        s = s.copy(emaFast = close, emaSlow = close,
          obv = st.obv + volume) // ta: close < NaN is false → +volume
      } else {
        val d = close - st.prevClose
        val up = math.max(d, 0.0); val dn = math.max(-d, 0.0)
        val nDiff = st.nDiff + 1
        val (emaUp, emaDn) =
          if (nDiff == 1) (up, dn)
          else (st.emaUp * (1 - aRsi) + up * aRsi,
            st.emaDn * (1 - aRsi) + dn * aRsi)
        val tr = math.max(high - low,
          math.max(math.abs(high - st.prevClose), math.abs(low - st.prevClose)))
        val nTr = st.nTr + 1
        val (atr, trSum) =
          if (nTr < p.atrN) (st.atr, st.trSum + tr)
          else if (nTr == p.atrN) ((st.trSum + tr) / p.atrN, st.trSum + tr)
          else ((st.atr * (p.atrN - 1) + tr) / p.atrN, st.trSum)
        s = s.copy(
          emaUp = emaUp, emaDn = emaDn, nDiff = nDiff,
          emaFast = st.emaFast * (1 - aFast) + close * aFast,
          emaSlow = st.emaSlow * (1 - aSlow) + close * aSlow,
          atr = atr, trSum = trSum, nTr = nTr,
          obv = st.obv + (if (close < st.prevClose) -volume else volume))
      }
      val macd = s.emaFast - s.emaSlow
      if (s.i >= p.slow - 1) {
        val nSig = s.nSig + 1
        s = s.copy(nSig = nSig,
          emaSig = if (nSig == 1) macd
            else s.emaSig * (1 - aSig) + macd * aSig)
      }
      val rsiOut =
        if (s.nDiff >= p.rsiN) Some(100.0 - 100.0 / (1.0 + s.emaUp / s.emaDn))
        else None
      val macdOut = if (s.i >= p.slow - 1) Some(macd) else None
      val sigOut = if (s.nSig >= p.sig) Some(s.emaSig) else None
      val diffOut = for (m <- macdOut; g <- sigOut) yield m - g
      val atrOut = if (s.nTr >= p.atrN) Some(s.atr) else None
      val next = s.copy(prevClose = close, i = s.i + 1)
      (next, Out(rsiOut, macdOut, sigOut, diffOut, atrOut,
        s.emaFast, s.emaSlow, s.obv))
    }
  }

  /** [[IndicatorState.step]] with the state carried in place: one key's
    * recursion inside a sorted batch fold.
    */
  final class Stepper(p: Params) {
    private var st = IndicatorState()
    def apply(high: Double, low: Double, close: Double, volume: Double): Out = {
      val (next, o) = IndicatorState.step(st, high, low, close, volume, p)
      st = next
      o
    }
  }

  /** Maps one partition sorted by (key, ts, id) through per-key state:
    * `fresh` starts a key's state at its first row, `step` advances it by
    * one row. The batch folds of [[compute]] and
    * [[FeatureFrame.enhance]] share this reset loop.
    */
  def foldByKey[R, S, O](rows: Iterator[R], keyOf: R => Any,
      fresh: () => S)(step: (S, R) => O): Iterator[O] = {
    var first = true
    var curKey: Any = null
    var st: S = null.asInstanceOf[S]
    rows.map { r =>
      val k = keyOf(r)
      if (first || k != curKey) { first = false; curKey = k; st = fresh() }
      step(st, r)
    }
  }

  /** Input contract for the sorted pass (public: Spark codegen must be able
    * to reach the encoder's accessors).
    */
  final case class In(key: String, ts: java.sql.Timestamp, id: Long,
      high: Double, low: Double, close: Double, volume: Double)

  final case class IndicatorRow(key: String, ts: java.sql.Timestamp, id: Long, close: Double,
      rsi: Option[Double], macd: Option[Double], macd_signal: Option[Double],
      macd_diff: Option[Double], atr: Option[Double],
      ema_fast: Double, ema_slow: Double, obv: Double)

  /** Computes all indicator columns in one pass. Output: one row per input
    * row with (key, ts, id, close, rsi, macd, macd_signal, macd_diff, atr,
    * ema_fast, ema_slow, obv).
    */
  def compute(df: DataFrame, key: String, ts: String, id: String,
      high: String, low: String, close: String, volume: String,
      rsiN: Int = 14, fast: Int = 12, slow: Int = 26, sig: Int = 9,
      atrN: Int = 14): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val p = Params(rsiN, fast, slow, sig, atrN)
    val typed = df.select(
      col(key).cast("string").as("key"), col(ts).cast("timestamp").as("ts"),
      col(id).cast("long").as("id"), col(high).cast("double").as("high"),
      col(low).cast("double").as("low"), col(close).cast("double").as("close"),
      col(volume).cast("double").as("volume"))
      // a null measurement is not a price: In's fields are non-nullable
      // by the fold's contract, and one bad tick must not abort the pass
      // with an encoder NOT_NULL violation (HostileInputProbe) — dropped
      // here, before the shuffle; a no-op on validated series
      .where(col("high").isNotNull && col("low").isNotNull &&
        col("close").isNotNull && col("volume").isNotNull)
      .as[In]
    typed
      .repartition(col("key"))
      .sortWithinPartitions(col("key"), col("ts"), col("id"))
      .mapPartitions { rows =>
        foldByKey(rows, (r: In) => r.key, () => new Stepper(p)) { (s, r) =>
          val o = s(r.high, r.low, r.close, r.volume)
          IndicatorRow(r.key, r.ts, r.id, r.close, o.rsi, o.macd,
            o.macd_signal, o.macd_diff, o.atr, o.ema_fast, o.ema_slow, o.obv)
        }
      }
      .toDF()
  }

  /** Final (most recent) indicator values per key — the shape the serving
    * path consumes (predict from the latest state) and the one the DuckDB
    * oracle can replay with an explicit list_reduce fold.
    */
  def finals(df: DataFrame, key: String, ts: String, id: String,
      close: String): DataFrame = {
    val ind = compute(df, key, ts, id, close, close, close, close)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ts").desc, col("id").desc)
    ind.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .drop("__rn")
  }
}
