package graft.streaming

import graft.ts.Indicators
import graft.ts.Indicators.{In, IndicatorRow, IndicatorState, Params}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental technical indicators over a live stream — the stateful
  * counterpart of [[graft.ts.Indicators.compute]] (SURVEY §2.7 T4 /
  * §2.8 custom-state note): `flatMapGroupsWithState` keeps ONE
  * [[IndicatorState]] per key (O(1), a handful of doubles) and folds each
  * micro-batch through the SAME pure step function the batch pass uses,
  * so replaying a topic through the stream and running the batch operator
  * over the same rows produce bit-identical output.
  *
  * Within a micro-batch the group iterator is unordered; rows are sorted
  * by (ts, id) before folding. Cross-batch order is the source's
  * per-key delivery order (Kafka: per-partition), the same contract the
  * reference relies on. Late rows older than the carried state are a
  * documented no-reorder: indicators are causal streams, not windows —
  * upstream LWW dedup (K3) owns re-emission before this stage.
  *
  * Scale posture: state size = #keys × ~100 bytes; the shuffle is the
  * groupByKey hash exchange every stateful op pays; no per-key history is
  * retained.
  */
object StatefulIndicators {

  /** Attach to a stream of ticks (schema of [[Indicators.In]]). */
  def attach(ticks: Dataset[In], p: Params = Params()): Dataset[IndicatorRow] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.key)
      .flatMapGroupsWithState[IndicatorState, IndicatorRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[In], state: GroupState[IndicatorState]) =>
          var st = state.getOption.getOrElse(IndicatorState())
          val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.id)).map { r =>
            val (next, o) = IndicatorState.step(st, r.high, r.low, r.close,
              r.volume, p)
            st = next
            IndicatorRow(key, r.ts, r.id, r.close, o.rsi, o.macd,
              o.macd_signal, o.macd_diff, o.atr, o.ema_fast, o.ema_slow, o.obv)
          }
          state.update(st)
          out.iterator
      }
  }

}
