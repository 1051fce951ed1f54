package graft.queries

import graft.{Query, QueryPack, Tables}
import graft.ts.Indicators
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recursive-EMA indicator queries (SURVEY §2.5 W7-W9). The per-key final
  * values ARE DuckDB-expressible — the oracle replays the exact recursion as
  * an explicit `list_reduce` fold over the time-ordered value list, with
  * identical IEEE operation order (seed = first element, `a·(1-α) + x·α`),
  * so results agree to the last ulp before the shared ROUND(…,4).
  * The full per-row series is declared rows-only (no closed-form SQL) and is
  * covered by unit tests instead.
  */
object IndicatorQueries extends QueryPack {

  /** One repartition+sort+recursion pass serves all three final-value
    * queries: the tiny (one row per key) result is cached on first use, so
    * q_w7/q_w8/q_w9 share a single scan of the fact table instead of
    * tri-plicating the shuffle — at 100 TB that's the difference between
    * one full pass and three.
    */
  private final case class Finals(dir: String)
      extends graft.CacheScope.Key[org.apache.spark.sql.DataFrame]

  private def finals(s: SparkSession, dir: String) =
    graft.CacheScope.memo(s, Finals(dir))(
      graft.CacheScope.retain(
        Indicators.finals(Tables(s, dir, "events"), "event_type", "ts",
          "event_id", "value")))

  override def queries: Seq[Query] = Seq(

    Query(
      "q_w7_rsi_final",
      (s, dir) =>
        finals(s, dir)
          .select(col("key").as("event_type"), round(col("rsi"), 4).as("rsi"))
          .orderBy("event_type"),
      Some("""WITH s AS (SELECT event_type, list(value ORDER BY ts, event_id) AS vs FROM events GROUP BY 1),
             |d AS (SELECT event_type, list_transform(generate_series(2, len(vs)), i -> vs[i] - vs[i-1]) AS diffs FROM s)
             |SELECT event_type,
             |  ROUND(100 - 100 / (1 + list_reduce(list_transform(diffs, x -> greatest(x, 0.0)), (a, x) -> a * (1 - 1.0/14) + x * (1.0/14))
             |                       / list_reduce(list_transform(diffs, x -> greatest(-x, 0.0)), (a, x) -> a * (1 - 1.0/14) + x * (1.0/14))), 4) AS rsi
             |FROM d ORDER BY event_type""".stripMargin),
      doc = "SURVEY W7: Wilder RSI(14) — recursion in one sorted pass per key; oracle replays the fold via list_reduce"),

    Query(
      "q_w8_macd_final",
      (s, dir) =>
        finals(s, dir)
          .select(col("key").as("event_type"),
            round(col("ema_fast"), 4).as("ema12"),
            round(col("ema_slow"), 4).as("ema26"),
            (round(col("ema_fast") - col("ema_slow"), 4) + lit(0.0)).as("macd"))
          .orderBy("event_type"),
      Some("""WITH s AS (SELECT event_type, list(value ORDER BY ts, event_id) AS vs FROM events GROUP BY 1)
             |SELECT event_type,
             |  ROUND(list_reduce(vs, (a, x) -> a * (1 - 2.0/13) + x * (2.0/13)), 4) AS ema12,
             |  ROUND(list_reduce(vs, (a, x) -> a * (1 - 2.0/27) + x * (2.0/27)), 4) AS ema26,
             |  ROUND(list_reduce(vs, (a, x) -> a * (1 - 2.0/13) + x * (2.0/13))
             |      - list_reduce(vs, (a, x) -> a * (1 - 2.0/27) + x * (2.0/27)), 4) + 0.0 AS macd
             |FROM s ORDER BY event_type""".stripMargin),
      doc = "SURVEY W8: MACD fast/slow EMAs (span α=2/(n+1), adjust=False seeding)"),

    Query(
      "q_w9_atr_final",
      (s, dir) =>
        finals(s, dir)
          .select(col("key").as("event_type"), round(col("atr"), 4).as("atr"))
          .orderBy("event_type"),
      Some("""WITH s AS (SELECT event_type, list(value ORDER BY ts, event_id) AS vs FROM events GROUP BY 1),
             |tr AS (SELECT event_type, list_transform(generate_series(2, len(vs)), i -> abs(vs[i] - vs[i-1])) AS trs FROM s)
             |SELECT event_type,
             |  ROUND(list_reduce(list_prepend(list_avg(trs[1:14]), trs[15:]), (a, x) -> (a * 13.0 + x) / 14.0), 4) AS atr
             |FROM tr ORDER BY event_type""".stripMargin),
      doc = "SURVEY W9: ATR(14) — SMA-seeded Wilder recursion (TR = |Δ| in the degenerate h=l=c proxy)"),

    // Full per-row indicator series: the recursion output at EVERY row.
    // The oracle replays each recursion as a scan-left (prefix fold) —
    // list_reduce with a growing-list accumulator, seeded via
    // list_prepend — then unnests row positions and aligns each series
    // to its warm-up offset. Same IEEE operation order as the Scala fold,
    // so values agree to the last ulp before the shared ROUND.
    Query(
      "q_w7w9_indicator_series",
      (s, dir) =>
        Indicators.compute(Tables(s, dir, "events"), "event_type", "ts",
          "event_id", "value", "value", "value", "value")
          .select(col("key").as("event_type"), col("id").as("event_id"),
            (round(col("rsi"), 4) + lit(0.0)).as("rsi"),
            (round(col("macd_diff"), 4) + lit(0.0)).as("macd_diff"),
            (round(col("atr"), 4) + lit(0.0)).as("atr"),
            (round(col("obv"), 2) + lit(0.0)).as("obv")),
      Some(s"""WITH s AS (
              |  SELECT event_type,
              |    list(value ORDER BY ts, event_id) AS vs,
              |    list(event_id ORDER BY ts, event_id) AS ids
              |  FROM events GROUP BY 1),
              |b AS (SELECT event_type, vs, ids, len(vs) AS n,
              |        list_transform(generate_series(2, len(vs)), i -> vs[i] - vs[i-1]) AS diffs
              |      FROM s),
              |sc AS (SELECT event_type, vs, ids, n, diffs,
              |  ${scanl("list_transform(diffs, x -> greatest(x, 0.0))",
                 "_A_ * (1 - 1.0/14) + _X_ * (1.0/14)")} AS ups,
              |  ${scanl("list_transform(diffs, x -> greatest(-x, 0.0))",
                 "_A_ * (1 - 1.0/14) + _X_ * (1.0/14)")} AS dns,
              |  ${scanl("vs", "_A_ * (1 - 2.0/13) + _X_ * (2.0/13)")} AS fasts,
              |  ${scanl("vs", "_A_ * (1 - 2.0/27) + _X_ * (2.0/27)")} AS slows,
              |  list_transform(diffs, x -> abs(x)) AS trs
              |  FROM b),
              |sc2 AS (SELECT *,
              |  list_transform(generate_series(26, n), i -> fasts[i] - slows[i]) AS macds,
              |  ${scanlSeeded("list_avg(trs[1:14])", "trs[15:]",
                 "(_A_ * 13.0 + _X_) / 14.0")} AS atrs,
              |  ${scanlSeeded("vs[1]",
                 "list_transform(generate_series(2, n), i -> CASE WHEN vs[i] < vs[i-1] THEN -vs[i] ELSE vs[i] END)",
                 "_A_ + _X_")} AS obvs
              |  FROM sc),
              |sc3 AS (SELECT *,
              |  ${scanl("macds", "_A_ * (1 - 2.0/10) + _X_ * (2.0/10)")} AS sigs
              |  FROM sc2),
              |rows_i AS (SELECT event_type, ids, ups, dns, macds, sigs, atrs, obvs,
              |             unnest(generate_series(1, n)) AS i
              |           FROM sc3)
              |SELECT event_type, ids[i] AS event_id,
              |  CASE WHEN i >= 15 THEN ROUND(100 - 100 / (1 + ups[i-1] / dns[i-1]), 4) + 0.0 END AS rsi,
              |  CASE WHEN i >= 34 THEN ROUND(macds[i - 25] - sigs[i - 25], 4) + 0.0 END AS macd_diff,
              |  CASE WHEN i >= 15 THEN ROUND(atrs[i - 14], 4) + 0.0 END AS atr,
              |  ROUND(obvs[i], 2) + 0.0 AS obv
              |FROM rows_i""".stripMargin),
      doc = "SURVEY W7-W10: per-row indicator frame — one shuffle + one " +
        "sorted streaming pass for all four; oracle replays every " +
        "recursion as a scan-left prefix fold with warm-up-aligned indexing")
  )

  /** DuckDB scan-left over a list expression: seed = first element, each
    * step appended — the prefix-fold twin of the `list_reduce`
    * final-value replay. The accumulator is a growing DOUBLE[] list;
    * in `step`, `_A_` is its last element and `_X_` the incoming value.
    */
  private def scanl(listExpr: String, step: String): String = {
    val s = step.replace("_A_", "acc[-1]").replace("_X_", "h[1]")
    s"""list_reduce(
       |    list_prepend([($listExpr)[1]], list_transform(($listExpr)[2:], e -> [e])),
       |    (acc, h) -> list_append(acc, $s))""".stripMargin
  }

  /** Scan-left with an explicit seed over a tail list (`_A_`/`_X_` as in
    * [[scanl]]).
    */
  private def scanlSeeded(seedExpr: String, tailExpr: String,
      step: String): String = {
    val s = step.replace("_A_", "acc[-1]").replace("_X_", "h[1]")
    s"""list_reduce(
       |    list_prepend([CAST(($seedExpr) AS DOUBLE)], list_transform(($tailExpr), e -> [e])),
       |    (acc, h) -> list_append(acc, $s))""".stripMargin
  }
}
