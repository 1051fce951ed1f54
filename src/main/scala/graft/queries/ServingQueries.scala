package graft.queries

import graft.{Query, QueryPack, Tables}
import graft.serve.Serving
import graft.ts.TimeSeriesOps.resampleOhlcv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Serving-path surface (SURVEY W13/W15, U1/U2/U3/U5, J1/J2, P16): the
  * window→inference→fan-out→overlay/metrics spine of the reference's
  * prediction service, driven from `events` so DuckDB can replay it.
  */
object ServingQueries extends QueryPack {

  private val K = "event_type"
  private def ev(s: SparkSession, dir: String) = Tables(s, dir, "events")

  /** Fixed serving cutoff inside every SF's data range (Jan 2024). */
  private val Cutoff = "2024-01-24 00:00:00"

  /** Shared J1 pipeline: hourly candles → last pre-cutoff candle per key →
    * 36 hourly-horizon predictions (deterministic drift surrogate) →
    * inner join back to actual candles at target time. The (tiny) result
    * is cached per (session, dir) so q_j1 and q_j2 share one resample
    * pass instead of duplicating the fact-table scan.
    */
  private final case class Overlay(dir: String)
      extends graft.CacheScope.Key[DataFrame]

  private def overlay(s: SparkSession, dir: String): DataFrame =
    graft.CacheScope.memo(s, Overlay(dir))(
      graft.CacheScope.retain(buildOverlay(s, dir)))

  private def buildOverlay(s: SparkSession, dir: String): DataFrame = {
    val candles = resampleOhlcv(ev(s, dir), K, "ts", "event_id",
      "value", "value", 3600)
      .select(col(K), col("bucket_start"), col("close"))
    val wDesc = Window.partitionBy(col(K)).orderBy(col("bucket_start").desc)
    val base = candles
      .where(col("bucket_start") < lit(Cutoff).cast("timestamp"))
      .withColumn("__rn", row_number().over(wDesc))
      .where(col("__rn") === 1)
      .select(col(K), col("bucket_start").as("base_ts"),
        col("close").as("base_close"))
    val preds = base
      .select(col(K), col("base_ts"), col("base_close"),
        explode(sequence(lit(1), lit(36))).as("horizon"))
      .withColumn("target_ts",
        expr("timestampadd(SECOND, horizon * 3600, base_ts)"))
      .withColumn("pred",
        col("base_close") * (lit(1.0) + lit(0.002) * col("horizon")))
    val actuals = candles.select(col(K).as("__act_key"),
      col("bucket_start").as("__act_ts"), col("close").as("actual_close"))
    preds.join(actuals,
        col(K) === col("__act_key") && col("target_ts") === col("__act_ts"))
      .select(col(K), col("horizon"), col("target_ts"),
        col("pred"), col("actual_close"))
  }

  private val overlaySql =
    s"""c AS (SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
       |        last(value ORDER BY ts, event_id) AS close
       |      FROM events GROUP BY 1, 2),
       |b AS (SELECT event_type, bucket_start AS base_ts, close AS base_close,
       |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bucket_start DESC) AS rn
       |      FROM c WHERE bucket_start < TIMESTAMP '$Cutoff'),
       |p AS (SELECT event_type, base_ts, base_close, unnest(range(1, 37)) AS horizon
       |      FROM b WHERE rn = 1),
       |o AS (SELECT p.event_type, p.horizon,
       |        p.base_ts + p.horizon * INTERVAL 1 HOUR AS target_ts,
       |        p.base_close * (1 + 0.002 * p.horizon) AS pred, c.close AS actual_close
       |      FROM p JOIN c ON c.event_type = p.event_type
       |                   AND c.bucket_start = p.base_ts + p.horizon * INTERVAL 1 HOUR)""".stripMargin

  /** A U1 model-family query: the model's forward pass over the newest
    * window per key in the UDF slot, one rounded prediction per horizon,
    * checked against the model's generated oracle.
    */
  private def forwardQuery(name: String, m: graft.serve.ForwardModel,
      fixtureTag: String, doc: String): Query =
    Query(name,
      (s, dir) =>
        Serving.predictLatestWith(ev(s, dir), K, "ts", "event_id",
          "value", m.S, 300, fixtureTag, m.forward)
          .select(col(K), col("horizon"), col("target_ts"),
            (round(col("predicted_price"), 6) + lit(0.0)).as("prediction"))
          .orderBy(K, "horizon"),
      Some(m.oracleSql), doc = doc)

  override def queries: Seq[Query] = Seq(

    // ---- W13: sliding training windows ----
    Query(
      "q_w13_windows",
      (s, dir) =>
        Serving.slidingWindows(ev(s, dir), K, "ts", "event_id",
          "value", "value", 288, 36)
          .select(col(K), col("event_id"),
            size(col("x")).as("x_len"), size(col("y")).as("y_len"),
            element_at(col("x"), 1).as("x_first"),
            element_at(col("x"), 288).as("x_last"),
            element_at(col("y"), 1).as("y_first"),
            element_at(col("y"), 36).as("y_last")),
      Some("""WITH t AS (
             |  SELECT event_type, event_id, value,
             |    COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |      ROWS BETWEEN CURRENT ROW AND 287 FOLLOWING) AS x_len,
             |    COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
             |      ROWS BETWEEN 288 FOLLOWING AND 323 FOLLOWING) AS y_len,
             |    LEAD(value, 287) OVER w AS x_last,
             |    LEAD(value, 288) OVER w AS y_first,
             |    LEAD(value, 323) OVER w AS y_last
             |  FROM events
             |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
             |SELECT event_type, event_id, x_len, y_len,
             |  value AS x_first, x_last, y_first, y_last
             |FROM t WHERE x_len = 288 AND y_len = 36""".stripMargin),
      doc = "SURVEY W13: 288-in/36-out sliding windows via collect_list row " +
        "frames, complete windows only; oracle pins frame boundaries via lead/count"),

    // ---- U1+W15+U5+P16: latest window → surrogate forward → fan-out ----
    Query(
      "q_u1_window_inference",
      (s, dir) =>
        Serving.predictLatest(ev(s, dir), K, "ts", "event_id",
          "value", 288, 36, 300, "surrogate-v1")
          .select(col(K), col("horizon"), col("target_ts"),
            (round(col("predicted_price"), 6) + lit(0.0)).as("predicted_price"),
            (round(col("confidence_lower"), 6) + lit(0.0)).as("confidence_lower"),
            (round(col("confidence_upper"), 6) + lit(0.0)).as("confidence_upper"),
            col("metadata")),
      Some("""WITH s AS (SELECT event_type, MAX(ts) AS last_ts,
             |             list(value ORDER BY ts, event_id) AS vs
             |           FROM events GROUP BY 1),
             |tl AS (SELECT event_type, last_ts, vs[len(vs)-287:] AS tail
             |       FROM s WHERE len(vs) >= 288),
             |wm AS (SELECT event_type, last_ts,
             |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |           list_transform(range(1, 289), i -> tail[i] * i)),
             |           (a, x) -> a + x) / 41616.0 AS m
             |       FROM tl)
             |SELECT event_type, horizon,
             |  last_ts + horizon * INTERVAL 300 SECOND AS target_ts,
             |  ROUND(m * (1 + 0.001 * horizon), 6) + 0.0 AS predicted_price,
             |  ROUND(m * (1 + 0.001 * horizon) * 0.95, 6) + 0.0 AS confidence_lower,
             |  ROUND(m * (1 + 0.001 * horizon) * 1.05, 6) + 0.0 AS confidence_upper,
             |  '{"model":"surrogate-v1","horizon":' || horizon || '}' AS metadata
             |FROM wm, (SELECT unnest(range(1, 37)) AS horizon)""".stripMargin),
      doc = "SURVEY U1/W15/U5/P16: newest 288-row window per key, UDF forward " +
        "pass (ascending-index weighted mean — the ONNX/linear-algebra slot), " +
        "36-horizon fan-out with ±5% default confidence and JSON metadata; " +
        "oracle replays the fold bit-exactly"),

    // ---- U1: the REAL reimplemented model forward pass ----
    // The reference's actual model stack (lstm_model.py:16-44):
    // Linear→GELU→LayerNorm→LSTM→Linear over the newest window per
    // key, run as deterministic Scala linear algebra in the same UDF
    // slot as the surrogate. Fixture dims (F=2,H=4,S=8,P=3) keep the
    // oracle's fully-unrolled recurrence tractable; the SQL is
    // GENERATED from the same weight arrays the UDF reads, so both
    // engines replay identical constants and fold orders.
    forwardQuery("q_u1_real_forward", graft.serve.LstmForward,
      "lstm-fixture-v1",
      "SURVEY U1 (real model): Linear→GELU→LayerNorm→LSTM(1)→" +
        "Linear→LayerNorm→GELU→Linear forward pass (the reference's " +
        "lstm_model.py) as deterministic double-precision Scala in the " +
        "U1 UDF slot; tanh-GELU + k/1024 fixture weights; oracle is the " +
        "recurrence unrolled to generated SQL (the Lloyd-rounds " +
        "discipline), ROUND(·,6) absorbing libm-vs-JVM ulps"),

    // ---- U1: the CNN-LSTM model variant ----
    // Second model family from the reference (cnn_lstm_model.py):
    // temporal Conv1d(kernel 3, zero pad)+ReLU front end into the
    // same LSTM + head machinery — same fixture discipline, same
    // UDF slot, independent Lehmer weight stream.
    forwardQuery("q_u1_cnn_forward", graft.serve.CnnLstmForward,
      "cnn-lstm-fixture-v1",
      "SURVEY U1 (CNN-LSTM variant): Conv1d(k=3, zero-pad)+ReLU -> " +
        "LSTM -> Linear/LayerNorm/GELU/Linear head (the reference's " +
        "cnn_lstm_model.py) as deterministic Scala in the U1 UDF slot; " +
        "conv fold order pinned (channel->feature->tap, padded taps " +
        "skipped identically), oracle is the generated unrolled SQL"),

    // ---- U1: the LSTM-attention model variant ----
    // Third model family from the reference registry
    // (lstm_attention_model.py): input_proj + positional encoding ->
    // 2-layer LSTM -> 3 causal self-attention layers -> constant-
    // query cross-attention -> per-horizon head. The positional
    // encodings and cross-attention queries are input-independent
    // constants, computed once in Scala and emitted into the oracle
    // as shortest-roundtrip literals.
    forwardQuery("q_u1_attention_forward", graft.serve.AttentionLstmForward,
      "lstm-attention-fixture-v1",
      "SURVEY U1 (LSTM-attention variant): input_proj + sin/cos " +
        "positional encoding -> stacked LSTM(2) -> 3 causal multihead " +
        "self-attention layers (head_dim 1) -> cross-attention with " +
        "constant pos-encoded queries -> per-horizon head (the " +
        "reference's lstm_attention_model.py); max-subtraction softmax " +
        "replayed fold-for-fold in the generated unrolled oracle"),

    // ---- U1: the CNN-LSTM-attention model variant ----
    // Fourth model family from the reference registry
    // (cnn_lstm_attention_model.py): conv front end, MaxPool(2)
    // halving the sequence, LSTM over the pooled steps, ADDITIVE
    // attention pooling (score = w_s . tanh(W_a h_t + b_a), softmax
    // over steps) instead of last-step readout, shared head.
    forwardQuery("q_u1_cnn_attn_forward", graft.serve.CnnLstmAttentionForward,
      "cnn-lstm-attn-fixture-v1",
      "SURVEY U1 (CNN-LSTM-attention variant): Conv1d+ReLU -> " +
        "MaxPool1d(2) -> LSTM over pooled steps -> additive-attention " +
        "pooling (max-subtraction softmax) -> head (the reference's " +
        "cnn_lstm_attention_model.py); pairwise GREATEST pool and the " +
        "attention fold replayed exactly in the generated oracle"),

    // ---- U1: the `optimize` registry variant (r13 — the last runnable
    // architecture train.py:223-236 can dispatch) ----
    // Fifth model family (optimize_model.py): input_proj + PE ->
    // stacked LSTM(2) + norm -> multi-scale temporal attention
    // (scales 1/3/6: avg-pool, pointwise conv, full attention,
    // nearest upsample; concat -> Linear -> LN -> GELU) + conv skip
    // path -> softmax-weighted pooling -> residual norm -> one
    // Linear head for all horizons. lstm_hybridattention, the only
    // other registry name, is unrunnable as written (three shape
    // inconsistencies — see OptimizedLstmForward's closing note).
    forwardQuery("q_u1_optimize_forward", graft.serve.OptimizedLstmForward,
      "optimize-fixture-v1",
      "SURVEY U1 (`optimize` registry variant): the multi-scale " +
        "temporal-attention LSTM (optimize_model.py) as deterministic " +
        "Scala in the U1 UDF slot — avg-pool/pointwise-conv downsample, " +
        "per-scale full attention, nearest-neighbor upsample, conv skip " +
        "path, softmax-weighted pooling; every fold replayed in the " +
        "generated unrolled oracle; completes the runnable train.py " +
        "registry (5 of 6; the sixth cannot execute in the reference)"),

    // ---- U2: scaler transform + inverse round-trip ----
    Query(
      "q_u2_scale_roundtrip",
      (s, dir) => {
        val e = ev(s, dir)
        // params rounded to 6 BEFORE use so both engines feed identical
        // doubles into the transform (exact-percentile ulps differ)
        val params = e.groupBy(col(K)).agg(
          round(expr("percentile(value, 0.5)"), 6).as("center"),
          round(expr("percentile(value, 0.75) - percentile(value, 0.25)"), 6)
            .as("scale"))
        Serving.robustScale(e, params, K, "value")
          .withColumn("inv_err",
            Serving.robustInverse(col("value_scaled"), col("center"),
              col("scale")) - col("value"))
          .select(col(K), col("event_id"),
            (round(col("value_scaled"), 6) + lit(0.0)).as("value_scaled"),
            (round(col("inv_err"), 6) + lit(0.0)).as("inv_err"))
      },
      Some("""WITH p AS (SELECT event_type,
             |    ROUND(quantile_cont(value, 0.5), 6) AS center,
             |    ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6) AS scale
             |  FROM events GROUP BY 1)
             |SELECT e.event_type, e.event_id,
             |  ROUND(CASE WHEN p.scale <> 0 THEN (e.value - p.center) / p.scale
             |             ELSE 0.0 END, 6) + 0.0 AS value_scaled,
             |  ROUND(CASE WHEN p.scale <> 0
             |             THEN ((e.value - p.center) / p.scale) * p.scale + p.center
             |             ELSE p.center END - e.value, 6) + 0.0 AS inv_err
             |FROM events e JOIN p USING (event_type)""".stripMargin),
      doc = "SURVEY U2/U3/J3: robust-scale transform + inverse as column " +
        "arithmetic over a broadcast params table; zero-IQR guarded; inv_err " +
        "column proves inverse(transform(x)) == x to 1e-6"),

    // ---- U2 (min-max half): indicator-group scaling round-trip ----
    Query(
      "q_u2_minmax_roundtrip",
      (s, dir) => {
        val e = ev(s, dir)
        val params = e.groupBy(col(K)).agg(
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        Serving.minMaxScale(e, params, K, "value", -1.0, 1.0)
          .withColumn("inv_err",
            Serving.minMaxInverse(col("value_mm"), col("vmin"), col("vmax"),
              -1.0, 1.0) - col("value"))
          .select(col(K), col("event_id"),
            (round(col("value_mm"), 6) + lit(0.0)).as("value_mm"),
            (round(col("inv_err"), 6) + lit(0.0)).as("inv_err"))
      },
      Some("""WITH p AS (SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
             |  FROM events GROUP BY 1)
             |SELECT e.event_type, e.event_id,
             |  ROUND(CASE WHEN p.vmax > p.vmin
             |             THEN -1.0 + (e.value - p.vmin) * 2.0 / (p.vmax - p.vmin)
             |             ELSE -1.0 END, 6) + 0.0 AS value_mm,
             |  ROUND(CASE WHEN p.vmax > p.vmin
             |             THEN ((-1.0 + (e.value - p.vmin) * 2.0 / (p.vmax - p.vmin)) - -1.0)
             |                  * (p.vmax - p.vmin) / 2.0 + p.vmin
             |             ELSE p.vmin END - e.value, 6) + 0.0 AS inv_err
             |FROM events e JOIN p USING (event_type)""".stripMargin),
      doc = "SURVEY U2/A6-apply: MinMax(-1,1) transform + inverse from the " +
        "fitted params table (broadcast, degenerate-range guarded); inv_err " +
        "proves the round-trip to 1e-6"),

    // ---- J1: actual-vs-predicted overlay join ----
    Query(
      "q_j1_overlay_join",
      (s, dir) =>
        overlay(s, dir)
          .select(col(K), col("horizon"), col("target_ts"),
            (round(col("pred"), 6) + lit(0.0)).as("predicted_price"),
            col("actual_close"))
          .orderBy(K, "horizon"),
      Some(s"""WITH $overlaySql
              |SELECT event_type, horizon, target_ts,
              |  ROUND(pred, 6) + 0.0 AS predicted_price, actual_close
              |FROM o ORDER BY 1, 2""".stripMargin),
      doc = "SURVEY J1: predictions-vs-candles overlay — equi-join on " +
        "(key, target bucket), the Grafana dual-target panel shape"),

    // ---- J1 tolerant variant: as-of join ----
    Query(
      "q_j1_asof_join",
      (s, dir) => {
        val e = ev(s, dir)
        val left = e.where(col("event_id") % 2 === 0)
          .select(col("event_id"), col(K), col("ts"))
        // right must be unique per (key, ts): keep-latest dedup (LWW)
        val dw = Window.partitionBy(col(K), col("ts"))
          .orderBy(col("event_id").desc)
        val right = e.where(col("event_id") % 2 === 1)
          .withColumn("__rn", row_number().over(dw))
          .where(col("__rn") === 1).drop("__rn")
        graft.ops.AsofJoin.asofJoin(left, right, K, "ts", "ts",
            Seq("value"), toleranceSeconds = Some(3600L))
          .select(col("event_id"), col(K), col("ts"),
            col("matched_ts"), col("matched_value"))
      },
      Some("""WITH l0 AS (SELECT * FROM events WHERE event_id % 2 = 0),
             |r0 AS (SELECT * FROM events WHERE event_id % 2 = 1),
             |r1 AS (SELECT * FROM (
             |         SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, ts
             |           ORDER BY event_id DESC) AS rn FROM r0) WHERE rn = 1)
             |SELECT l0.event_id, l0.event_type, l0.ts,
             |  r1.ts AS matched_ts, r1.value AS matched_value
             |FROM l0 ASOF JOIN r1
             |  ON l0.event_type = r1.event_type AND l0.ts >= r1.ts
             |WHERE l0.ts - r1.ts <= INTERVAL 1 HOUR""".stripMargin),
      doc = "SURVEY J1 tolerant variant: as-of join — union+tag, ONE " +
        "shuffle+sort per key, last(ignoreNulls) running carry (no " +
        "range-condition join, no per-key cartesian); 1-hour tolerance; " +
        "oracle is DuckDB's native ASOF JOIN"),

    // ---- J1: FORWARD as-of (pandas merge_asof direction='forward') ----
    Query(
      "q_j1_asof_fwd",
      (s, dir) => {
        val e = ev(s, dir)
        val left = e.where(col("event_id") % 2 === 0)
          .select(col("event_id"), col(K), col("ts"))
        val dw = Window.partitionBy(col(K), col("ts"))
          .orderBy(col("event_id").desc)
        val right = e.where(col("event_id") % 2 === 1)
          .withColumn("__rn", row_number().over(dw))
          .where(col("__rn") === 1).drop("__rn")
        graft.ops.AsofJoin.asofJoin(left, right, K, "ts", "ts",
            Seq("value"), toleranceSeconds = Some(3600L),
            direction = "forward")
          .select(col("event_id"), col(K), col("ts"),
            col("matched_ts"), col("matched_value"))
      },
      Some("""WITH l0 AS (SELECT * FROM events WHERE event_id % 2 = 0),
             |r0 AS (SELECT * FROM events WHERE event_id % 2 = 1),
             |r1 AS (SELECT * FROM (
             |         SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, ts
             |           ORDER BY event_id DESC) AS rn FROM r0) WHERE rn = 1)
             |SELECT l0.event_id, l0.event_type, l0.ts,
             |  r1.ts AS matched_ts, r1.value AS matched_value
             |FROM l0 ASOF JOIN r1
             |  ON l0.event_type = r1.event_type AND l0.ts <= r1.ts
             |WHERE r1.ts - l0.ts <= INTERVAL 1 HOUR""".stripMargin),
      doc = "J1 forward variant: earliest right row at-or-after each left " +
        "row (pandas merge_asof direction=forward) — same union+tag single " +
        "sort pass, first(ignoreNulls) over the forward frame"),

    // ---- J2: per-horizon prediction-quality metrics join ----
    Query(
      "q_j2_horizon_metrics",
      (s, dir) =>
        overlay(s, dir)
          .groupBy(col("horizon"))
          .agg(
            round(avg(abs(col("pred") - col("actual_close"))), 4).as("mae"),
            round(sqrt(avg(pow(col("pred") - col("actual_close"), 2))), 4)
              .as("rmse"),
            count(lit(1)).as("sample_count"))
          .orderBy("horizon"),
      Some(s"""WITH $overlaySql
              |SELECT horizon,
              |  ROUND(AVG(ABS(pred - actual_close)), 4) AS mae,
              |  ROUND(SQRT(AVG((pred - actual_close) * (pred - actual_close))), 4) AS rmse,
              |  COUNT(*) AS sample_count
              |FROM o GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SURVEY J2/A9: predictions joined to later-arriving actuals, " +
        "grouped per horizon — the model_metrics table build")
  )
}
