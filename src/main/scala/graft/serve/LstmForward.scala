package graft.serve

import LstmMath._

/** The reference's real model forward pass (U1), re-implemented as
  * deterministic double-precision Scala linear algebra — closing the one
  * parity gap the surrogate left open.
  *
  * Architecture (reference `Crypto-TS-Model-master/src/lstm_model.py:16-44`):
  *
  *   input_net : Linear(F→H) → GELU → LayerNorm(H) → Dropout(identity at eval)
  *   lstm      : LSTM(H→H), 1 layer, batch_first
  *   head      : last timestep → Linear(H→H) → LayerNorm(H) → GELU → Linear(H→P)
  *
  * Everything here is the inference-time semantics of that stack; the
  * reference's seq_len/d_model are config, so the fixture uses tiny dims
  * (F=2 features, H=4 hidden, S=8 steps, P=3 horizons) — small enough
  * that a SQL oracle can replay the recurrence fully unrolled, the same
  * discipline used for the Lloyd rounds in the trained-IVF oracle. The
  * blocks and their lockstep rule are [[LstmMath]]'s.
  *
  * The gate layout follows the PyTorch convention: rows [0,H) input gate,
  * [H,2H) forget, [2H,3H) cell candidate, [3H,4H) output;
  * c_t = f⊙c_{t−1} + i⊙g, h_t = o⊙tanh(c_t).
  */
object LstmForward extends ForwardModel {

  val F = 2 // features per step: scaled value + first difference
  val H = 4 // hidden width
  val S = 8 // window length (seq_len)
  val P = 3 // prediction horizons (pred_len)

  // ---- fixture weights: one Lehmer stream, consumed in declaration order ----

  private val fx = new LehmerFixture(12345L)
  private val inLin = fx.lin(H, F)
  private val inLn = fx.ln(H)
  private val lstm = fx.lstm(H, H)
  private val out = fx.head(H, H, P)

  /** seqLen raw window values (ascending time) → P predictions. */
  def forward(window: Seq[Double]): Seq[Double] = {
    require(window.length == S, s"window must have $S values, got ${window.length}")
    // input_net: Linear(F→H) → GELU → LayerNorm
    val xs = scaledFeatures(window.toArray)
      .map(f => layerNormW(linear(f, inLin).map(gelu), inLn))
    head(lstmLayer(xs, lstm).last, out).toSeq
  }

  /** Full oracle SQL over the `events` table: per event_type, latest S
    * values (ordered by ts, event_id) → unrolled forward → one row per
    * horizon. Generated, not hand-written — every weight literal and
    * fold order comes from the same arrays `forward` uses. Each step's
    * input_net CTEs sit just before its LSTM step.
    */
  def oracleSql: String = {
    val sb = new StringBuilder
    sb ++= windowFeatureSql(S)
    for (t <- 1 to S) {
      val p = (0 until H).map(j => s"${linSql(inLin, j)(featSql(t, _))} AS p${t}_$j")
      sb ++= s",\np$t AS (SELECT *, ${p.mkString(", ")} FROM ${if (t == 1) "f1" else s"st${t - 1}"})"
      val g = (0 until H).map(j => s"${geluSql(s"p${t}_$j")} AS g${t}_$j")
      sb ++= s",\ng$t AS (SELECT *, ${g.mkString(", ")} FROM p$t)"
      sb ++= layerNormSql(inLn, Seq(t), (t, j) => s"g${t}_$j", t => s"mu$t",
        t => s"vr$t", (t, j) => s"x${t}_$j", Seq(s"m$t", s"w$t", s"x$t"), s"g$t")
      sb ++= lstmStepSql(t, lstm, k => s"x${t}_$k", s"x$t")
    }
    sb ++= headSql(out, HeadH, Seq(""), (_, k) => s"h${S}_$k", s"st$S")
    sb ++= horizonSelectSql(P)
    sb.toString
  }
}
