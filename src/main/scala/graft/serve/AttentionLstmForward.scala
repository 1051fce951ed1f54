package graft.serve

import LstmMath._

/** The reference's LSTM-attention model variant (U1 family), completing
  * the model registry of `train.py:222-234` alongside [[LstmForward]]
  * (the serving default) and [[CnnLstmForward]].
  *
  * Architecture (reference `Crypto-TS-Model-master/src/lstm_attention_model.py`):
  *
  *   input_proj  : Linear(F→d) → LayerNorm(d) → Dropout(identity) → GELU
  *   pos_encoder : x += PE(t) (the sin/cos transformer encoding)
  *   lstm        : LSTM(d→d), 2 layers; lstm_norm LayerNorm(d)
  *   attention   : 3 × MultiheadAttention(d, heads=d ⇒ head_dim=1) with a
  *                 CAUSAL mask, residual + shared attn_norm LayerNorm
  *   cross-attn  : queries = pos-encoded zeros (one per horizon — input-
  *                 independent CONSTANTS), keys/values = the attended
  *                 sequence; residual_norm LayerNorm
  *   output_proj : Linear(d→2d) → LayerNorm(2d) → GELU → Linear(2d→1)
  *                 per horizon
  *
  * Oracle notes on top of the [[LstmMath]] blocks:
  *  - positional encodings and the constant cross-attention queries are
  *    computed once in Scala and emitted as shortest-roundtrip double
  *    literals ([[LstmMath.dLit]]) — DuckDB reparses them bit-exactly;
  *  - each attention layer's output CTE prunes to (keys, sequence), so
  *    the column width in flight stays bounded across the 3 layers.
  *
  * Fixture dims: F=2, d=4, heads=4, S=8, P=3; Lehmer stream seed 99991.
  */
object AttentionLstmForward extends ForwardModel {

  val F = 2
  val D = 4     // d_model
  val Heads = 4 // ⇒ head_dim = 1
  val S = 8
  val P = 3

  private val fx = new LehmerFixture(99991L)
  private val inLin = fx.lin(D, F)
  private val inLn = fx.ln(D)
  private val lstms = Seq.fill(2)(fx.lstm(D, D))
  private val lstmNorm = fx.ln(D)
  // 3 self-attention modules + 1 cross, in the PyTorch in_proj/out_proj shape
  private val attnW = Array.fill(4)(fx.attn(D))
  private val attnNorm = fx.ln(D) // shared by the 3 self layers
  private val resNorm = fx.ln(D)
  private val out = fx.head(D, 2 * D, 1) // applied per horizon

  // constant cross-attention queries: pos-encoded zero vectors per horizon
  private def yq(h: Int): Array[Double] = Array.tabulate(D)(j => peVal(h, j, D))
  private def qCross(h: Int): Array[Double] = linear(yq(h), attnW(3).q)

  private def addNorm(a: Array[Double], b: Array[Double], p: Ln): Array[Double] =
    layerNormW(Array.tabulate(D)(j => a(j) + b(j)), p)

  /** seqLen raw window values (ascending time) → P predictions. */
  def forward(window: Seq[Double]): Seq[Double] = {
    require(window.length == S, s"window must have $S values, got ${window.length}")
    val xs = inputProj(scaledFeatures(window.toArray), inLin, inLn)
    var xa = lstms.foldLeft(xs)(lstmLayer).map(layerNormW(_, lstmNorm))
    for (l <- 0 until 3) {
      val res = attention(xa, xa, attnW(l), causal = true)
      xa = Array.tabulate(S)(t => addNorm(xa(t), res(t), attnNorm))
    }
    val yqs = Array.tabulate(P)(yq)
    val cross = attention(yqs, xa, attnW(3), causal = false)
    Array.tabulate(P)(h => head(addNorm(yqs(h), cross(h), resNorm), out)(0)).toSeq
  }

  /** Full oracle: front end, stacked LSTM, 3 causal attention layers,
    * constant-query cross-attention, per-horizon head — generated from
    * the same weight arrays `forward` reads.
    */
  def oracleSql: String = {
    val keys = "event_type, last_ts"
    // one attention layer + residual + LayerNorm, out `${outPfx}_{t}_{j}`
    def attnNormSql(l: Int, inRef: (Int, Int) => String,
        qLit: Option[(Int, Int) => String], tsQ: Range, causal: Boolean,
        p: Ln, outPfx: String, residRef: (Int, Int) => String,
        from0: String): String = {
      val rs = for (t <- tsQ; j <- 0 until D)
        yield s"${residRef(t, j)} + o${l}_${t}_$j AS r${l}_${t}_$j"
      attnSql(l, attnW(l), inRef, tsQ, 1 to S, causal, from0, qLit = qLit) +
        s",\nrs$l AS (SELECT *, ${rs.mkString(", ")} FROM op$l)" +
        lnSeqSql(s"r$l", (t, j) => s"r${l}_${t}_$j", outPfx, p, tsQ, s"rs$l", keys)
    }
    val sb = new StringBuilder
    sb ++= windowFeatureSql(S)
    sb ++= inputProjSql(S, inLin, inLn)
    sb ++= lstmStackSql(S, lstms, (t, k) => s"x0_${t}_$k", "ix")
    sb ++= lnSeqSql("n", (t, j) => s"hb${t}_$j", "xn0", lstmNorm, 1 to S,
      s"stb$S", keys)
    // 3 causal self-attention layers (shared attn_norm)
    for (l <- 0 until 3) {
      def xn(t: Int, j: Int): String = s"xn${l}_${t}_$j"
      sb ++= attnNormSql(l, xn, None, 1 to S, causal = true, attnNorm,
        s"xn${l + 1}", xn, if (l == 0) "lnn" else s"lnr${l - 1}")
    }
    // cross-attention: constant queries (pos-encoded zeros per horizon)
    sb ++= attnNormSql(3, (t, j) => s"xn3_${t}_$j",
      Some((hz, h) => dLit(qCross(hz - 1)(h))), 1 to P, causal = false,
      resNorm, "xr", (hz, j) => dLit(yq(hz - 1)(j)), "lnr2")
    // output head per horizon: Linear(4->8) -> LayerNorm(8) -> GELU -> Linear(8->1)
    sb ++= headSql(out, Head2D, (1 to P).map(hz => s"_$hz"),
      (g, k) => s"xr${g}_$k", "lnr3")
    sb ++= horizonSelectSql(P)
    sb.toString
  }
}
