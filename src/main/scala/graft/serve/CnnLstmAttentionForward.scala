package graft.serve

import LstmMath._

/** The reference's CNN-LSTM-attention model variant (U1 family), fourth
  * entry of the `train.py:222-234` registry matched by this engine.
  *
  * Architecture (reference `Crypto-TS-Model-master/src/cnn_lstm_attention_model.py:19-53`):
  *
  *   cnn   : Conv1d(F→C, kernel 3, padding 1) → ReLU → MaxPool1d(2)
  *   lstm  : LSTM(C→H), 1 layer, over the S/2 pooled steps
  *   attn  : additive attention — score_t = wₛ·tanh(W_a·h_t + b_a),
  *           softmax over steps, context = Σ αₜ·hₜ
  *   head  : Linear(H→H) → LayerNorm(H) → GELU → Linear(H→P)
  *
  * Everything reuses [[LstmMath]]; the two new pieces are the pairwise
  * max pool (order-free exact — `GREATEST` both sides) and the additive
  * attention with max-subtraction softmax (the same fold discipline as
  * [[AttentionLstmForward]]'s multihead form).
  *
  * Fixture dims: F=2, C=4, H=4, A=4 (attn_dim), S=8 → 4 pooled steps,
  * P=3; Lehmer stream seed 77777.
  */
object CnnLstmAttentionForward {

  val F = 2
  val C = 4
  val H = 4
  val A = 4
  val S = 8
  val P = 3
  val K = 3

  private val fixture = new LstmMath.LehmerFixture(77777L)
  private def ints(n: Int): Array[Int] = fixture.ints(n)

  private[serve] val wcvk = ints(C * F * K)
  private[serve] val bcvk = ints(C)
  private[serve] val wihk = ints(4 * H * C)
  private[serve] val whhk = ints(4 * H * H)
  private[serve] val bihk = ints(4 * H)
  private[serve] val bhhk = ints(4 * H)
  private[serve] val wak = ints(A * H)
  private[serve] val bak = ints(A)
  private[serve] val wsk = ints(A) // attn_score, bias=False
  private[serve] val w2k = ints(H * H)
  private[serve] val b2k = ints(H)
  private[serve] val gm2k = ints(H)
  private[serve] val bt2k = ints(H)
  private[serve] val w3k = ints(P * H)
  private[serve] val b3k = ints(P)

  /** seqLen raw window values (ascending time) → P predictions. */
  def forward(window: Seq[Double]): Seq[Double] = {
    require(window.length == S, s"window must have $S values, got ${window.length}")
    val conv = convRelu(scaledFeatures(window.toArray), wcvk, bcvk, C, F, K)
    val pooled = Array.tabulate(S / 2)(t =>
      Array.tabulate(C)(c => math.max(conv(2 * t)(c), conv(2 * t + 1)(c))))
    val h = new Array[Double](H)
    val cs = new Array[Double](H)
    val outs = pooled.map { x =>
      lstmStep(x, h, cs, H, wihk, whhk, bihk, bhhk); h.clone()
    }
    // additive attention with max-subtraction softmax
    val scores = outs.map { ht =>
      val fc = linear(ht, wak, bak, A, H).map(tanhc)
      var sc = 0.0
      var j = 0
      while (j < A) { sc = sc + d(wsk(j)) * fc(j); j += 1 }
      sc
    }
    var m = scores(0)
    var t = 1
    while (t < scores.length) { if (scores(t) > m) m = scores(t); t += 1 }
    val es = scores.map(sc => math.exp(sc - m))
    var den = 0.0
    t = 0
    while (t < es.length) { den = den + es(t); t += 1 }
    val ctx = Array.tabulate(H) { j =>
      var acc = 0.0
      var u = 0
      while (u < outs.length) { acc = acc + (es(u) / den) * outs(u)(j); u += 1 }
      acc
    }
    headForward(ctx, H, P, w2k, b2k, gm2k, bt2k, w3k, b3k)
  }

  /** Generated DuckDB oracle: conv+ReLU, pairwise GREATEST pool,
    * unrolled LSTM over the pooled steps, additive-attention softmax,
    * head — from the same weight arrays `forward` reads.
    */
  def oracleSql: String = {
    val sb = new StringBuilder
    sb ++= windowFeatureSql(S)
    val cv = for (t <- 1 to S; c <- 0 until C)
      yield s"${reluSql(convSql(t, c, wcvk, bcvk, S, F, K))} AS rl${t}_$c"
    sb ++= s",\nrl AS (SELECT *, ${cv.mkString(", ")} FROM f1)"
    val pool = for (t <- 1 to S / 2; c <- 0 until C)
      yield s"GREATEST(rl${2 * t - 1}_$c, rl${2 * t}_$c) AS pl${t}_$c"
    sb ++= s",\npl AS (SELECT *, ${pool.mkString(", ")} FROM rl)"
    for (t <- 1 to S / 2)
      sb ++= lstmStepSql(t, H, C, k => s"pl${t}_$k", wihk, whhk, bihk, bhhk,
        if (t == 1) "pl" else s"st${t - 1}")
    // additive attention over the 4 hidden states
    val fcs = for (t <- 1 to S / 2; j <- 0 until A) yield {
      val terms = new StringBuilder(kLit(bak(j)))
      for (k <- 0 until H) terms ++= s" + ${kLit(wak(j * H + k))} * h${t}_$k"
      s"${tanhSql(s"($terms)")} AS fc${t}_$j"
    }
    sb ++= s",\nafc AS (SELECT *, ${fcs.mkString(", ")} FROM st${S / 2})"
    val scs = (1 to S / 2).map { t =>
      val terms = (0 until A)
        .map(j => s"${kLit(wsk(j))} * fc${t}_$j").mkString(" + ")
      s"($terms) AS sc$t"
    }
    sb ++= s",\nascr AS (SELECT *, ${scs.mkString(", ")} FROM afc)"
    sb ++= s",\namx AS (SELECT *, GREATEST(${(1 to S / 2)
      .map(t => s"sc$t").mkString(", ")}) AS am FROM ascr)"
    val es = (1 to S / 2).map(t => s"exp(sc$t - am) AS ae$t")
    sb ++= s",\naex AS (SELECT *, ${es.mkString(", ")} FROM amx)"
    sb ++= s",\nadn AS (SELECT *, (${(1 to S / 2).map(t => s"ae$t")
      .mkString(" + ")}) AS aden FROM aex)"
    val ctx = (0 until H).map { j =>
      val terms = (1 to S / 2)
        .map(t => s"(ae$t / aden) * h${t}_$j").mkString(" + ")
      s"($terms) AS hctx_$j"
    }
    sb ++= s",\nactx AS (SELECT *, ${ctx.mkString(", ")} FROM adn)"
    sb ++= headSql(H, P, k => s"hctx_$k", w2k, b2k, gm2k, bt2k, w3k, b3k,
      "event_type, last_ts", "actx")
    sb ++= horizonSelectSql(P)
    sb.toString
  }
}
