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
  * The rest is [[LstmMath]] blocks; its own two pieces are the pairwise
  * max pool (order-free exact — `GREATEST` both sides) and the additive
  * attention scores, which the shared max-subtraction softmax pools.
  *
  * Fixture dims: F=2, C=4, H=4, A=4 (attn_dim), S=8 → 4 pooled steps,
  * P=3; Lehmer stream seed 77777.
  */
object CnnLstmAttentionForward extends ForwardModel {

  val F = 2
  val C = 4
  val H = 4
  val A = 4
  val S = 8
  val P = 3
  val K = 3

  private val fx = new LehmerFixture(77777L)
  private val conv = fx.lin(C, F * K)
  private val lstm = fx.lstm(H, C)
  private val attnFc = fx.lin(A, H)
  private val wsk = fx.ints(A) // attn_score, bias=False
  private val out = fx.head(H, H, P)

  /** seqLen raw window values (ascending time) → P predictions. */
  def forward(window: Seq[Double]): Seq[Double] = {
    require(window.length == S, s"window must have $S values, got ${window.length}")
    val cv = conv1d(scaledFeatures(window.toArray), conv, K, relu)
    val pooled = Array.tabulate(S / 2)(t =>
      Array.tabulate(C)(c => math.max(cv(2 * t)(c), cv(2 * t + 1)(c))))
    val outs = lstmLayer(pooled, lstm)
    // additive attention: score_t = w_s · tanh(W_a·h_t + b_a)
    val scores = outs.map { ht =>
      val fc = linear(ht, attnFc).map(tanhc)
      var sc = 0.0
      var j = 0
      while (j < A) { sc = sc + d(wsk(j)) * fc(j); j += 1 }
      sc
    }
    head(softmaxPool(scores, H)(outs(_)(_)), out).toSeq
  }

  /** Generated DuckDB oracle: conv+ReLU, pairwise GREATEST pool,
    * unrolled LSTM over the pooled steps, additive-attention softmax,
    * head — from the same weight arrays `forward` reads.
    */
  def oracleSql: String = {
    val n = S / 2
    val sb = new StringBuilder
    sb ++= windowFeatureSql(S)
    val cv = for (t <- 1 to S; c <- 0 until C)
      yield s"${reluSql(convSql(t, c, conv, S, K, featSql))} AS rl${t}_$c"
    sb ++= s",\nrl AS (SELECT *, ${cv.mkString(", ")} FROM f1)"
    val pool = for (t <- 1 to n; c <- 0 until C)
      yield s"GREATEST(rl${2 * t - 1}_$c, rl${2 * t}_$c) AS pl${t}_$c"
    sb ++= s",\npl AS (SELECT *, ${pool.mkString(", ")} FROM rl)"
    sb ++= lstmStackSql(n, Seq(lstm), (t, k) => s"pl${t}_$k", "pl")
    // additive attention over the pooled hidden states
    val fcs = for (t <- 1 to n; j <- 0 until A)
      yield s"${tanhSql(linSql(attnFc, j)(k => s"h${t}_$k"))} AS fc${t}_$j"
    sb ++= s",\nafc AS (SELECT *, ${fcs.mkString(", ")} FROM st$n)"
    val scs = (1 to n).map { t =>
      val terms = (0 until A)
        .map(j => s"${kLit(wsk(j))} * fc${t}_$j").mkString(" + ")
      s"($terms) AS sc$t"
    }
    sb ++= s",\nascr AS (SELECT *, ${scs.mkString(", ")} FROM afc)"
    sb ++= softmaxPoolSql(Seq(SoftmaxSql(1 to n, t => s"sc$t", "am",
      t => s"ae$t", "aden", (t, j) => s"h${t}_$j", (0 until H).map(j => s"hctx_$j"))),
      Seq("amx", "aex", "adn", "actx"), "ascr")
    sb ++= headSql(out, HeadH, Seq(""), (_, k) => s"hctx_$k", "actx")
    sb ++= horizonSelectSql(P)
    sb.toString
  }
}
