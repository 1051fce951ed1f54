package graft.serve

import LstmMath._

/** The reference's CNN-LSTM model variant (U1 family), re-implemented
  * with the same deterministic-fixture discipline as [[LstmForward]].
  *
  * Architecture (reference `Crypto-TS-Model-master/src/cnn_lstm_model.py:19-40`):
  *
  *   cnn  : Conv1d(F→C, kernel 3, padding 1) → ReLU → Dropout(identity)
  *   lstm : LSTM(C→H), 1 layer, batch_first
  *   head : last timestep → Linear(H→H) → LayerNorm(H) → GELU → Linear(H→P)
  *
  * The head and LSTM cell are the exact shared machinery ([[LstmMath]]);
  * only the front end differs: a temporal convolution over the feature
  * sequence (zero-padded at both ends) instead of the per-step MLP.
  * The conv fold order is pinned ([[LstmMath.convRelu]] and its SQL twin
  * [[LstmMath.convSql]]), so the generated SQL oracle replays it exactly.
  *
  * Fixture dims: F=2, C=4 channels, H=4, S=8, P=3; weights from a
  * Lehmer stream seeded independently of LstmForward's.
  */
object CnnLstmForward {

  val F = 2 // features per step
  val C = 4 // conv output channels (cnn_out_channels)
  val H = 4 // LSTM hidden width
  val S = 8 // window length
  val P = 3 // prediction horizons
  val K = 3 // conv kernel size (padding 1)

  private val fixture = new LstmMath.LehmerFixture(54321L)
  private def ints(n: Int): Array[Int] = fixture.ints(n)

  // conv weight layout [c][f][k] (the PyTorch [C_out, C_in, K] shape)
  private[serve] val wcvk = ints(C * F * K)
  private[serve] val bcvk = ints(C)
  private[serve] val wihk = ints(4 * H * C)
  private[serve] val whhk = ints(4 * H * H)
  private[serve] val bihk = ints(4 * H)
  private[serve] val bhhk = ints(4 * H)
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
    val h = new Array[Double](H)
    val cs = new Array[Double](H)
    var t = 0
    while (t < S) {
      lstmStep(conv(t), h, cs, H, wihk, whhk, bihk, bhhk)
      t += 1
    }
    headForward(h, H, P, w2k, b2k, gm2k, bt2k, w3k, b3k)
  }

  /** Generated DuckDB oracle: windowed features → unrolled conv+ReLU →
    * unrolled LSTM → head → horizon fan-out, all from the same weight
    * arrays `forward` reads.
    */
  def oracleSql: String = {
    val sb = new StringBuilder
    sb ++= windowFeatureSql(S)
    // conv: one CTE with all S×C pre-activation columns
    val cv = for (t <- 1 to S; c <- 0 until C)
      yield s"${convSql(t, c, wcvk, bcvk, S, F, K)} AS cv${t}_$c"
    sb ++= s",\ncv AS (SELECT *, ${cv.mkString(", ")} FROM f1)"
    val rl = for (t <- 1 to S; c <- 0 until C)
      yield s"${reluSql(s"cv${t}_$c")} AS rl${t}_$c"
    sb ++= s",\nrl AS (SELECT *, ${rl.mkString(", ")} FROM cv)"
    for (t <- 1 to S)
      sb ++= lstmStepSql(t, H, C, k => s"rl${t}_$k", wihk, whhk, bihk, bhhk,
        if (t == 1) "rl" else s"st${t - 1}")
    sb ++= headSql(H, P, k => s"h${S}_$k", w2k, b2k, gm2k, bt2k,
      w3k, b3k, "event_type, last_ts", s"st$S")
    sb ++= horizonSelectSql(P)
    sb.toString
  }
}
