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
  * The head and LSTM layer are the shared [[LstmMath]] blocks; only the
  * front end differs: a temporal convolution over the feature sequence
  * (zero-padded at both ends) instead of the per-step MLP.
  *
  * Fixture dims: F=2, C=4 channels, H=4, S=8, P=3; weights from a
  * Lehmer stream seeded independently of LstmForward's.
  */
object CnnLstmForward extends ForwardModel {

  val F = 2 // features per step
  val C = 4 // conv output channels (cnn_out_channels)
  val H = 4 // LSTM hidden width
  val S = 8 // window length
  val P = 3 // prediction horizons
  val K = 3 // conv kernel size (padding 1)

  private val fx = new LehmerFixture(54321L)
  private val conv = fx.lin(C, F * K) // [c][f][k], the PyTorch [C_out, C_in, K] shape
  private val lstm = fx.lstm(H, C)
  private val out = fx.head(H, H, P)

  /** seqLen raw window values (ascending time) → P predictions. */
  def forward(window: Seq[Double]): Seq[Double] = {
    require(window.length == S, s"window must have $S values, got ${window.length}")
    val cv = conv1d(scaledFeatures(window.toArray), conv, K, relu)
    head(lstmLayer(cv, lstm).last, out).toSeq
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
      yield s"${convSql(t, c, conv, S, K, featSql)} AS cv${t}_$c"
    sb ++= s",\ncv AS (SELECT *, ${cv.mkString(", ")} FROM f1)"
    val rl = for (t <- 1 to S; c <- 0 until C)
      yield s"${reluSql(s"cv${t}_$c")} AS rl${t}_$c"
    sb ++= s",\nrl AS (SELECT *, ${rl.mkString(", ")} FROM cv)"
    sb ++= lstmStackSql(S, Seq(lstm), (t, k) => s"rl${t}_$k", "rl")
    sb ++= headSql(out, HeadH, Seq(""), (_, k) => s"h${S}_$k", s"st$S")
    sb ++= horizonSelectSql(P)
    sb.toString
  }
}
