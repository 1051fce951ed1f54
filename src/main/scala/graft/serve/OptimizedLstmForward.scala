package graft.serve

import LstmMath._

/** The reference's `optimize` registry entry (U1 family) — the fifth and
  * last RUNNABLE architecture `train.py:223-236` can dispatch
  * (`OptimizedLSTMAttentionModel`, reference
  * `Crypto-TS-Model-master/src/optimize_model.py:83-178`). The remaining
  * registry name, `lstm_hybridattention`, is UNRUNNABLE as written — see
  * the note at the bottom of this file.
  *
  * Architecture (eval mode — every Dropout is identity):
  *
  *   input_proj : Linear(F→d) → LayerNorm(d) → GELU, then x += PE(t)
  *   lstm       : LSTM(d→d), 2 layers; lstm_norm LayerNorm(d)
  *   multi-scale temporal attention over scales {1, 3, 6}:
  *     scale s>1 : AvgPool1d(kernel=s, stride=s) (floor length, trailing
  *                 steps dropped) → Conv1d(d→d, kernel 1) (pointwise
  *                 linear), then full (non-causal) MultiheadAttention
  *                 (d, 4 heads ⇒ head_dim 1), then nearest-neighbor
  *                 upsample back to T (out[i] = in[⌊i·L/T⌋] — the
  *                 F.interpolate default);
  *     aggregate : concat(3d) → Linear(3d→d) → LayerNorm(d) → GELU
  *   skip       : Conv1d(d→d, kernel 3, zero pad 1) over the NORMALIZED
  *                lstm output → GELU → pool_norm LayerNorm(d); added to
  *                the aggregated attention output
  *   pooling    : w_t = softmax_t(mean_j x[t][j]); context = Σ w_t·x_t
  *   residual   : context += Linear(d→d)(context); residual_norm
  *   head       : Linear(d→2d) → LayerNorm(2d) → GELU → Linear(2d→P)
  *                (ALL horizons from one linear — unlike the attention
  *                model's per-horizon cross-attention head)
  *
  * `attn_norm` is declared by the reference module but never used in its
  * forward (optimize_model.py:124, cf. the forward at :149-178) — it is
  * deliberately absent here too.
  *
  * The blocks and their lockstep rule are [[LstmMath]]'s, with fixture
  * weights from an independent Lehmer stream; GELU is the same tanh
  * approximation as the other four families (the erf form has no
  * portable SQL twin).
  *
  * Fixture dims: F=2, d=4, heads=4 (head_dim 1 ⇒ the 1/√head_dim score
  * scale is exactly 1), S=8, P=3. Scale lengths on S=8: L(1)=8, L(3)=2
  * (positions avg x1..3, avg x4..6 — x7, x8 dropped by the floor),
  * L(6)=1 (avg x1..6).
  */
object OptimizedLstmForward extends ForwardModel {

  val F = 2
  val D = 4      // d_model
  val Heads = 4  // => head_dim = 1
  val S = 8
  val P = 3
  val K = 3      // skip-conv kernel (padding 1)
  val Scales: Seq[Int] = Seq(1, 3, 6)

  private val fx = new LehmerFixture(77773L)
  private val inLin = fx.lin(D, F)
  private val inLn = fx.ln(D)
  private val lstms = Seq.fill(2)(fx.lstm(D, D))
  private val lstmNorm = fx.ln(D)
  // one attention module per scale (ModuleList order = Scales order)
  private val attnW = Scales.map(_ => fx.attn(D))
  // pointwise conv after the avg-pool, scales 3 and 6 only
  private val down = Map(3 -> fx.lin(D, D), 6 -> fx.lin(D, D))
  private val agg = fx.lin(D, 3 * D) // aggregate: Linear(3d->d) + LayerNorm(d)
  private val aggLn = fx.ln(D)
  private val skip = fx.lin(D, D * K) // skip conv [out][in][tap] + pool_norm
  private val poolLn = fx.ln(D)
  private val res = fx.lin(D, D) // residual Linear(d->d) + residual_norm
  private val resLn = fx.ln(D)
  // head: Linear(d->2d) -> LayerNorm(2d) -> GELU -> Linear(2d->P)
  private val out = fx.head(D, 2 * D, P)

  /** Pooled (and, for scale>1, pointwise-conv'd) positions of a scale:
    * 0-based start p covers xn[p·s .. p·s+s−1]; floor semantics drop the
    * tail exactly like AvgPool1d.
    */
  private def scaleLen(sc: Int): Int = (S - sc) / sc + 1

  private def nearestIdx(t: Int, len: Int): Int = t * len / S

  /** seqLen raw window values (ascending time) → P predictions. */
  def forward(window: Seq[Double]): Seq[Double] = {
    require(window.length == S, s"window must have $S values, got ${window.length}")
    val xs = inputProj(scaledFeatures(window.toArray), inLin, inLn)
    val xn = lstms.foldLeft(xs)(lstmLayer).map(layerNormW(_, lstmNorm))

    // multi-scale attention, upsampled back to S positions per scale
    val scaleOuts: Seq[Array[Array[Double]]] =
      Scales.zip(attnW).map { case (sc, w) =>
        val positions: Array[Array[Double]] =
          if (sc == 1) xn
          else Array.tabulate(scaleLen(sc)) { p =>
            val avg = Array.tabulate(D) { j =>
              var acc = 0.0
              var u = 0
              while (u < sc) { acc = acc + xn(p * sc + u)(j); u += 1 }
              acc / sc
            }
            linear(avg, down(sc))
          }
        val att = attention(positions, positions, w, causal = false)
        Array.tabulate(S)(t => att(nearestIdx(t, positions.length)))
      }

    // concat + aggregate (Linear(3d->d) -> LayerNorm -> GELU)
    val ag = Array.tabulate(S) { t =>
      val catv = scaleOuts(0)(t) ++ scaleOuts(1)(t) ++ scaleOuts(2)(t)
      layerNormW(linear(catv, agg), aggLn).map(gelu)
    }
    // skip conv over the normalized lstm output, GELU, pool_norm
    val sk = conv1d(xn, skip, K, gelu).map(layerNormW(_, poolLn))
    val at = Array.tabulate(S)(t =>
      Array.tabulate(D)(j => ag(t)(j) + sk(t)(j)))

    // attention-weighted pooling: softmax over t of the per-step mean
    val means = at.map(_.reduceLeft(_ + _) / D)
    val ctx = softmaxPool(means, D)(at(_)(_))
    // residual + residual_norm
    val rz = linear(ctx, res)
    val rn = layerNormW(Array.tabulate(D)(j => ctx(j) + rz(j)), resLn)
    // head: all P horizons from one linear
    head(rn, out).toSeq
  }

  /** Full oracle, generated from the same weight arrays `forward` reads. */
  def oracleSql: String = {
    val keys = "event_type, last_ts"
    def cols(pfx: String, ts: Range): String =
      (for (t <- ts; j <- 0 until D) yield s"${pfx}_${t}_$j").mkString(", ")
    val xnCols = cols("xn", 1 to S)

    val sb = new StringBuilder
    sb ++= windowFeatureSql(S)
    sb ++= inputProjSql(S, inLin, inLn)
    sb ++= lstmStackSql(S, lstms, (t, k) => s"x0_${t}_$k", "ix")
    sb ++= lnSeqSql("n", (t, j) => s"hb${t}_$j", "xn", lstmNorm, 1 to S,
      s"stb$S", keys)

    // scale 1: attention directly over xn
    sb ++= attnSql(1, attnW(0), (t, j) => s"xn_${t}_$j", 1 to S, 1 to S,
      causal = false, "lnn", s"$keys, $xnCols")
    // scales 3 and 6: avg-pool -> pointwise conv -> attention
    val l3 = scaleLen(3)
    for ((sc, si, from0, keep) <- Seq(
        (3, 1, "op1", s"$keys, $xnCols, ${cols("o1", 1 to S)}"),
        (6, 2, "op3", s"$keys, $xnCols, ${cols("o1", 1 to S)}, ${cols("o3", 1 to l3)}"))) {
      val ps = 1 to scaleLen(sc)
      val pl = for (p <- ps; j <- 0 until D) yield
        s"(${(0 until sc).map(u => s"xn_${(p - 1) * sc + u + 1}_$j")
          .mkString(" + ")}) / ${sc.toDouble} AS pl${sc}_${p}_$j"
      sb ++= s",\npo$sc AS (SELECT *, ${pl.mkString(", ")} FROM $from0)"
      val cv = for (p <- ps; j <- 0 until D)
        yield s"${linSql(down(sc), j)(k => s"pl${sc}_${p}_$k")} AS cv${sc}_${p}_$j"
      sb ++= s",\ncp$sc AS (SELECT *, ${cv.mkString(", ")} FROM po$sc)"
      sb ++= attnSql(sc, attnW(si), (p, j) => s"cv${sc}_${p}_$j", ps, ps,
        causal = false, s"cp$sc", keep)
    }

    // upsample (nearest) + concat + aggregate Linear(3d->d) -> LN -> GELU
    val agp = for (t <- 1 to S; j <- 0 until D) yield {
      val p3 = nearestIdx(t - 1, l3) + 1
      val in = (0 until D).map(k => s"o1_${t}_$k") ++
        (0 until D).map(k => s"o3_${p3}_$k") ++ (0 until D).map(k => s"o6_1_$k")
      s"${linSql(agg, j)(in)} AS agp_${t}_$j"
    }
    sb ++= s",\nagl AS (SELECT *, ${agp.mkString(", ")} FROM op6)"
    sb ++= lnSeqSql("g", (t, j) => s"agp_${t}_$j", "lg", aggLn, 1 to S, "agl",
      s"$keys, $xnCols")
    val ags = for (t <- 1 to S; j <- 0 until D)
      yield s"${geluSql(s"lg_${t}_$j")} AS ag_${t}_$j"
    sb ++= s",\nagg AS (SELECT *, ${ags.mkString(", ")} FROM lng)"

    // skip conv (kernel 3, zero pad — boundary taps skipped) -> GELU -> LN
    val skp = for (t <- 1 to S; j <- 0 until D)
      yield s"${convSql(t, j, skip, S, K, (u, c) => s"xn_${u}_$c")} AS skp_${t}_$j"
    sb ++= s",\nskc AS (SELECT *, ${skp.mkString(", ")} FROM agg)"
    val skg = for (t <- 1 to S; j <- 0 until D)
      yield s"${geluSql(s"skp_${t}_$j")} AS skg_${t}_$j"
    sb ++= s",\nskr AS (SELECT *, ${skg.mkString(", ")} FROM skc)"
    sb ++= lnSeqSql("s", (t, j) => s"skg_${t}_$j", "sn", poolLn, 1 to S, "skr",
      s"$keys, ${cols("ag", 1 to S)}")
    val ats = for (t <- 1 to S; j <- 0 until D)
      yield s"ag_${t}_$j + sn_${t}_$j AS at_${t}_$j"
    sb ++= s",\natt AS (SELECT *, ${ats.mkString(", ")} FROM lns)"

    // attention-weighted pooling
    val mns = (1 to S).map(t => s"(${(0 until D).map(j => s"at_${t}_$j")
      .mkString(" + ")}) / ${D.toDouble} AS mn_$t")
    sb ++= s",\npm AS (SELECT *, ${mns.mkString(", ")} FROM att)"
    sb ++= softmaxPoolSql(Seq(SoftmaxSql(1 to S, t => s"mn_$t", "mmax",
      t => s"pe_$t", "pden", (t, j) => s"at_${t}_$j", (0 until D).map(j => s"ctx_$j"))),
      Seq("px", "pe", "pd", "pc"), "pm", keys)

    // residual + residual_norm (width 4, single vector)
    val rzs = (0 until D).map(j => s"ctx_$j + ${linSql(res, j)(k => s"ctx_$k")} AS rz_$j")
    sb ++= s",\nrz AS (SELECT *, ${rzs.mkString(", ")} FROM pc)"
    sb ++= layerNormSql(resLn, Seq(0), (_, j) => s"rz_$j", _ => "rmu",
      _ => "rvr", (_, j) => s"rn_$j", Seq("rm", "rv", "rn"), "rz")

    // head: Linear(4->8) -> LayerNorm(8) -> GELU -> Linear(8->P)
    sb ++= headSql(out, Head2D, Seq(""), (_, k) => s"rn_$k", "rn")
    sb ++= horizonSelectSql(P)
    sb.toString
  }
}

/* Why there is no sixth forward pass: `lstm_hybridattention`
 * (`lstm_attention_hybrid_model.py`) is dispatchable from the registry
 * (train.py:232-233) but CANNOT execute for any input or d_model. In its
 * forward: lstm1 (hidden d/2, bidirectional) outputs (B,T,d); the
 * directional halves are summed to (B,T,d/2) (:103); cat with x gives
 * (B,T,3d/2) (:106); but `attention_gate` is Linear(2d→d) (:80) — the
 * matmul raises RuntimeError — and even past that, `lstm1_out * gate`
 * (:110) would broadcast (B,T,3d/2)×(B,T,d), and LightAttention(d_model)
 * (:78) would reject the 3d/2-wide input. Three independent shape
 * inconsistencies: the module was never run. A "parity" implementation
 * would have to invent semantics the reference does not define, so the
 * engine deliberately omits it and documents the defect instead.
 */
