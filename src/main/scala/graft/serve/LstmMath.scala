package graft.serve

/** Shared deterministic model math for the reimplemented U1 forward
  * passes ([[LstmForward]], [[CnnLstmForward]]) — every scalar function
  * exists in TWO forms that compute the identical IEEE-double value:
  * a Scala function (what the UDF runs) and a SQL-text emitter (what the
  * generated DuckDB oracle runs). Any edit here must keep the pair in
  * lockstep, or the hash-checked oracles catch it at sf0.01.
  */
private[serve] object LstmMath {

  val GeluC = 0.7978845608028654 // sqrt(2/pi), shared literal
  val Eps = 1e-5                 // LayerNorm eps (PyTorch default)

  /** One fixture-weight stream per model family: Lehmer/MINSTD LCG
    * (x ← 48271·x mod 2³¹−1) quantized to ints in [−512, 512] that the
    * forward passes scale to exact dyadic k/1024 doubles. Stateful —
    * each `ints(n)` call consumes the next n draws, so weight arrays
    * must be declared in a fixed order (the scheme all four *Forward
    * objects share; hoisted here so it lives once).
    */
  final class LehmerFixture(seed: Long) {
    private val Mod = 2147483647L
    private var x = seed
    def ints(n: Int): Array[Int] =
      Array.fill(n) { x = x * 48271L % Mod; ((x % 1025L) - 512L).toInt }
  }

  // ---- scalar math (Scala side) ----

  /** tanh composed from exp — NOT `math.tanh`: the oracle engine
    * (DuckDB 1.0) ships no hyperbolic functions, so both sides compute
    * the identical composition 1 − 2/(e^{2x}+1) (saturates correctly:
    * exp overflow → +1, underflow → −1; agreement is then down to exp
    * ulps, absorbed by the final ROUND).
    */
  @inline def tanhc(x: Double): Double =
    1.0 - 2.0 / (math.exp(x + x) + 1.0)

  /** tanh-approximation GELU (PyTorch `approximate='tanh'` — the erf
    * form has no portable SQL twin).
    */
  @inline def gelu(x: Double): Double =
    0.5 * x * (1.0 + tanhc(GeluC * (x + 0.044715 * ((x * x) * x))))

  @inline def sigmoid(x: Double): Double =
    1.0 / (1.0 + math.exp(-x))

  /** ReLU with an explicit compare (not max): `CASE WHEN x > 0` in SQL
    * and `if (x > 0.0)` here are the same branch on the same double.
    */
  @inline def relu(x: Double): Double = if (x > 0.0) x else 0.0

  /** LayerNorm over width-4 vectors with k/1024 integer-unit params
    * (gamma = (1024+k)/1024). Pinned fold order: sum left-to-right,
    * then biased variance, then per-element normalize.
    */
  def layerNorm4(g: Array[Double], gmk: Array[Int],
      btk: Array[Int]): Array[Double] = {
    var s = 0.0
    var j = 0
    while (j < 4) { s = s + g(j); j += 1 }
    val m = s / 4.0
    var v = 0.0
    j = 0
    while (j < 4) { v = v + (g(j) - m) * (g(j) - m); j += 1 }
    val den = math.sqrt(v / 4.0 + Eps)
    Array.tabulate(4)(j => ((g(j) - m) / den) * gd(gmk(j)) + d(btk(j)))
  }

  @inline def d(k: Int): Double = k / 1024.0
  @inline def gd(k: Int): Double = (1024 + k) / 1024.0

  /** Width-parametric LayerNorm (same fold discipline as [[layerNorm4]];
    * needed for the attention head's LayerNorm(2d)).
    */
  def layerNormW(g: Array[Double], gmk: Array[Int], btk: Array[Int],
      w: Int): Array[Double] = {
    var s = 0.0
    var j = 0
    while (j < w) { s = s + g(j); j += 1 }
    val m = s / w.toDouble
    var v = 0.0
    j = 0
    while (j < w) { v = v + (g(j) - m) * (g(j) - m); j += 1 }
    val den = math.sqrt(v / w.toDouble + Eps)
    Array.tabulate(w)(j => ((g(j) - m) / den) * gd(gmk(j)) + d(btk(j)))
  }

  /** Dense layer y = W·x + b with k/1024 integer weights, row-major
    * [dout][din], pinned ascending-k fold.
    */
  def linear(x: Array[Double], wk: Array[Int], bk: Array[Int],
      dout: Int, din: Int): Array[Double] =
    Array.tabulate(dout) { j =>
      var acc = d(bk(j))
      var k = 0
      while (k < din) { acc = acc + d(wk(j * din + k)) * x(k); k += 1 }
      acc
    }

  /** Shortest-roundtrip double literal — DuckDB parses it back to the
    * bit-identical double, so runtime-computed constants (positional
    * encodings, constant attention queries) can ride into the oracle.
    */
  def dLit(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E")) s"($s)" else s
  }

  /** One LSTM cell step over hidden width H and input width W, PyTorch
    * gate order i/f/g/o; mutates `h` and `c` in place. Fold order per
    * gate: combined bias, then W_ih·x ascending k, then W_hh·h
    * ascending k.
    */
  def lstmStep(xin: Array[Double], h: Array[Double], c: Array[Double],
      hDim: Int, wih: Array[Int], whh: Array[Int], bih: Array[Int],
      bhh: Array[Int]): Unit = {
    val wDim = xin.length
    val pre = Array.tabulate(4 * hDim) { j =>
      var acc = d(bih(j) + bhh(j))
      var k = 0
      while (k < wDim) { acc = acc + d(wih(j * wDim + k)) * xin(k); k += 1 }
      k = 0
      while (k < hDim) { acc = acc + d(whh(j * hDim + k)) * h(k); k += 1 }
      acc
    }
    var j = 0
    while (j < hDim) {
      val ig = sigmoid(pre(j))
      val fg = sigmoid(pre(hDim + j))
      val gg = tanhc(pre(2 * hDim + j))
      val og = sigmoid(pre(3 * hDim + j))
      c(j) = fg * c(j) + ig * gg
      h(j) = og * tanhc(c(j))
      j += 1
    }
  }

  // ---- SQL emitters (oracle side) ----

  def kLit(k: Int): String = s"($k/1024.0)"
  def gmLit(k: Int): String = s"(${1024 + k}/1024.0)"
  def tanhSql(x: String): String =
    s"(1.0 - 2.0 / (exp(($x) + ($x)) + 1.0))"
  def geluSql(x: String): String =
    s"0.5 * $x * (1.0 + ${tanhSql(s"$GeluC * ($x + 0.044715 * (($x * $x) * $x))")})"
  def sigSql(x: String): String = s"(1.0 / (1.0 + exp(-($x))))"
  def reluSql(x: String): String = s"(CASE WHEN $x > 0.0 THEN $x ELSE 0.0 END)"

  /** One LSTM timestep as SQL CTEs (pre-activations z, gates gt, cell ct,
    * hidden st), continuing from CTE `from0`. `xRef(k)` names the step's
    * k-th input column; step 1 reads literal zeros for h/c. `pfx`
    * namespaces the CTE/column names so stacked LSTM layers coexist in
    * one query.
    */
  def lstmStepSql(t: Int, hDim: Int, wDim: Int, xRef: Int => String,
      wih: Array[Int], whh: Array[Int], bih: Array[Int], bhh: Array[Int],
      from0: String, pfx: String = ""): String = {
    val sb = new StringBuilder
    def hRef(k: Int): String = if (t == 1) "0.0" else s"h$pfx${t - 1}_$k"
    def cRef(k: Int): String = if (t == 1) "0.0" else s"c$pfx${t - 1}_$k"
    val pre = (0 until 4 * hDim).map { j =>
      val terms = new StringBuilder(kLit(bih(j) + bhh(j)))
      for (k <- 0 until wDim) terms ++= s" + ${kLit(wih(j * wDim + k))} * ${xRef(k)}"
      for (k <- 0 until hDim) terms ++= s" + ${kLit(whh(j * hDim + k))} * ${hRef(k)}"
      s"($terms) AS z$pfx${t}_$j"
    }
    sb ++= s",\nz$pfx$t AS (SELECT *, ${pre.mkString(", ")} FROM $from0)"
    val gates = (0 until hDim).flatMap { j =>
      Seq(s"${sigSql(s"z$pfx${t}_$j")} AS i$pfx${t}_$j",
        s"${sigSql(s"z$pfx${t}_${hDim + j}")} AS f$pfx${t}_$j",
        s"${tanhSql(s"z$pfx${t}_${2 * hDim + j}")} AS cg$pfx${t}_$j",
        s"${sigSql(s"z$pfx${t}_${3 * hDim + j}")} AS o$pfx${t}_$j")
    }
    sb ++= s",\ngt$pfx$t AS (SELECT *, ${gates.mkString(", ")} FROM z$pfx$t)"
    val cs = (0 until hDim).map(j =>
      s"f$pfx${t}_$j * ${cRef(j)} + i$pfx${t}_$j * cg$pfx${t}_$j AS c$pfx${t}_$j")
    sb ++= s",\nct$pfx$t AS (SELECT *, ${cs.mkString(", ")} FROM gt$pfx$t)"
    val hs = (0 until hDim).map(j =>
      s"o$pfx${t}_$j * ${tanhSql(s"c$pfx${t}_$j")} AS h$pfx${t}_$j")
    sb ++= s",\nst$pfx$t AS (SELECT *, ${hs.mkString(", ")} FROM ct$pfx$t)"
    sb.toString
  }

  /** LayerNorm over width-4 sequence columns as three CTEs (mu, vr, out),
    * pruned to `keep` + the normalized columns when `prune` is set.
    * Shared by the attention-family oracles ([[AttentionLstmForward]],
    * [[OptimizedLstmForward]]); emits `${outPfx}_{t}_{j}` in CTE
    * `ln$tag`, replaying [[layerNormW]]'s fold exactly.
    */
  def lnSeqSql(tag: String, inRef: (Int, Int) => String,
      outPfx: String, gmk: Array[Int], btk: Array[Int], ts: Range,
      from0: String, prune: Option[String]): String = {
    val D = 4
    val sb = new StringBuilder
    val mus = ts.map(t => s"(${(0 until D).map(j => inRef(t, j))
      .mkString(" + ")}) / 4.0 AS mu$tag$t")
    sb ++= s",\nmu$tag AS (SELECT *, ${mus.mkString(", ")} FROM $from0)"
    val vrs = ts.map(t => s"(${(0 until D)
      .map(j => s"(${inRef(t, j)} - mu$tag$t) * (${inRef(t, j)} - mu$tag$t)")
      .mkString(" + ")}) / 4.0 AS vr$tag$t")
    sb ++= s",\nvr$tag AS (SELECT *, ${vrs.mkString(", ")} FROM mu$tag)"
    val outs = for (t <- ts; j <- 0 until D) yield
      s"((${inRef(t, j)} - mu$tag$t) / sqrt(vr$tag$t + $Eps)) * ${gmLit(gmk(j))} + ${kLit(btk(j))} AS ${outPfx}_${t}_$j"
    val sel = prune match {
      case Some(keep) => s"SELECT $keep, ${outs.mkString(", ")}"
      case None => s"SELECT *, ${outs.mkString(", ")}"
    }
    sb ++= s",\nln$tag AS ($sel FROM vr$tag)"
    sb.toString
  }

  /** The shared output head (Linear H→H, LayerNorm, GELU, Linear H→P)
    * as SQL CTEs over the hidden-state columns named by `hRef`, from CTE
    * `from0`, producing `y_0..y_{P-1}` in CTE `hy` alongside `keyCols`.
    */
  def headSql(hDim: Int, pDim: Int, hRef: Int => String, w2: Array[Int],
      b2: Array[Int], gm2: Array[Int], bt2: Array[Int], w3: Array[Int],
      b3: Array[Int], keyCols: String, from0: String): String = {
    val sb = new StringBuilder
    val q = (0 until hDim).map { j =>
      val terms = new StringBuilder(kLit(b2(j)))
      for (k <- 0 until hDim) terms ++= s" + ${kLit(w2(j * hDim + k))} * ${hRef(k)}"
      s"($terms) AS q_$j"
    }
    sb ++= s",\nhq AS (SELECT *, ${q.mkString(", ")} FROM $from0)"
    sb ++= s",\nhm AS (SELECT *, (${(0 until hDim).map(j => s"q_$j")
      .mkString(" + ")}) / 4.0 AS qmu FROM hq)"
    sb ++= s",\nhv AS (SELECT *, (${(0 until hDim)
      .map(j => s"(q_$j - qmu) * (q_$j - qmu)").mkString(" + ")}) / 4.0 AS qvr FROM hm)"
    val ln = (0 until hDim).map { j =>
      s"((q_$j - qmu) / sqrt(qvr + $Eps)) * ${gmLit(gm2(j))} + ${kLit(bt2(j))} AS l_$j"
    }
    sb ++= s",\nhl AS (SELECT *, ${ln.mkString(", ")} FROM hv)"
    val r = (0 until hDim).map(j => s"${geluSql(s"l_$j")} AS r_$j")
    sb ++= s",\nhr AS (SELECT *, ${r.mkString(", ")} FROM hl)"
    val y = (0 until pDim).map { j =>
      val terms = new StringBuilder(kLit(b3(j)))
      for (k <- 0 until hDim) terms ++= s" + ${kLit(w3(j * hDim + k))} * r_$k"
      s"($terms) AS y_$j"
    }
    sb ++= s",\nhy AS (SELECT $keyCols, ${y.mkString(", ")} FROM hr)"
    sb.toString
  }

  /** Scala twin of [[headSql]]. */
  def headForward(h: Array[Double], hDim: Int, pDim: Int, w2: Array[Int],
      b2: Array[Int], gm2: Array[Int], bt2: Array[Int], w3: Array[Int],
      b3: Array[Int]): Seq[Double] = {
    val q = Array.tabulate(hDim) { j =>
      var acc = d(b2(j))
      var k = 0
      while (k < hDim) { acc = acc + d(w2(j * hDim + k)) * h(k); k += 1 }
      acc
    }
    val r = layerNorm4(q, gm2, bt2).map(gelu)
    Array.tabulate(pDim) { j =>
      var acc = d(b3(j))
      var k = 0
      while (k < hDim) { acc = acc + d(w3(j * hDim + k)) * r(k); k += 1 }
      acc
    }.toSeq
  }

  /** Shared window front end: min-max scale + first difference, the
    * (a_t, d_t) feature pair per step. Scala twin of the a/d CTEs.
    */
  def scaledFeatures(window: Array[Double]): Array[Array[Double]] = {
    val n = window.length
    var vmin = window(0); var vmax = window(0)
    var t = 1
    while (t < n) {
      if (window(t) < vmin) vmin = window(t)
      if (window(t) > vmax) vmax = window(t)
      t += 1
    }
    val a = Array.tabulate(n)(t => (window(t) - vmin) / ((vmax - vmin) + 1e-9))
    Array.tabulate(n)(t => Array(a(t), if (t == 0) 0.0 else a(t) - a(t - 1)))
  }

  /** SQL twin of [[scaledFeatures]] over the `events` latest-window CTEs:
    * emits s/tl/r0/r1/f0/f1 producing `a1..aS` and `d1..dS` plus
    * (event_type, last_ts).
    */
  def windowFeatureSql(s: Int): String =
    s"""WITH s AS (SELECT event_type, MAX(ts) AS last_ts,
       |    list(value ORDER BY ts, event_id) AS vs
       |  FROM events GROUP BY 1),
       |tl AS (SELECT event_type, last_ts, vs[len(vs)-${s - 1}:] AS tail
       |  FROM s WHERE len(vs) >= $s),
       |r0 AS (SELECT event_type, last_ts, ${(1 to s)
          .map(t => s"tail[$t] AS v$t").mkString(", ")} FROM tl),
       |r1 AS (SELECT *, LEAST(${(1 to s).map("v" + _).mkString(", ")}) AS vmin,
       |  GREATEST(${(1 to s).map("v" + _).mkString(", ")}) AS vmax FROM r0),
       |f0 AS (SELECT event_type, last_ts, ${(1 to s)
          .map(t => s"(v$t - vmin) / ((vmax - vmin) + 1e-9) AS a$t")
          .mkString(", ")} FROM r1),
       |f1 AS (SELECT *, 0.0 AS d1, ${(2 to s)
          .map(t => s"a$t - a${t - 1} AS d$t").mkString(", ")} FROM f0)""".stripMargin

  /** The CNN front end: temporal Conv1d(F→C, kernel K, padding 1) + ReLU
    * over the scaled feature steps, conv weights [c][f][k] (the PyTorch
    * [C_out, C_in, K] shape) → out(t)(c). Fold order pinned: bias, then
    * feature → kernel tap ascending, zero-padded taps SKIPPED — the same
    * terms, in the same order, as [[convSql]].
    */
  def convRelu(feats: Array[Array[Double]], wcvk: Array[Int],
      bcvk: Array[Int], cDim: Int, fDim: Int, kDim: Int): Array[Array[Double]] = {
    val sDim = feats.length
    Array.tabulate(sDim) { t =>
      Array.tabulate(cDim) { c =>
        var acc = d(bcvk(c))
        var f = 0
        while (f < fDim) {
          var k = 0
          while (k < kDim) {
            val u = t - 1 + k
            if (u >= 0 && u < sDim)
              acc = acc + d(wcvk(c * fDim * kDim + f * kDim + k)) * feats(u)(f)
            k += 1
          }
          f += 1
        }
        relu(acc)
      }
    }
  }

  /** SQL twin of [[convRelu]]'s pre-activation for step t (1-based) and
    * channel c over the [[windowFeatureSql]] columns: taps at u = t-1+k,
    * emitted only when 1 <= u <= S (the zero-padding convention).
    */
  def convSql(t: Int, c: Int, wcvk: Array[Int], bcvk: Array[Int],
      sDim: Int, fDim: Int, kDim: Int): String = {
    val terms = new StringBuilder(kLit(bcvk(c)))
    for (f <- 0 until fDim; k <- 0 until kDim) {
      val u = t - 1 + k
      if (u >= 1 && u <= sDim) {
        val colRef = if (f == 0) s"a$u" else s"d$u"
        terms ++= s" + ${kLit(wcvk(c * fDim * kDim + f * kDim + k))} * $colRef"
      }
    }
    s"($terms)"
  }

  /** Final fan-out: one row per horizon with target ts and the rounded
    * prediction, from CTE `hy`.
    */
  def horizonSelectSql(pDim: Int): String =
    s"""\nSELECT event_type, hz.horizon,
       |  last_ts + hz.horizon * INTERVAL 300 SECOND AS target_ts,
       |  ROUND(CASE hz.horizon ${(1 to pDim)
          .map(j => s"WHEN $j THEN y_${j - 1}").mkString(" ")}
       |    END, 6) + 0.0 AS prediction
       |FROM hy, (SELECT unnest(range(1, ${pDim + 1})) AS horizon) hz
       |ORDER BY event_type, hz.horizon""".stripMargin
}
