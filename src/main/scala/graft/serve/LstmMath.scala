package graft.serve

/** What a served model family exposes to its query: the window length
  * `S`, the horizon count `P`, the UDF forward pass and its generated
  * DuckDB oracle. Serializable because the UDF closure captures the model
  * object, which a Scala object serializes as a reference to its
  * singleton.
  */
private[graft] trait ForwardModel extends Serializable {
  def S: Int
  def P: Int
  def forward(window: Seq[Double]): Seq[Double]
  def oracleSql: String
}

/** The block library of the five reimplemented U1 forward passes
  * ([[LstmForward]], [[CnnLstmForward]], [[AttentionLstmForward]],
  * [[CnnLstmAttentionForward]], [[OptimizedLstmForward]]). Each model is a
  * short composition of the blocks below, and each block exists in TWO
  * forms that compute the identical IEEE-double value: a Scala function
  * (what the UDF runs) and a SQL-text emitter (what the generated DuckDB
  * oracle runs).
  *
  * The lockstep rule, for every block:
  *  - weights are Lehmer-LCG ints quantized to k/1024 — exact dyadic
  *    doubles, emitted into the SQL as `(k/1024.0)`, so both engines
  *    compute from bit-identical constants;
  *  - GELU is the tanh approximation with a shared √(2/π) literal, and
  *    tanh itself is composed from exp on BOTH sides (the oracle engine
  *    ships no hyperbolics);
  *  - every reduction (dot products, LayerNorm mean/variance, softmax
  *    sums) is a pinned left-to-right fold, and the emitter writes the
  *    same terms in the same order;
  *  - final predictions are ROUND(·, 6)+0.0 on both sides, absorbing
  *    libm-vs-JVM exp ulps.
  *
  * An edit to either form of a block must keep the pair in lockstep, or
  * the hash-checked oracles catch it at sf0.01. Emitters take the CTE and
  * column names as parameters because each model's oracle text is pinned
  * byte for byte (`ForwardOracleTextSpec`).
  */
private[serve] object LstmMath {

  val GeluC = 0.7978845608028654 // sqrt(2/pi), shared literal
  val Eps = 1e-5                 // LayerNorm eps (PyTorch default)

  // ---- weights, in k/1024 integer units ----

  /** Dense layer, row-major `w` [dout][din] plus bias `b`. */
  final case class Lin(w: Array[Int], b: Array[Int]) {
    val dout: Int = b.length
    val din: Int = w.length / dout
  }
  /** LayerNorm params: gamma = (1024+k)/1024, beta = k/1024. */
  final case class Ln(gm: Array[Int], bt: Array[Int])
  /** One LSTM layer in the PyTorch layout, gate rows i/f/g/o. */
  final case class LstmW(wih: Array[Int], whh: Array[Int], bih: Array[Int],
      bhh: Array[Int])
  /** One multi-head attention module (in_proj q/k/v, out_proj o). */
  final case class AttnW(q: Lin, k: Lin, v: Lin, o: Lin)
  /** Output head: Linear → LayerNorm → GELU → Linear. */
  final case class Head(l1: Lin, ln: Ln, l2: Lin)

  /** One fixture-weight stream per model family: Lehmer/MINSTD LCG
    * (x ← 48271·x mod 2³¹−1) quantized to ints in [−512, 512]. Stateful —
    * each draw consumes the next n values, so a model declares its weights
    * in a fixed order, and each bundle below draws its arrays in field
    * order (for [[AttnW]]: wq, bq, wk, bk, wv, bv, wo, bo).
    */
  final class LehmerFixture(seed: Long) {
    private val Mod = 2147483647L
    private var x = seed
    def ints(n: Int): Array[Int] =
      Array.fill(n) { x = x * 48271L % Mod; ((x % 1025L) - 512L).toInt }
    def lin(dout: Int, din: Int): Lin = Lin(ints(dout * din), ints(dout))
    def ln(w: Int): Ln = Ln(ints(w), ints(w))
    def lstm(h: Int, in: Int): LstmW =
      LstmW(ints(4 * h * in), ints(4 * h * h), ints(4 * h), ints(4 * h))
    def attn(d: Int): AttnW = AttnW(lin(d, d), lin(d, d), lin(d, d), lin(d, d))
    def head(din: Int, mid: Int, dout: Int): Head =
      Head(lin(mid, din), ln(mid), lin(dout, mid))
  }

  // ---- scalar math ----

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

  @inline def d(k: Int): Double = k / 1024.0
  @inline def gd(k: Int): Double = (1024 + k) / 1024.0

  def kLit(k: Int): String = s"($k/1024.0)"
  def gmLit(k: Int): String = s"(${1024 + k}/1024.0)"
  def tanhSql(x: String): String =
    s"(1.0 - 2.0 / (exp(($x) + ($x)) + 1.0))"
  def geluSql(x: String): String =
    s"0.5 * $x * (1.0 + ${tanhSql(s"$GeluC * ($x + 0.044715 * (($x * $x) * $x))")})"
  def sigSql(x: String): String = s"(1.0 / (1.0 + exp(-($x))))"
  def reluSql(x: String): String = s"(CASE WHEN $x > 0.0 THEN $x ELSE 0.0 END)"

  /** Shortest-roundtrip double literal — DuckDB parses it back to the
    * bit-identical double, so runtime-computed constants (positional
    * encodings, constant attention queries) can ride into the oracle.
    */
  def dLit(x: Double): String = {
    val s = java.lang.Double.toString(x)
    if (s.contains("E")) s"($s)" else s
  }

  // ---- dense layer ----

  /** y = W·x + b; fold per output: bias, then ascending k. */
  def linear(x: Array[Double], l: Lin): Array[Double] =
    Array.tabulate(l.dout) { j =>
      var acc = d(l.b(j))
      var k = 0
      while (k < l.din) { acc = acc + d(l.w(j * l.din + k)) * x(k); k += 1 }
      acc
    }

  /** SQL twin of [[linear]] for output `j`, input k read from `in(k)`. */
  def linSql(l: Lin, j: Int)(in: Int => String): String = {
    val terms = new StringBuilder(kLit(l.b(j)))
    for (k <- 0 until l.din) terms ++= s" + ${kLit(l.w(j * l.din + k))} * ${in(k)}"
    s"($terms)"
  }

  // ---- LayerNorm ----

  /** LayerNorm over the parameter width w. Pinned fold order: sum
    * left-to-right, mean = sum / w, then biased variance, then
    * per-element normalize.
    */
  def layerNormW(g: Array[Double], p: Ln): Array[Double] = {
    val w = p.gm.length
    var s = 0.0
    var j = 0
    while (j < w) { s = s + g(j); j += 1 }
    val m = s / w.toDouble
    var v = 0.0
    j = 0
    while (j < w) { v = v + (g(j) - m) * (g(j) - m); j += 1 }
    val den = math.sqrt(v / w.toDouble + Eps)
    Array.tabulate(w)(j => ((g(j) - m) / den) * gd(p.gm(j)) + d(p.bt(j)))
  }

  /** SQL twin of [[layerNormW]] as three CTEs `ctes` (mean, variance,
    * normalized), one LayerNorm per group g in `gs`: inputs `in(g, j)`,
    * statistics `mu(g)`/`vr(g)`, outputs `out(g, j)`. The last CTE selects
    * `keep` plus the outputs.
    */
  def layerNormSql(p: Ln, gs: Seq[Int], in: (Int, Int) => String,
      mu: Int => String, vr: Int => String, out: (Int, Int) => String,
      ctes: Seq[String], from0: String, keep: String = "*"): String = {
    val w = p.gm.length
    val Seq(cm, cv, cn) = ctes
    val mus = gs.map(g =>
      s"(${(0 until w).map(in(g, _)).mkString(" + ")}) / ${w.toDouble} AS ${mu(g)}")
    val vrs = gs.map(g => s"(${(0 until w)
      .map(j => s"(${in(g, j)} - ${mu(g)}) * (${in(g, j)} - ${mu(g)})")
      .mkString(" + ")}) / ${w.toDouble} AS ${vr(g)}")
    val outs = for (g <- gs; j <- 0 until w) yield
      s"((${in(g, j)} - ${mu(g)}) / sqrt(${vr(g)} + $Eps)) * ${gmLit(p.gm(j))} + ${kLit(p.bt(j))} AS ${out(g, j)}"
    s",\n$cm AS (SELECT *, ${mus.mkString(", ")} FROM $from0)" +
      s",\n$cv AS (SELECT *, ${vrs.mkString(", ")} FROM $cm)" +
      s",\n$cn AS (SELECT $keep, ${outs.mkString(", ")} FROM $cv)"
  }

  /** [[layerNormSql]] over sequence columns, one group per step t:
    * CTEs `mu$tag`/`vr$tag`/`ln$tag`, outputs `${outPfx}_{t}_{j}`.
    */
  def lnSeqSql(tag: String, in: (Int, Int) => String, outPfx: String,
      p: Ln, ts: Range, from0: String, keep: String = "*"): String =
    layerNormSql(p, ts, in, t => s"mu$tag$t", t => s"vr$tag$t",
      (t, j) => s"${outPfx}_${t}_$j", Seq(s"mu$tag", s"vr$tag", s"ln$tag"),
      from0, keep)

  // ---- window front ends ----

  /** Shared window features: min-max scale + first difference, the
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

  /** The [[windowFeatureSql]] column of feature f at step t (1-based). */
  def featSql(t: Int, f: Int): String = if (f == 0) s"a$t" else s"d$t"

  /** Transformer sin/cos positional encoding at 0-based position `t`,
    * dimension `j` of a `dModel`-wide embedding (the reference's
    * PositionalEncoding).
    */
  def peVal(t: Int, j: Int, dModel: Int): Double = {
    val i = j / 2
    val div = math.exp(-(math.log(10000.0) * (2 * i) / dModel))
    if (j % 2 == 0) math.sin(t * div) else math.cos(t * div)
  }

  /** The attention families' input projection: Linear(F→d) → LayerNorm(d)
    * → GELU, then x += PE(t).
    */
  def inputProj(feats: Array[Array[Double]], l: Lin, p: Ln)
      : Array[Array[Double]] =
    Array.tabulate(feats.length) { t =>
      val ln = layerNormW(linear(feats(t), l), p)
      Array.tabulate(l.dout)(j => gelu(ln(j)) + peVal(t, j, l.dout))
    }

  /** SQL twin of [[inputProj]] over `s` steps: CTEs ip, mui/vri/lni, ix,
    * producing `x0_{t}_{j}`.
    */
  def inputProjSql(s: Int, l: Lin, p: Ln): String = {
    val ps = for (t <- 1 to s; j <- 0 until l.dout)
      yield s"${linSql(l, j)(featSql(t, _))} AS pi_${t}_$j"
    val xs = for (t <- 1 to s; j <- 0 until l.dout) yield
      s"${geluSql(s"li_${t}_$j")} + ${dLit(peVal(t - 1, j, l.dout))} AS x0_${t}_$j"
    s",\nip AS (SELECT *, ${ps.mkString(", ")} FROM f1)" +
      lnSeqSql("i", (t, j) => s"pi_${t}_$j", "li", p, 1 to s, "ip") +
      s",\nix AS (SELECT *, ${xs.mkString(", ")} FROM lni)"
  }

  /** Temporal Conv1d(F→C, kernel K, zero padding 1) + activation over
    * the steps `xs`, weights [c][f][k] (the PyTorch [C_out, C_in, K]
    * shape) → out(t)(c). Fold order pinned: bias, then input channel →
    * kernel tap ascending, zero-padded taps SKIPPED — the same terms, in
    * the same order, as [[convSql]].
    */
  def conv1d(xs: Array[Array[Double]], l: Lin, kDim: Int,
      act: Double => Double): Array[Array[Double]] = {
    val sDim = xs.length
    val fDim = l.din / kDim
    Array.tabulate(sDim) { t =>
      Array.tabulate(l.dout) { c =>
        var acc = d(l.b(c))
        var f = 0
        while (f < fDim) {
          var k = 0
          while (k < kDim) {
            val u = t - 1 + k
            if (u >= 0 && u < sDim)
              acc = acc + d(l.w(c * fDim * kDim + f * kDim + k)) * xs(u)(f)
            k += 1
          }
          f += 1
        }
        act(acc)
      }
    }
  }

  /** SQL twin of [[conv1d]]'s pre-activation for step t (1-based) and
    * channel c, input channel f at step u read from `in(u, f)`: taps at
    * u = t-1+k, emitted only when 1 <= u <= S (the zero-padding
    * convention).
    */
  def convSql(t: Int, c: Int, l: Lin, sDim: Int, kDim: Int,
      in: (Int, Int) => String): String = {
    val fDim = l.din / kDim
    val terms = new StringBuilder(kLit(l.b(c)))
    for (f <- 0 until fDim; k <- 0 until kDim) {
      val u = t - 1 + k
      if (u >= 1 && u <= sDim)
        terms ++= s" + ${kLit(l.w(c * fDim * kDim + f * kDim + k))} * ${in(u, f)}"
    }
    s"($terms)"
  }

  // ---- LSTM ----

  /** One LSTM cell step, PyTorch gate order i/f/g/o; mutates `h` and `c`
    * in place. Fold order per gate: combined bias, then W_ih·x ascending
    * k, then W_hh·h ascending k.
    */
  def lstmStep(xin: Array[Double], h: Array[Double], c: Array[Double],
      w: LstmW): Unit = {
    val hDim = h.length
    val wDim = xin.length
    val pre = Array.tabulate(4 * hDim) { j =>
      var acc = d(w.bih(j) + w.bhh(j))
      var k = 0
      while (k < wDim) { acc = acc + d(w.wih(j * wDim + k)) * xin(k); k += 1 }
      k = 0
      while (k < hDim) { acc = acc + d(w.whh(j * hDim + k)) * h(k); k += 1 }
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

  /** One LSTM layer from zero state over the steps `xs`; returns the
    * hidden state after every step (a stack is a fold over its layers).
    */
  def lstmLayer(xs: Array[Array[Double]], w: LstmW): Array[Array[Double]] = {
    val h = new Array[Double](w.bih.length / 4)
    val c = new Array[Double](h.length)
    xs.map { x => lstmStep(x, h, c, w); h.clone() }
  }

  /** One LSTM timestep as SQL CTEs (pre-activations z, gates gt, cell ct,
    * hidden st), continuing from CTE `from0`. `xRef(k)` names the step's
    * k-th input column; step 1 reads literal zeros for h/c. `pfx`
    * namespaces the CTE/column names so stacked LSTM layers coexist in
    * one query.
    */
  def lstmStepSql(t: Int, w: LstmW, xRef: Int => String, from0: String,
      pfx: String = ""): String = {
    val hDim = w.bih.length / 4
    val wDim = w.wih.length / (4 * hDim)
    val sb = new StringBuilder
    def hRef(k: Int): String = if (t == 1) "0.0" else s"h$pfx${t - 1}_$k"
    def cRef(k: Int): String = if (t == 1) "0.0" else s"c$pfx${t - 1}_$k"
    val pre = (0 until 4 * hDim).map { j =>
      val terms = new StringBuilder(kLit(w.bih(j) + w.bhh(j)))
      for (k <- 0 until wDim) terms ++= s" + ${kLit(w.wih(j * wDim + k))} * ${xRef(k)}"
      for (k <- 0 until hDim) terms ++= s" + ${kLit(w.whh(j * hDim + k))} * ${hRef(k)}"
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

  /** SQL twin of stacked [[lstmLayer]]s over steps 1..n. A lone layer
    * writes unprefixed names; stacked layers prefix theirs `a`, `b`, …,
    * and layer i reads layer i−1's hidden states `h{pfx}{t}_{k}`. Step 1
    * of the first layer continues CTE `from0` with inputs `xRef(t, k)`;
    * every later step continues the previous `st{pfx}{t−1}`.
    */
  def lstmStackSql(n: Int, layers: Seq[LstmW], xRef: (Int, Int) => String,
      from0: String): String = {
    def pfx(i: Int): String =
      if (layers.size == 1) "" else ('a' + i).toChar.toString
    layers.indices.map { i =>
      val in: (Int, Int) => String =
        if (i == 0) xRef else (t, k) => s"h${pfx(i - 1)}${t}_$k"
      (1 to n).map { t =>
        val from = if (t > 1) s"st${pfx(i)}${t - 1}"
          else if (i == 0) from0 else s"st${pfx(i - 1)}$n"
        lstmStepSql(t, layers(i), in(t, _), from, pfx(i))
      }.mkString
    }.mkString
  }

  // ---- softmax pooling and attention ----

  /** Max-subtraction softmax over the scores `s`, pooled into a
    * `width`-wide vector: out(j) = Σ_u (e_u / Σe) · v(u, j) with
    * e_u = exp(s_u − max s). Every fold runs over ascending u.
    */
  def softmaxPool(s: Array[Double], width: Int)(v: (Int, Int) => Double)
      : Array[Double] = {
    var m = s(0)
    var u = 1
    while (u < s.length) { if (s(u) > m) m = s(u); u += 1 }
    val es = s.map(x => math.exp(x - m))
    var den = 0.0
    u = 0
    while (u < es.length) { den = den + es(u); u += 1 }
    Array.tabulate(width) { j =>
      var acc = 0.0
      var u = 0
      while (u < es.length) { acc = acc + (es(u) / den) * v(u, j); u += 1 }
      acc
    }
  }

  /** One softmax of [[softmaxPoolSql]]: score columns `s(u)` over `us`,
    * its max/exp/denominator column names, and pooled columns
    * `outs(j)` = Σ_u (e(u) / den) · v(u, j).
    */
  final case class SoftmaxSql(us: Seq[Int], s: Int => String, m: String,
      e: Int => String, den: String, v: (Int, Int) => String,
      outs: Seq[String])

  /** SQL twin of [[softmaxPool]] for every group in `gs` as four CTEs
    * `ctes` (max, exp, denominator, pooled); the pooled CTE selects `keep`
    * plus the pooled columns.
    */
  def softmaxPoolSql(gs: Seq[SoftmaxSql], ctes: Seq[String], from0: String,
      keep: String = "*"): String = {
    val Seq(cm, ce, cd, cp) = ctes
    val ms = gs.map { g =>
      val ss = g.us.map(g.s)
      s"${if (ss.size == 1) ss.head else s"GREATEST(${ss.mkString(", ")})"} AS ${g.m}"
    }
    val es = for (g <- gs; u <- g.us) yield s"exp(${g.s(u)} - ${g.m}) AS ${g.e(u)}"
    val ds = gs.map(g => s"(${g.us.map(g.e).mkString(" + ")}) AS ${g.den}")
    val ps = for (g <- gs; (o, j) <- g.outs.zipWithIndex) yield
      s"(${g.us.map(u => s"(${g.e(u)} / ${g.den}) * ${g.v(u, j)}")
        .mkString(" + ")}) AS $o"
    s",\n$cm AS (SELECT *, ${ms.mkString(", ")} FROM $from0)" +
      s",\n$ce AS (SELECT *, ${es.mkString(", ")} FROM $cm)" +
      s",\n$cd AS (SELECT *, ${ds.mkString(", ")} FROM $ce)" +
      s",\n$cp AS (SELECT $keep, ${ps.mkString(", ")} FROM $cd)"
  }

  /** Multi-head attention with head_dim 1 (heads = d, so each per-head
    * q/k/v is a scalar and a score is a single product): queries from
    * `xq`, keys and values from `xkv`; with `causal`, query t sees keys
    * 0..t. Returns the out-projected vector per query.
    */
  def attention(xq: Array[Array[Double]], xkv: Array[Array[Double]],
      w: AttnW, causal: Boolean): Array[Array[Double]] = {
    val qs = xq.map(linear(_, w.q))
    val ks = xkv.map(linear(_, w.k))
    val vs = xkv.map(linear(_, w.v))
    Array.tabulate(xq.length) { t =>
      val lim = if (causal) t + 1 else xkv.length
      val heads = Array.tabulate(w.o.din) { h =>
        softmaxPool(Array.tabulate(lim)(u => qs(t)(h) * ks(u)(h)), 1)(
          (u, _) => vs(u)(h))(0)
      }
      linear(heads, w.o)
    }
  }

  /** SQL twin of [[attention]] for module `l` as CTEs qk/sc/mx/ex/dn/ao/op
    * suffixed `l`: inputs `inRef(t, k)`, query steps `tsQ`, key/value
    * steps `tsKV`, output `o{l}_{t}_{j}` in CTE `op$l`, which selects
    * `keep` plus the outputs. With `qLit`, the projected queries are
    * constants and no q projection is emitted.
    */
  def attnSql(l: Int, w: AttnW, inRef: (Int, Int) => String, tsQ: Range,
      tsKV: Range, causal: Boolean, from0: String, keep: String = "*",
      qLit: Option[(Int, Int) => String] = None): String = {
    val dm = w.o.dout
    def proj(pfx: String, p: Lin, ts: Range): Seq[String] =
      for (t <- ts; j <- 0 until dm)
        yield s"${linSql(p, j)(inRef(t, _))} AS $pfx${l}_${t}_$j"
    val qkv = (if (qLit.isEmpty) proj("q", w.q, tsQ) else Nil) ++
      proj("k", w.k, tsKV) ++ proj("v", w.v, tsKV)
    def qRef(t: Int, h: Int): String = qLit.fold(s"q${l}_${t}_$h")(_(t, h))
    def lim(t: Int): Range = if (causal) tsKV.start to t else tsKV
    val scores = for (h <- 0 until dm; t <- tsQ; u <- lim(t))
      yield s"${qRef(t, h)} * k${l}_${u}_$h AS s${l}_${h}_${t}_$u"
    val pools = for (h <- 0 until dm; t <- tsQ) yield SoftmaxSql(lim(t),
      u => s"s${l}_${h}_${t}_$u", s"m${l}_${h}_$t", u => s"e${l}_${h}_${t}_$u",
      s"den${l}_${h}_$t", (u, _) => s"v${l}_${u}_$h", Seq(s"a${l}_${h}_$t"))
    val ops = for (t <- tsQ; j <- 0 until dm)
      yield s"${linSql(w.o, j)(h => s"a${l}_${h}_$t")} AS o${l}_${t}_$j"
    s",\nqk$l AS (SELECT *, ${qkv.mkString(", ")} FROM $from0)" +
      s",\nsc$l AS (SELECT *, ${scores.mkString(", ")} FROM qk$l)" +
      softmaxPoolSql(pools, Seq(s"mx$l", s"ex$l", s"dn$l", s"ao$l"), s"sc$l") +
      s",\nop$l AS (SELECT $keep, ${ops.mkString(", ")} FROM ao$l)"
  }

  // ---- output head ----

  /** Linear → LayerNorm → GELU → Linear. */
  def head(x: Array[Double], p: Head): Array[Double] =
    linear(layerNormW(linear(x, p.l1), p.ln).map(gelu), p.l2)

  /** [[headSql]]'s names: five CTEs (linear, mean, variance, normalized,
    * GELU), then the matching column stems. The H-wide head of the
    * last-step and pooled models and the 2d-wide head of the attention
    * models were written with different names, and the oracle texts pin
    * them.
    */
  final case class HeadNames(ctes: Seq[String], cols: Seq[String])
  val HeadH = HeadNames(Seq("hq", "hm", "hv", "hl", "hr"),
    Seq("q", "qmu", "qvr", "l", "r"))
  val Head2D = HeadNames(Seq("hq1", "hmu8", "hvr8", "hl8", "hg8"),
    Seq("q1", "mu8", "vr8", "l8", "g8"))

  /** SQL twin of [[head]], once per group suffix in `gs` (`Seq("")` for
    * one head over all horizons; `_1`, `_2`, … for one head per horizon),
    * reading input k of group g from `in(g, k)`. The final CTE `hy`
    * carries (event_type, last_ts) and `y_0..`, group i's outputs
    * numbered from i·dout.
    */
  def headSql(p: Head, names: HeadNames, gs: Seq[String],
      in: (String, Int) => String, from0: String): String = {
    val Seq(cq, cm, cv, cl, cg) = names.ctes
    val Seq(q, mu, vr, l, g) = names.cols
    val mid = p.l1.dout
    val qs = for (s <- gs; j <- 0 until mid)
      yield s"${linSql(p.l1, j)(in(s, _))} AS $q${s}_$j"
    val gl = for (s <- gs; j <- 0 until mid)
      yield s"${geluSql(s"$l${s}_$j")} AS $g${s}_$j"
    val ys = for ((s, i) <- gs.zipWithIndex; j <- 0 until p.l2.dout)
      yield s"${linSql(p.l2, j)(k => s"$g${s}_$k")} AS y_${i * p.l2.dout + j}"
    s",\n$cq AS (SELECT *, ${qs.mkString(", ")} FROM $from0)" +
      layerNormSql(p.ln, gs.indices, (i, j) => s"$q${gs(i)}_$j",
        i => mu + gs(i), i => vr + gs(i), (i, j) => s"$l${gs(i)}_$j",
        Seq(cm, cv, cl), cq) +
      s",\n$cg AS (SELECT *, ${gl.mkString(", ")} FROM $cl)" +
      s",\nhy AS (SELECT event_type, last_ts, ${ys.mkString(", ")} FROM $cg)"
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
