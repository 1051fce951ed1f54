package graft

import graft.serve.{AttentionLstmForward, CnnLstmAttentionForward,
  CnnLstmForward, LstmForward, OptimizedLstmForward}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the reimplemented LSTM forward pass (U1) against values computed
  * by an independent offline implementation of the same architecture
  * (pure-python float64 loops over the identical Lehmer fixture weights,
  * op-for-op: tanh-GELU, LayerNorm eps 1e-5, PyTorch i/f/g/o gate order).
  * Tolerance 1e-9 absorbs libm-vs-JVM transcendental ulps.
  */
class LstmForwardSpec extends AnyFunSuite {

  private val Tol = 1e-9

  private def check(forward: Seq[Double] => Seq[Double], p: Int,
      window: Seq[Double], expected: Seq[Double]): Unit = {
    val got = forward(window)
    assert(got.length == p)
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) <= Tol, s"horizon ${i + 1}: got $g want $e")
    }
  }

  test("pinned outputs match the offline reference implementation") {
    check(LstmForward.forward, LstmForward.P,
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0),
      Seq(-1.1965434991233093, -0.5221256821430448, 0.4404934261725578))
    check(LstmForward.forward, LstmForward.P,
      Seq(8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0),
      Seq(-1.0858442052868695, -0.47283941522779643, 0.35737067936472844))
    check(LstmForward.forward, LstmForward.P,
      Seq(100.0, 101.5, 99.25, 102.75, 98.5, 103.0, 97.0, 104.5),
      Seq(-1.1575549645633216, -0.5215477461480299, 0.36455058289461684))
    check(LstmForward.forward, LstmForward.P,
      Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0),
      Seq(-1.1426411973585093, -0.49422731088135896, 0.40072449415938777))
    check(LstmForward.forward, LstmForward.P,
      Seq(1.0, 8.0, 2.0, 7.0, 3.0, 6.0, 4.0, 5.0),
      Seq(-1.1648536172636215, -0.5046073118227354, 0.4169965248162983))
  }

  test("the recurrence is sequence-order sensitive (a real LSTM, not a pooler)") {
    val asc = LstmForward.forward((1 to 8).map(_.toDouble))
    val desc = LstmForward.forward((8 to 1 by -1).map(_.toDouble))
    assert(asc != desc,
      "ascending and descending windows must produce different predictions")
  }

  test("scale invariance of the min-max front end") {
    // input_net sees min-max-scaled values, so an affine rescale of the
    // window (a·x + b, a > 0) leaves predictions within float noise
    val base = Seq(1.0, 4.0, 2.0, 6.0, 3.0, 8.0, 5.0, 7.0)
    val scaled = base.map(v => v * 1000.0 + 250.0)
    LstmForward.forward(base).zip(LstmForward.forward(scaled)).foreach {
      case (a, b) => assert(math.abs(a - b) <= 1e-6, s"$a vs $b")
    }
  }

  test("window length is enforced") {
    intercept[IllegalArgumentException] {
      LstmForward.forward(Seq(1.0, 2.0, 3.0))
    }
  }

  test("CNN-LSTM pinned outputs match the offline reference implementation") {
    check(CnnLstmForward.forward, CnnLstmForward.P,
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0),
      Seq(0.2826277009949086, -0.09774357809551837, 0.31556666516802834))
    check(CnnLstmForward.forward, CnnLstmForward.P,
      Seq(8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0),
      Seq(0.29189364654256933, -0.11396426983561231, 0.363404959742603))
    check(CnnLstmForward.forward, CnnLstmForward.P,
      Seq(100.0, 101.5, 99.25, 102.75, 98.5, 103.0, 97.0, 104.5),
      Seq(0.2948994370223147, -0.09388723872777428, 0.34298500675635696))
    check(CnnLstmForward.forward, CnnLstmForward.P,
      Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0),
      Seq(0.29262452484015117, -0.1317186280091034, 0.3911592680448218))
    check(CnnLstmForward.forward, CnnLstmForward.P,
      Seq(1.0, 8.0, 2.0, 7.0, 3.0, 6.0, 4.0, 5.0),
      Seq(0.2911982314805034, -0.09372559099436174, 0.3325539736830362))
  }

  test("CNN-LSTM differs from the plain LSTM on the same window " +
    "(two genuinely distinct model families)") {
    val w = (1 to 8).map(_.toDouble)
    assert(LstmForward.forward(w) != graft.serve.CnnLstmForward.forward(w))
  }

  test("LSTM-attention pinned outputs match the offline reference " +
    "implementation") {
    check(AttentionLstmForward.forward, AttentionLstmForward.P,
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0),
      Seq(-0.6074669950185156, -0.6811050170579659, -0.6620661142846668))
    check(AttentionLstmForward.forward, AttentionLstmForward.P,
      Seq(8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0),
      Seq(-0.6073418312723824, -0.6809305571661745, -0.6615487429991339))
    check(AttentionLstmForward.forward, AttentionLstmForward.P,
      Seq(100.0, 101.5, 99.25, 102.75, 98.5, 103.0, 97.0, 104.5),
      Seq(-0.6075161961312393, -0.6811577405216749, -0.6621305718061159))
    check(AttentionLstmForward.forward, AttentionLstmForward.P,
      Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0),
      Seq(-0.6073124864656682, -0.6809099633667732, -0.6616769594746866))
    check(AttentionLstmForward.forward, AttentionLstmForward.P,
      Seq(1.0, 8.0, 2.0, 7.0, 3.0, 6.0, 4.0, 5.0),
      Seq(-0.6073922216692135, -0.6809694907013158, -0.661603543859365))
  }

  test("CNN-LSTM-attention pinned outputs match the offline reference " +
    "implementation") {
    check(CnnLstmAttentionForward.forward, CnnLstmAttentionForward.P,
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0),
      Seq(0.6306143422235251, 0.22945495076000746, -0.10848473665042613))
    check(CnnLstmAttentionForward.forward, CnnLstmAttentionForward.P,
      Seq(8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0),
      Seq(0.6264832926429771, 0.2225743717045875, -0.10360863663848381))
    check(CnnLstmAttentionForward.forward, CnnLstmAttentionForward.P,
      Seq(100.0, 101.5, 99.25, 102.75, 98.5, 103.0, 97.0, 104.5),
      Seq(0.6231295531588039, 0.2106622353199845, -0.08960289455177273))
    check(CnnLstmAttentionForward.forward, CnnLstmAttentionForward.P,
      Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0),
      Seq(0.6459074576413117, 0.2755780708736641, -0.1547906338311517))
    check(CnnLstmAttentionForward.forward, CnnLstmAttentionForward.P,
      Seq(1.0, 8.0, 2.0, 7.0, 3.0, 6.0, 4.0, 5.0),
      Seq(0.6204468106434212, 0.2042881152415029, -0.08320125987658718))
  }

  test("optimize-variant pinned outputs match the offline reference " +
    "implementation") {
    check(OptimizedLstmForward.forward, OptimizedLstmForward.P,
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0),
      Seq(-0.6375929192473649, 0.16779299001858367, 0.0064880367190071064))
    check(OptimizedLstmForward.forward, OptimizedLstmForward.P,
      Seq(8.0, 7.0, 6.0, 5.0, 4.0, 3.0, 2.0, 1.0),
      Seq(-0.5904837093329887, 0.2082617708026827, -0.0103376844984443))
    check(OptimizedLstmForward.forward, OptimizedLstmForward.P,
      Seq(100.0, 101.5, 99.25, 102.75, 98.5, 103.0, 97.0, 104.5),
      Seq(-0.5471454679240628, 0.2497028121120799, -0.022394702492990748))
    check(OptimizedLstmForward.forward, OptimizedLstmForward.P,
      Seq(5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0),
      Seq(-0.5385851767483698, 0.2510354668483253, -0.02121739331449296))
    check(OptimizedLstmForward.forward, OptimizedLstmForward.P,
      Seq(1.0, 8.0, 2.0, 7.0, 3.0, 6.0, 4.0, 5.0),
      Seq(-0.5174934666606477, 0.28391870522711893, -0.02670156195030876))
  }

  test("optimize variant is sequence-order sensitive and window-checked") {
    val asc = graft.serve.OptimizedLstmForward.forward((1 to 8).map(_.toDouble))
    val desc = graft.serve.OptimizedLstmForward.forward((8 to 1 by -1).map(_.toDouble))
    assert(asc != desc)
    intercept[IllegalArgumentException] {
      graft.serve.OptimizedLstmForward.forward(Seq(1.0, 2.0))
    }
  }

  test("all five model families produce distinct predictions") {
    val w = (1 to 8).map(_.toDouble)
    val outs = Seq(LstmForward.forward(w),
      graft.serve.CnnLstmForward.forward(w),
      graft.serve.AttentionLstmForward.forward(w),
      graft.serve.CnnLstmAttentionForward.forward(w),
      graft.serve.OptimizedLstmForward.forward(w))
    assert(outs.distinct.size == 5)
  }
}
