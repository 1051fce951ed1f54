package graft.serve

import LstmMath._
import org.scalatest.funsuite.AnyFunSuite

/** The block library's LayerNorm is width-generic on both sides: the
  * Scala fold and the SQL emitter both divide by the parameter width, so
  * a block wider than the width-4 fixtures (the attention heads'
  * LayerNorm(2d)) normalizes over all of its columns.
  */
class LayerNormWidthSpec extends AnyFunSuite {

  private val zeros8 = Ln(Array.fill(8)(0), Array.fill(8)(0))

  test("layerNormW at width 8 with zero params gives mean 0 and variance 1") {
    // a spread of ~2300 makes eps / variance ~ 2e-12, so the biased
    // variance of the output is 1 to well inside the tolerance
    val out = layerNormW(Array.tabulate(8)(j => 1000.0 * (j + 1) + j * j), zeros8)
    assert(out.length == 8)
    val mean = out.sum / 8
    val variance = out.map(x => (x - mean) * (x - mean)).sum / 8
    assert(math.abs(mean) <= 1e-9, s"mean $mean")
    assert(math.abs(variance - 1.0) <= 1e-9, s"variance $variance")
  }

  test("the LayerNorm emitter at width 8 divides by 8.0, never by 4.0") {
    val sql = lnSeqSql("t", (t, j) => s"x_${t}_$j", "y", zeros8, 1 to 2,
      "src")
    assert(sql.contains("/ 8.0"))
    assert(!sql.contains("/ 4.0"))
    assert((0 until 8).forall(j => sql.contains(s"y_2_$j")))
  }
}
