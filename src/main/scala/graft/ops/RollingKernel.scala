package graft.ops

/** Trailing-frame aggregates with the arithmetic of Spark's own window
  * evaluation, shared by [[OrderedRolling]] and
  * [[graft.ts.FeatureFrame.enhance]].
  *
  * Spark's `SlidingWindowFunctionFrame` re-initializes the aggregate and
  * re-accumulates the whole frame in partition order for every output
  * row. Each kernel here does the same: one pass over the frame's `len`
  * slots, oldest first, read through `at(j)`, with the aggregate's update
  * arithmetic verbatim — `Average`'s sum/count, `CentralMomentAgg`'s
  * Welford recurrence, `Covariance`'s co-moment recurrence, `Sum`'s
  * null-seeded running sum. Every result is bit-equal to the window
  * function's (OrderedRollingSpec and FeatureFrameSpec pin this).
  *
  * A slot holds a boxed Double or null; a null occupies its slot but does
  * not contribute, exactly like the window aggregates. Results are a boxed
  * Double or null.
  */
object RollingKernel {

  /** `avg`: null when no slot is non-null. */
  def avg(len: Int, at: Int => Any): Any = {
    var sum = 0.0; var cnt = 0L; var j = 0
    while (j < len) {
      val v = at(j)
      if (v != null) { sum += v.asInstanceOf[Double]; cnt += 1L }
      j += 1
    }
    if (cnt == 0L) null else sum / cnt
  }

  /** `sum`: null when no slot is non-null. */
  def sum(len: Int, at: Int => Any): Any = {
    var sum = 0.0; var any = false; var j = 0
    while (j < len) {
      val v = at(j)
      if (v != null) { sum += v.asInstanceOf[Double]; any = true }
      j += 1
    }
    if (!any) null else sum
  }

  /** `stddev_samp`, by CentralMomentAgg's recurrence: n' = n+1;
    * delta = x - avg; deltaN = delta / n'; avg' = avg + deltaN;
    * m2' = m2 + delta * (delta - deltaN). Null for fewer than two values
    * (StddevSamp's nullOnDivideByZero default).
    */
  def stddevSamp(len: Int, at: Int => Any): Any = {
    var n = 0.0; var avg = 0.0; var m2 = 0.0; var j = 0
    while (j < len) {
      val v = at(j)
      if (v != null) {
        val x = v.asInstanceOf[Double]
        n += 1.0
        val delta = x - avg
        val deltaN = delta / n
        avg += deltaN
        m2 += delta * (delta - deltaN)
      }
      j += 1
    }
    if (n <= 1.0) null else math.sqrt(m2 / (n - 1.0))
  }

  /** `covar_samp`, by Covariance's recurrence: n' = n+1; dx = x - xAvg;
    * dy = y - yAvg; xAvg' = xAvg + dx/n'; yAvg' = yAvg + dy/n';
    * ck' = ck + dx * (y - yAvg'). A pair with a null on either side is
    * skipped whole; null for fewer than two pairs.
    */
  def covarSamp(len: Int, atX: Int => Any, atY: Int => Any): Any = {
    var n = 0.0; var xAvg = 0.0; var yAvg = 0.0; var ck = 0.0; var j = 0
    while (j < len) {
      val vx = atX(j); val vy = atY(j)
      if (vx != null && vy != null) {
        val x = vx.asInstanceOf[Double]
        val y = vy.asInstanceOf[Double]
        n += 1.0
        val dx = x - xAvg
        val dy = y - yAvg
        xAvg += dx / n
        yAvg += dy / n
        ck += dx * (y - yAvg)
      }
      j += 1
    }
    if (n <= 1.0) null else ck / (n - 1.0)
  }
}
