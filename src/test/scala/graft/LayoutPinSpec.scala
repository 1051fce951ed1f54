package graft

import graft.ops.{OrderedLag, OrderedNtile, OrderedRolling, PrefixSum}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Layout pinning by construction (VERDICT r13 watch-item #1 → r14 #1):
  * every pid-keyed two-job operator (the TiledScan family, OrderedNtile,
  * PrefixSum) must stay BIT-EQUAL to its window formulation when its
  * retained cache is evicted BETWEEN the driver-side collect job and the
  * main pass — the exact mid-operator gap where the r13i race re-planned
  * the range shuffle with freshly sampled bounds under a stale carry map.
  *
  * Three eviction routes are pinned, all previously able to reproduce the
  * race regardless of the r13 refcount fix (which only defended
  * cross-session CacheScope.release):
  *  - `spark.catalog.clearCache()` (global, any future code can call it),
  *  - `CacheScope.release` of the operator's OWN session mid-operator
  *    (a consumer releasing early — the direct-unpersist route),
  *  - both at once on a composed end-to-end query (q_w_rolling_corr, the
  *    query that caught r13i).
  *
  * The construction that makes these pass: both jobs hang off ONE
  * memoized `Dataset.rdd` instance whose plan froze the shuffle's sampled
  * range bounds, so eviction degrades to a recompute of the SAME layout
  * (TiledScan's layout-pinning doc).
  */
class LayoutPinSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  /** Skewed low-cardinality frame: keys span many tiles, so a shifted
    * tile boundary WOULD corrupt carry rows if the layout re-sampled.
    */
  private def frame(n: Int, nKeys: Int) = {
    val rnd = new scala.util.Random(n * 17 + nKeys)
    (0 until n).map { i =>
      (s"k${rnd.nextInt(nKeys)}", i.toLong, rnd.nextDouble() * 100)
    }.toDF("key", "seq", "value")
  }

  private def evict(route: String): Unit = route match {
    case "clearCache" => spark.catalog.clearCache()
    case "release"    => CacheScope.release(spark)
  }

  for (route <- Seq("clearCache", "release")) {

    test(s"OrderedLag holds window parity with $route between carry and main pass") {
      val df = frame(4000, 3)
      val w = Window.partitionBy("key").orderBy(col("seq"))
      val expected = df
        .withColumn("l1", lag(col("value"), 1).over(w))
        .withColumn("l7", lag(col("value"), 7).over(w))
        .orderBy("key", "seq").collect().toSeq
      // builder runs the tails job eagerly; the returned frame is lazy
      val out = OrderedLag.withLags(df, Seq("key"), Seq(col("seq")),
        "value", Seq("l1" -> 1, "l7" -> 7), nPartsOpt = Some(16))
      evict(route)   // mid-operator: carry collected, main pass not yet run
      val got = out.orderBy("key", "seq").collect().toSeq
      CacheScope.release(spark)
      assert(got == expected)
    }

    test(s"OrderedRolling holds window parity with $route between carry and main pass") {
      val df = frame(3000, 2)
      val w = Window.partitionBy("key").orderBy(col("seq"))
        .rowsBetween(-9, 0)
      val expected = df
        .withColumn("m", avg(col("value")).over(w))
        .withColumn("s", stddev_samp(col("value")).over(w))
        .orderBy("key", "seq").collect().toSeq
      val out = OrderedRolling.withRollups(df, Seq("key"), Seq(col("seq")),
        Seq(OrderedRolling.Roll("m", "avg", 10, "value"),
          OrderedRolling.Roll("s", "stddev_samp", 10, "value")),
        nPartsOpt = Some(16))
      evict(route)
      val got = out.orderBy("key", "seq").collect().toSeq
      CacheScope.release(spark)
      assert(got == expected)
    }

    test(s"OrderedNtile holds window parity with $route between counts and binning pass") {
      val df = frame(2500, 4)
      val w = Window.partitionBy("key").orderBy(col("seq"))
      val expected = df.withColumn("bin", ntile(7).over(w))
        .orderBy("key", "seq").collect().toSeq
      val out = OrderedNtile.withNtile(df, Seq("key"), Seq(col("seq")),
        buckets = 7, binCol = "bin", nPartsOpt = Some(16))
      evict(route)
      val got = out.orderBy("key", "seq").collect().toSeq
      CacheScope.release(spark)
      assert(got == expected)
    }

    test(s"PrefixSum holds window parity with $route between totals and offset pass") {
      val rnd = new scala.util.Random(42)
      // mixed-sign decimals: a resampled layout that regrouped tiles
      // would shift offsets and corrupt interior cells, not just tails
      val df = (0 until 2000).map { i =>
        (i.toLong, BigDecimal((rnd.nextInt(2001) - 1000) / 100.0)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP))
      }.toDF("id", "v")
        .select(col("id"), col("v").cast(DecimalType(20, 2)).as("v"))
      val w = Window.orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val expected = df
        .withColumn("cum", sum(col("v")).over(w)
          .cast(DecimalType(38, 2)))
        .orderBy("id").collect().toSeq
      val (out, total) = PrefixSum.runningDecimalSum(
        df, "v", "cum", Seq(col("id")), nPartsOpt = Some(16))
      evict(route)
      val got = out.orderBy("id").collect().toSeq
      CacheScope.release(spark)
      assert(got == expected)
      val want = expected.last.getDecimal(2)
      assert(total.compareTo(want) == 0, s"grand total $total != $want")
    }
  }

  test("q_w_rolling_corr (the query that caught r13i) survives clearCache + release mid-build") {
    val sf = "/root/testdata/sf0.001"
    val baseline = ResultFingerprint(
      SparkEntry.queries("q_w_rolling_corr")(spark, sf))
    CacheScope.release(spark)
    val df = SparkEntry.queries("q_w_rolling_corr")(spark, sf)
    // the builder has run its carry jobs by now; nuke every cache AND
    // release the scope before the consuming action
    spark.catalog.clearCache()
    CacheScope.release(spark)
    val got = ResultFingerprint(df)
    CacheScope.release(spark)
    assert(got == baseline,
      "rolling-corr fingerprint drifted across a mid-build eviction")
  }
}
