package graft

import graft.ops.OrderedLag
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r15 build-stage memos (TiledScan layout/Prep, quality-filter
  * fit): repeat executions inside one CacheScope are byte-identical to
  * the first, the memo tier grows while the scope is live and is FULLY
  * evicted by [[CacheScope.release]] (the ChurnProbe boundedness
  * invariant), and a rebuilt entry after release still reproduces the
  * same results — eviction is a recompute, never a wrong answer.
  */
class OpMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Seq[String] = {
    val fn = SparkEntry.queries(name)
    fn(spark, dir).collect().map(_.toString).toSeq
  }

  test("ordered-scan family: memoized repeat + post-release rebuild are identical") {
    CacheScope.release(spark)
    val base = CacheScope.memoCount
    val a1 = run("q_w4_rolling_zscore")
    val entriesLive = CacheScope.memoCount
    assert(entriesLive > base, "a TiledScan prepare must populate the memo tier")
    val a2 = run("q_w4_rolling_zscore") // memo hit (bench min-of-2 path)
    assert(a1 === a2)
    // a second family member tiling the SAME frame/order shares the layout
    // entry: the ranged-frame memo must not grow by another layout
    val b1 = run("q_w2_ma_ratio")
    CacheScope.release(spark)
    assert(CacheScope.memoCount === base,
      "release must evict every TiledScan memo entry")
    val a3 = run("q_w4_rolling_zscore") // rebuild after eviction
    assert(a1 === a3, "post-release rebuild must reproduce the results")
    val b2 = run("q_w2_ma_ratio")
    assert(b1 === b2)
    CacheScope.release(spark)
  }

  test("ordered scans keyed [a] by [b] and keyed [a,b] get distinct " +
      "layouts, each equal to its window formulation") {
    // Both specs sort on (a, b) over the same frame and tile count, but
    // index keys differently: one shared layout entry would hand the
    // second scan the first one's key columns, so its lag would cross
    // (a, b) group boundaries instead of being null.
    import spark.implicits._
    CacheScope.release(spark)
    val df = (0 until 400).map(i => (s"k${i % 3}", i.toLong, i * 0.5))
      .toDF("a", "b", "v")
    def scan(keys: Seq[String], order: Seq[org.apache.spark.sql.Column]) =
      OrderedLag.withLags(df, keys, order, "v", Seq("l1" -> 1),
        nPartsOpt = Some(4)).orderBy("a", "b").collect().toSeq
    def window(keys: Seq[String]) =
      df.withColumn("l1", lag(col("v"), 1).over(
          Window.partitionBy(keys.map(col): _*).orderBy(col("b"))))
        .orderBy("a", "b").collect().toSeq
    val byB = scan(Seq("a"), Seq(col("b")))
    assert(CacheScope.memoCount(spark) === 2, "one layout + one prep entry")
    val byAB = scan(Seq("a", "b"), Seq.empty)
    assert(CacheScope.memoCount(spark) === 4,
      "the second key split must get its own layout and prep entries")
    assert(byB === window(Seq("a")))
    assert(byAB === window(Seq("a", "b")))
    assert(byAB.forall(_.isNullAt(3)), "one row per (a, b) group: no lag")
    CacheScope.release(spark)
    assert(CacheScope.memoCount(spark) === 0)
  }

  test("quality-filter fit memo: one fit serves fit/apply/calibration, release evicts") {
    CacheScope.release(spark)
    val base = CacheScope.memoCount
    val fit1 = run("q_t_quality_filter_fit")
    val apply1 = run("q_t_quality_filter_apply")
    val cal1 = run("q_t_quality_filter_calibration")
    assert(CacheScope.memoCount > base)
    CacheScope.release(spark)
    assert(CacheScope.memoCount === base,
      "release must evict the qf fit memo")
    // rebuilt fit (apply first — any consumer may arrive first) matches
    val apply2 = run("q_t_quality_filter_apply")
    val fit2 = run("q_t_quality_filter_fit")
    val cal2 = run("q_t_quality_filter_calibration")
    assert(fit1 === fit2)
    assert(apply1 === apply2)
    assert(cal1 === cal2)
    CacheScope.release(spark)
  }
}
