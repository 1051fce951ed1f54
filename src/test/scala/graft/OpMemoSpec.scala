package graft

import graft.ops.{OrderedLag, OrderedNtile, PrefixSum}
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

  test("two withNtile calls on one frame share one layout entry; the " +
      "second runs no range-sample job") {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerStageSubmitted}
    CacheScope.release(spark)
    // 3 input partitions against 8 tiles: a stage of 3 tasks scans the
    // input — the range partitioner's sampling job or the shuffle that
    // builds the layout; a reused layout runs neither
    val df = spark.range(0, 600, 1, 3)
      .selectExpr("concat('k', id % 4) AS key", "id AS seq")
    val group = "opmemo-ntile"
    val inputStages = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == group) &&
            e.stageInfo.numTasks == 3)
          inputStages.incrementAndGet()
    }
    val sc = spark.sparkContext
    // the listener bus is asynchronous: drain it before reading the count
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    // build + consume one call; returns its rows and its input scans
    def bins(buckets: Int): (Seq[String], Int) = {
      drain(); inputStages.set(0)
      sc.setJobGroup(group, "ntile")
      val rows = try OrderedNtile.withNtile(df, Seq("key"), Seq(col("seq")),
          buckets, "bin", nPartsOpt = Some(8)).collect().map(_.toString).toSeq
        finally sc.clearJobGroup()
      drain()
      (rows.sorted, inputStages.get)
    }
    def window(buckets: Int) = df.withColumn("bin", ntile(buckets).over(
        Window.partitionBy("key").orderBy(col("seq"))))
      .collect().map(_.toString).toSeq.sorted
    sc.addSparkListener(listener)
    val ((first, firstScans), (second, secondScans)) =
      try (bins(4), bins(7)) finally sc.removeSparkListener(listener)
    assert(firstScans >= 2, "the first call samples and shuffles the input")
    assert(secondScans === 0, "the second call must reuse the layout")
    assert(CacheScope.memoCount(spark) === 1, "one layout entry for both")
    assert(first === window(4))
    assert(second === window(7))
    CacheScope.release(spark)
    assert(CacheScope.memoCount(spark) === 0)
  }

  test("runningDecimalSum's layout entry is evicted by release") {
    import spark.implicits._
    CacheScope.release(spark)
    val base = CacheScope.memoCount
    val df = (1 to 50).map(i => (i.toLong, BigDecimal(i) / 4)).toDF("k", "v")
      .selectExpr("k", "CAST(v AS DECIMAL(12, 2)) AS v")
    val (cum, total) = PrefixSum.runningDecimalSum(df, "v", "cum",
      Seq(col("k")), nPartsOpt = Some(4))
    assert(CacheScope.memoCount === base + 1, "one layout entry")
    assert(cum.count() === 50)
    assert(total.compareTo(new java.math.BigDecimal("318.75")) === 0)
    CacheScope.release(spark)
    assert(CacheScope.memoCount === base,
      "release must evict the prefix sum's layout entry")
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
