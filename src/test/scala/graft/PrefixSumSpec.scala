package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** ops/PrefixSum: the distributed running total must be BIT-EQUAL to the
  * zero-partition window it replaces, on adversarial inputs — duplicate
  * values at tile boundaries (the tie-break contract), negative values,
  * more partitions than rows, nullable values, and the empty frame.
  */
class PrefixSumSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session

  private def frame(values: Seq[(Long, String)]) = {
    val rows = values.map { case (k, v) =>
      Row(k, new java.math.BigDecimal(v).setScale(2))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      new StructType().add("k", LongType, nullable = false)
        .add("v", DecimalType(18, 2), nullable = false))
  }

  private def check(values: Seq[(Long, String)], nParts: Int): Unit = {
    val df = frame(values)
    val (got, total) = ops.PrefixSum.runningDecimalSum(
      df, "v", "cum", Seq(col("v").desc, col("k")), Some(nParts))
    val w = Window.orderBy(col("v").desc, col("k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("cum",
      sum(col("v")).over(w).cast(DecimalType(38, 2)))
    val gotRows = got.orderBy(col("v").desc, col("k")).collect().toSeq
    val wantRows = want.orderBy(col("v").desc, col("k")).collect().toSeq
    assert(gotRows == wantRows,
      s"prefix-sum mismatch (nParts=$nParts):\n got=$gotRows\nwant=$wantRows")
    val wantTotal = values.map(v => new java.math.BigDecimal(v._2))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).setScale(2)
    assert(total == wantTotal, s"grand total $total != $wantTotal")
    CacheScope.release(spark)
  }

  test("matches the zero-partition window cumsum, ties at tile boundaries") {
    // Many duplicate values: the range partitioner may split a run of
    // equal v across tiles; the k tie-break keeps the order strict.
    val dups = (1L to 40L).map(i => (i, if (i % 3 == 0) "5.00" else "7.25"))
    check(dups, nParts = 8)
  }

  test("negative and mixed-sign values (running sum is not monotone)") {
    val mixed = Seq((1L, "-3.50"), (2L, "10.00"), (3L, "-0.01"),
      (4L, "0.00"), (5L, "2.75"), (6L, "-10.00"), (7L, "99.99"))
    check(mixed, nParts = 4)
  }

  test("more partitions than rows (empty tiles)") {
    check(Seq((1L, "1.00"), (2L, "2.00"), (3L, "3.00")), nParts = 16)
  }

  test("empty frame: no rows, zero total") {
    val (got, total) = ops.PrefixSum.runningDecimalSum(
      frame(Nil), "v", "cum", Seq(col("v").desc, col("k")), Some(4))
    assert(got.collect().isEmpty)
    assert(total == java.math.BigDecimal.ZERO.setScale(2))
    CacheScope.release(spark)
  }

  test("nullable values: nulls skipped as SUM OVER (ORDER BY) skips them") {
    // k ascending over 60 rows in 4 tiles of ~15: leading nulls (k 1-3),
    // nulls inside tile 0 (k 8, 9), and a null run k 28-52 longer than
    // two tiles, so at least one tile holds only nulls
    def v(k: Long) =
      if (k <= 3 || k == 8 || k == 9 || (k >= 28 && k <= 52)) null
      else new java.math.BigDecimal(s"${k * 7 - 200}.25")
    val rows = (1L to 60L).map(k => Row(k, v(k)))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      new StructType().add("k", LongType, nullable = false)
        .add("v", DecimalType(18, 2), nullable = true))
    val (got, total) = ops.PrefixSum.runningDecimalSum(
      df, "v", "cum", Seq(col("k")), Some(4))
    val tiles = got.rdd
      .mapPartitions(it => Iterator(it.map(_.isNullAt(1)).toVector)).collect()
    assert(tiles.exists(t => t.nonEmpty && t.forall(identity)),
      s"fixture must hold an all-null tile: $tiles")
    val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0)
    val want = df
      .withColumn("cum", sum(col("v")).over(w).cast(DecimalType(38, 2)))
      .orderBy("k").collect().toSeq
    assert(got.orderBy("k").collect().toSeq == want)
    val wantTotal = (1L to 60L).flatMap(k => Option(v(k)))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).setScale(2)
    assert(total == wantTotal, s"grand total $total != $wantTotal")
    CacheScope.release(spark)

    val (allNull, zero) = ops.PrefixSum.runningDecimalSum(
      df.where(col("v").isNull), "v", "cum", Seq(col("k")), Some(4))
    val nullRows = allNull.collect()
    assert(nullRows.length == rows.count(_.isNullAt(1)))
    assert(nullRows.forall(_.isNullAt(2)))
    assert(zero == java.math.BigDecimal.ZERO.setScale(2))
    CacheScope.release(spark)
  }

  test("plan stays distributed: no zero-partition WindowExec anywhere") {
    val df = frame((1L to 100L).map(i => (i, s"$i.50")))
    val (got, _) = ops.PrefixSum.runningDecimalSum(
      df, "v", "cum", Seq(col("v").desc, col("k")), Some(8))
    val p = got.queryExecution.executedPlan.toString
    assert(!p.contains("WindowExec"), s"PrefixSum must not plan a window:\n$p")
    // r14: offsets ride a sparkContext.broadcast into a map-side add over
    // the pinned RDD (no join at all), so the output plan is a leaf scan
    // of that RDD — no Exchange of ANY kind may appear above it
    assert(!p.contains("Exchange"),
      s"offset application must be map-side over the pinned RDD:\n$p")
    assert(got.rdd.getNumPartitions == 8,
      "output must keep the input's distributed tiling")
    CacheScope.release(spark)
  }
}
