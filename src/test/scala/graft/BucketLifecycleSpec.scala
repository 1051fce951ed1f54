package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed layout's full lifecycle: build → append (bucket claims
  * survive, sort claim degrades BY DESIGN but answers stay right) →
  * compact (one sorted file per bucket again, sort-free plans return).
  * This is the Cassandra-clustering-contract-at-scale story end to end:
  * ingest is allowed to dirty the layout, maintenance restores it, and
  * at no point does a reader get a wrong row.
  */
class BucketLifecycleSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"
  private val table = "events_lifecycle_spec"

  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def windowQuery(): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    spark.table(table)
      .withColumn("prev_val", lag(col("value"), 1).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("prev_val")).as("s"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(col("event_id"), col("user_id"), col("ts").cast("long"),
        col("value"), col("event_type"))
      .collect().map(_.toString).sorted.toSeq

  private lazy val base: DataFrame = {
    sources.BucketedLayout.configureBucketedScans(spark)
    val ev = Tables(spark, dir, "events")
      .select("event_id", "user_id", "ts", "value", "event_type")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    ev.where(pmod(col("event_id"), lit(5)) =!= 0)
      .repartition(sources.BucketedLayout.NBuckets, col("user_id"))
      .write
      .bucketBy(sources.BucketedLayout.NBuckets, "user_id")
      .sortBy("user_id", "ts", "event_id")
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
    ev
  }

  test("lifecycle: build, append, compact — plans degrade and recover, answers never change") {
    val ev = base
    val expectBase = sortedRows(ev.where(pmod(col("event_id"), lit(5)) =!= 0))
    val expectAll = sortedRows(ev)

    // Fresh layout: one sorted file per populated bucket (an empty bucket
    // writes no file at this SF), window plan sort-free.
    val st0 = sources.BucketedLayout.bucketState(spark, table)
    assert(st0.nonEmpty && st0.forall(_.nFiles == 1), s"fresh layout: $st0")
    assert(sortedRows(spark.table(table)) == expectBase)
    val plan0 = executedPlan(windowQuery())
    assert(!plan0.contains("Exchange") && !plan0.contains("Sort "),
      s"fresh layout should satisfy the window fully:\n$plan0")

    // Append the delta: every bucket gains a file.
    sources.BucketedLayout.appendDelta(spark, table,
      ev.where(pmod(col("event_id"), lit(5)) === 0))
    val st1 = sources.BucketedLayout.bucketState(spark, table)
    assert(st1.exists(_.nFiles == 2) && st1.forall(_.nFiles <= 2),
      s"append should add at most one bucketed file per bucket: $st1")
    val drifted = st1.count(_.nFiles > 1)

    // Bucket pruning survives the append AND sees the delta rows — this
    // fails if appended files were not routed to their true bucket.
    val u = spark.table(table).where(col("user_id") === 11L)
    val prunedPlan = executedPlan(u)
    assert(prunedPlan.contains("SelectedBucketsCount: 1 out of 8"),
      s"pruning must survive the append:\n$prunedPlan")
    assert(sortedRows(u) == sortedRows(ev.where(col("user_id") === 11L)),
      "the pruned bucket must contain the user's appended rows too")

    // Sort claim degrades by design (two files per bucket need a merge),
    // the window results stay correct.
    val plan1 = executedPlan(windowQuery())
    assert(!plan1.contains("Exchange"),
      s"partitioning claim must survive the append:\n$plan1")
    assert(plan1.contains("Sort "),
      s"two files per bucket cannot claim on-disk order:\n$plan1")
    assert(sortedRows(spark.table(table)) == expectAll)
    val degraded = windowQuery().orderBy("user_id").collect().toSeq

    // Compact: one sorted file per bucket again, sort-free plan returns,
    // rows and window results identical.
    val report = sources.BucketedLayout.compactBuckets(spark, table)
    assert(report.partitionsCompacted == drifted)
    assert(report.filesBefore == 2 * drifted)
    assert(report.filesAfter == drifted)
    val st2 = sources.BucketedLayout.bucketState(spark, table)
    assert(st2.forall(_.nFiles == 1), s"compaction must restore 1 file: $st2")
    assert(sortedRows(spark.table(table)) == expectAll)
    val plan2 = executedPlan(windowQuery())
    assert(!plan2.contains("Exchange") && !plan2.contains("Sort "),
      s"compacted layout should be sort-free again:\n$plan2")
    assert(windowQuery().orderBy("user_id").collect().toSeq == degraded,
      "window results must be identical before and after compaction")

    // Idempotence: a healthy layout is a no-op.
    val again = sources.BucketedLayout.compactBuckets(spark, table)
    assert(again.partitionsCompacted == 0)
  }

  test("compaction: a refused rename throws before any old bucket file is deleted") {
    val t = "events_refused_rename_spec"
    val ev = Tables(spark, dir, "events")
      .select("event_id", "user_id", "ts", "value", "event_type")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    ev.where(pmod(col("event_id"), lit(5)) =!= 0)
      .repartition(sources.BucketedLayout.NBuckets, col("user_id"))
      .write
      .bucketBy(sources.BucketedLayout.NBuckets, "user_id")
      .sortBy("user_id", "ts", "event_id")
      .mode(SaveMode.Overwrite)
      .saveAsTable(t)
    sources.BucketedLayout.appendDelta(spark, t,
      ev.where(pmod(col("event_id"), lit(5)) === 0))
    def dataFiles(): Set[String] = fs.listStatus(loc)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSet
    val before = dataFiles()
    assert(sources.BucketedLayout.bucketState(spark, t).exists(_.nFiles > 1))

    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CompactRenameRefusingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val err =
      try intercept[IllegalArgumentException](
        sources.BucketedLayout.compactBuckets(spark, t))
      finally {
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")
      }
    assert(err.getMessage.contains("returned false"), err.getMessage)
    val lost = before -- dataFiles()
    assert(lost.isEmpty, s"old bucket files deleted after a refused rename: $lost")
    assert(sortedRows(spark.table(t)) == sortedRows(ev))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}

/** The local FileSystem, except that it refuses (returns false for) the
  * rename that moves a compacted bucket file out of its `.compact_tmp_`
  * staging dir — the Hadoop contract lets any rename fail this way.
  */
class CompactRenameRefusingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (src.getParent.getName.startsWith(".compact_tmp_")) false
    else super.rename(src, dst)
}
