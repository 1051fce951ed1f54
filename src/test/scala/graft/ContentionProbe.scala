package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-only contention probe (Test scope, not shipped): counts the Spark
  * JOBS a query launches and times it on an idle host. Serial jobs are
  * the unit of contention amplification — every job boundary is a
  * driver-side wall that pays the contention tax on a busy host (the r7
  * pagerank lesson: 45 s driver vs 3 s idle was eager-checkpoint walls,
  * not compute). r9 verdict item 4 asks the two most action-serialized
  * queries (q_d_pagerank_canonical, q_d_winnow_incremental) to come down
  * to ≤2× idle-host time in the driver bench — fewer serial jobs is the
  * lever this probe measures.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ContentionProbe [names...]"
  */
object ContentionProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        sites.add(s"${js.stageInfos.size}st $cs")
      }
    })

    // Deterministic listener drain (ADVICE r10): SparkListener events ride
    // an async bus that can lag well past a fixed sleep after heavy
    // queries, so jobs.set(0)/sites.clear() raced late events in census
    // mode (50 ms) and could misattribute job counts between adjacent
    // queries. LiveListenerBus.waitUntilEmpty blocks until every posted
    // event is delivered; it is private[spark] (public in bytecode), so
    // reflection reaches it — with the old 300 ms sleep as the fallback if
    // a Spark upgrade renames it.
    def drainListenerBus(): Unit =
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(300) }

    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the shuffle width Bench ships: derived from the data size
    spark.conf.set("spark.sql.shuffle.partitions",
      SessionTuning.shufflePartitions(dir, cpus.toInt).toLong)
    // "--all": one-pass wall CENSUS over the whole surface, jobs-desc —
    // the serial-wall equivalent of the bench's slowest-queries list.
    val census = args.headOption.contains("--all")
    val names =
      if (census) SparkEntry.queries.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else Seq("q_d_pagerank_canonical", "q_d_winnow_incremental")
    val passes = if (census) 1 to 1 else 1 to 2
    val walls = scala.collection.mutable.LinkedHashMap[String, (Int, Double)]()
    Tables(spark, dir, "documents").count() // warm the scan path
    for (name <- names; pass <- passes) {
      drainListenerBus()
      jobs.set(0)
      val t0 = System.nanoTime()
      val n = try SparkEntry.queries(name)(spark, dir).count()
        catch { case e: Throwable =>
          println(s"$name FAIL ${e.getClass.getSimpleName}"); -1L }
      val secs = (System.nanoTime() - t0) / 1e9
      drainListenerBus()
      walls(name) = (jobs.get, secs)
      println(f"$name%-28s pass$pass ${secs}%7.2f s  jobs=${jobs.get}%3d  rows=$n")
      if (sys.env.contains("GRAFT_PROBE_SITES")) {
        import scala.jdk.CollectionConverters._
        sites.asScala.groupBy(identity).toSeq.sortBy(-_._2.size)
          .foreach { case (s, xs) => println(f"    ${xs.size}%3d x $s") }
      }
      sites.clear()
      CacheScope.release(spark)
    }
    if (census) {
      println("== wall census (jobs desc, top 25) ==")
      walls.toSeq.sortBy { case (_, (j, _)) => -j }.take(25)
        .foreach { case (nm, (j, s)) =>
        println(f"$nm%-32s jobs=$j%3d  ${s}%6.2f s")
      }
    }
    spark.stop()
  }
}
