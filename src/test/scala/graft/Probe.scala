package graft

import org.apache.spark.sql.SparkSession

/** Dev-only perf probe (Test scope, not shipped): isolate bench outliers
  * from bench-order/host contention effects. Currently pointed at the
  * array-form approx_percentile queries after q_a4_quantiles_approx
  * showed 30 s in a full bench run (its plan-identical twin q_a5 ran in
  * ~1 s in the same run — contention lottery vs real regression?).
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.Probe"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-44s ${(System.nanoTime() - t0) / 1e9}%7.2f s  (n=$n)")
    }
    val dir = "/root/testdata/sf0.1"
    // the shuffle width Bench ships: derived from the data size
    spark.conf.set("spark.sql.shuffle.partitions",
      SessionTuning.shufflePartitions(dir, cpus.toInt).toLong)
    Tables(spark, dir, "events").count()
    for (q <- Seq("q_a4_quantiles_approx", "q_a5_robust_scaler_approx",
        "q_p9_winsorize_approx", "q_a2_distinct_approx"); pass <- 1 to 2)
      time(s"$q pass$pass") {
        val n = SparkEntry.queries(q)(spark, dir).count()
        CacheScope.release(spark); n
      }
    spark.stop()
  }
}
