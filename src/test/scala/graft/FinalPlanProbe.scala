package graft

/** Dev-only: print the POST-EXECUTION (AQE-final) plan for named queries —
  * ExplainDump shows the initial plan; runtime ReusedExchange/
  * AQEShuffleRead decisions only appear here.
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.FinalPlanProbe <q>..."
  */
object FinalPlanProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus, "ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      Bench.materialize(df)
      println(s"=== $q (final) ===")
      println(df.queryExecution.executedPlan.toString.take(12000))
      CacheScope.release(spark)
    }
    spark.stop()
  }
}
