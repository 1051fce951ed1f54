package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dev-only optimization-round tool: writes `.explain("formatted")` output
  * for the named queries to plans/<round>/<query>_<label>.txt so plan-shape
  * claims in OPTIMIZATION_*.md are reviewable without running Spark.
  *
  * Run: sbt "Test/runMain graft.ExplainDump <label> <q1> <q2> ..."
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32 — match the bench so AQE/partition
  *      counts in the dumped plan are the benched ones),
  *      SPARK_GRAFT_PLANS_DIR (default plans/r14).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <label> <query>...")
    val label = args.head
    val names = args.tail
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r14")
    // Bench's session: the data-derived shuffle width, so dumped plans
    // carry the widths the bench actually runs with
    val spark = GraftSession.local(sfDir, cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      // "formatted" on the ANALYZED frame gives the initial physical plan
      // (AdaptiveSparkPlan isFinalPlan=false) — the shape the optimizer
      // chose; Exchange count / join strategy / PushedFilters all visible.
      val txt =
        try df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.write(Paths.get(outDir, s"${q}_$label.txt"),
        (s"== $q ($label, sf=$sfDir, cpus=$cpus) ==\n" + txt)
          .getBytes(StandardCharsets.UTF_8))
      println(s"[explain] wrote $outDir/${q}_$label.txt")
      CacheScope.release(spark)
    }
    spark.stop()
  }
}
