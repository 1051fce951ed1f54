package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dev-only optimization-round tool: writes `.explain("formatted")` output
  * for the named queries to plans/<round>/<query>_<label>.txt so plan-shape
  * claims in OPTIMIZATION_*.md are reviewable without running Spark.
  *
  * `all` in place of the query names dumps every declared query. Each dump
  * masks what differs between two JVMs building the same plan: expression
  * ids (`#123` → `#`), exchange ids (`plan_id=`), JVM identity hashes and
  * lambda class names (`@1a2b3c`, `Lambda$61/0x…`) and the working
  * directory (the warehouse path of the bucketed tables). Dumps taken
  * from two checkouts under one label into two SPARK_GRAFT_PLANS_DIRs
  * then diff clean (`diff -r <dir A> <dir B>`) exactly when the plans
  * match.
  *
  * Run: sbt "Test/runMain graft.ExplainDump <label> <q1> <q2> ..."
  *      sbt "Test/runMain graft.ExplainDump <label> all"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 32 — match the bench so AQE/partition
  *      counts in the dumped plan are the benched ones),
  *      SPARK_GRAFT_PLANS_DIR (default plans/r14).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ExplainDump <label> (all | <query>...)")
    val label = args.head
    val names =
      if (args.tail.sameElements(Seq("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r14")
    // Bench's session: the data-derived shuffle width, so dumped plans
    // carry the widths the bench actually runs with
    val spark = GraftSession.local(sfDir, cpus)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { q =>
      // "formatted" on the ANALYZED frame gives the initial physical plan
      // (AdaptiveSparkPlan isFinalPlan=false) — the shape the optimizer
      // chose; Exchange count / join strategy / PushedFilters all visible.
      val txt =
        try SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.write(Paths.get(outDir, s"${q}_$label.txt"),
        (s"== $q ($label, sf=$sfDir, cpus=$cpus) ==\n" + normalize(txt))
          .getBytes(StandardCharsets.UTF_8))
      println(s"[explain] wrote $outDir/${q}_$label.txt")
      CacheScope.release(spark)
    }
    spark.stop()
  }

  /** Masks the JVM- and checkout-specific tokens of an explain string. */
  private def normalize(txt: String): String =
    txt.replace(sys.props("user.dir"), ".")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+", "Lambda")
      .replaceAll("@[0-9a-f]+\\b", "@")
}
