package graft

import org.apache.spark.sql.functions._

/** Whole-surface degenerate-input sweep (Test scope, not shipped).
  *
  * A 100 TB ingest routinely presents empty slices — a day with no fills,
  * a symbol with one row, a shard whose filter matched nothing. Every
  * declared query must degrade to an empty (or tiny) result, never throw.
  * The scale probes (ScaleProbe) bound the big end; this probe bounds the
  * small end: it materializes zero-row and one-row versions of every
  * testdata table (schema-preserving `limit(n)` rewrite) and runs the FULL
  * `SparkEntry.queries` surface against each, reporting any query that
  * throws.
  *
  * Run: SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.DegenerateProbe"
  * Exit code 1 if any query throws, so it can gate.
  */
object DegenerateProbe {
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus, cpus, "ERROR")

    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val root = "/tmp/graft-degenerate"
    val shapes = Seq("empty" -> 0, "one" -> 1, "mono" -> 500)
    for ((shape, n) <- shapes) {
      val dir = s"$root/$shape"
      for (t <- tables) {
        val base = Tables(spark, src, t).limit(n)
        // "mono": every grouping key collapses to ONE value — the skew
        // extreme of every keyed operator (one giant group, every
        // window/groupBy/partitionBy single-partition)
        val df =
          if (shape != "mono") base
          else t match {
            case "events" => base
              .withColumn("event_type", lit("MONO"))
              .withColumn("user_id", lit(1L))
            case "documents" => base
              .withColumn("source", lit("mono"))
              .withColumn("lang", lit("xx"))
            case "embeddings" => base.withColumn("label", lit(0))
            case _ => base
          }
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    }

    var failures = List.empty[(String, String, String)]
    val names = SparkEntry.queries.keys.toSeq.sorted
    for ((shape, _) <- shapes; name <- names) {
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, s"$root/$shape")
        // noop write, not count(): count() lets Spark skip evaluating
        // projected columns, hiding per-column failures a real sink hits
        // (caught live: a recall divide that only fired under Verify's
        // parquet write). The noop sink materializes every column. Row
        // count rides on the SAME execution via observe() — a separate
        // count() would re-run every query (ADVICE r12).
        val obs = org.apache.spark.sql.Observation()
        df.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        val rows = obs.get("rows").asInstanceOf[Long]
        println(f"OK    $shape%-5s $name%-44s rows=$rows%-8d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString
          failures ::= (shape, name, msg)
          println(f"FAIL  $shape%-5s $name%-44s $msg")
      } finally CacheScope.release(spark)
    }

    println(s"\n=== ${failures.size} failures / ${shapes.size * names.size} runs ===")
    failures.reverse.foreach { case (s, n, m) => println(s"  [$s] $n: $m") }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
