package graft

import org.apache.spark.sql.functions._

/** Hostile-row sweep (Test scope, not shipped) — the third robustness
  * axis after ScaleProbe (big end) and DegenerateProbe (empty end): at
  * 100 TB some rows are simply BAD — NaN/Inf measurements, null or
  * empty or pathological text, zero-norm / NaN / null / wrong-dimension
  * embeddings — and one bad row in 10^11 must not kill the job.
  *
  * This probe clones sf0.001 and injects a deterministic set of hostile
  * rows into events/documents/embeddings (ids above the existing max so
  * every original row — including the vec_id=0 query row and the seeded
  * codebook ids — is untouched), then runs the FULL SparkEntry.queries
  * surface and reports any query that throws.
  *
  * Run: SPARK_GRAFT_CPUS=8 sbt "Test/runMain graft.HostileInputProbe"
  * Exit code 1 if any query throws.
  */
object HostileInputProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus, cpus, "ERROR")
    import spark.implicits._

    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val dir = "/tmp/graft-hostile"

    // untouched pass-throughs
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
      Tables(spark, src, t)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")

    // events: NaN / ±Inf / null values, a null props, a null event_type —
    // appended with fresh ids at the tail of the time range
    val ev = Tables(spark, src, "events")
    val evMax = ev.agg(max("event_id"), max("ts")).head()
    val (evId, evTs) = (evMax.getLong(0), evMax.getTimestamp(1))
    val epoch0 = new java.sql.Timestamp(0L)
    val far = java.sql.Timestamp.from(java.time.Instant.parse("2200-01-01T00:00:00Z"))
    val evBad = Seq(
      (evId + 1, evTs, 1L, "trade", Double.NaN, """{"q":1}"""),
      (evId + 2, evTs, 1L, "trade", Double.PositiveInfinity, """{"q":1}"""),
      (evId + 3, evTs, 2L, "quote", Double.NegativeInfinity, """{"q":1}"""),
      (evId + 4, evTs, 2L, "quote", 0.0, null.asInstanceOf[String]),
      (evId + 5, evTs, 3L, null.asInstanceOf[String], 1.0, """{"q":1}"""),
      // range extremes + broken uniqueness: a 1970 stray, a far-future
      // stray, an overflow-scale magnitude, a negative user, and a
      // DUPLICATE event_id (an at-least-once upstream re-delivery)
      (evId + 6, epoch0, 1L, "trade", 5.0, """{"q":1}"""),
      (evId + 7, far, 1L, "trade", 6.0, """{"q":1}"""),
      (evId + 8, evTs, -9L, "trade", -1.7e308, """{"q":1}"""),
      (evId + 1, evTs, 1L, "trade", 42.0, """{"q":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val evNullVal = Seq((evId + 9, evTs, 3L, "trade", """{"q":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
      .withColumn("value", lit(null).cast("double"))
    ev.unionByName(evBad).unionByName(evNullVal, allowMissingColumns = false)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // documents: null text, empty text, one giant unbroken token,
    // UTF-8 soup (emoji, RTL, zero-width, 4-byte planes), and an
    // n_chars that lies about the text length (upstream metadata rot)
    val d = Tables(spark, src, "documents")
    val dId = d.agg(max("doc_id")).head().getLong(0)
    val giant = "x" * 100000
    val soup = "مرحبا 😀​‍" +
      "🤖 你好 𐀀 é\n\t\r  "
    val dBad = Seq(
      (dId + 1, null.asInstanceOf[String], "en", "crawl", 0L),
      (dId + 2, "", "en", "crawl", 0L),
      (dId + 3, giant, "en", "crawl", giant.length.toLong),
      (dId + 4, soup, null.asInstanceOf[String], "crawl", soup.length.toLong),
      (dId + 5, "short text", "en", "crawl", 999999L),
      // duplicate doc_id (a re-crawled url landing twice) + negative id
      (dId + 3, "different body same id", "en", "crawl", 22L),
      (-7L, "negative id doc", "en", "crawl", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    d.unionByName(dBad)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // embeddings: zero-norm, NaN component, null vector, EMPTY array and
    // wrong-dimension array (a malformed upstream embed job)
    val e = Tables(spark, src, "embeddings")
    val eId = e.agg(max("vec_id")).head().getLong(0)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val eBad = Seq(
      (eId + 1, Seq.fill(dim)(0.0f), 0),
      (eId + 2, Seq.fill(dim)(Float.NaN), 0),
      (eId + 3, null.asInstanceOf[Seq[Float]], 0),
      (eId + 4, Seq.empty[Float], 0),
      (eId + 5, Seq.fill(math.max(dim / 4, 1))(0.5f), 0),
      // duplicate vec_id with a DIFFERENT vector + a negative id
      (eId + 1, Seq.fill(dim)(0.25f), 0),
      (-3L, Seq.fill(dim)(0.75f), 0))
      .toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"),
        col("label"))
    e.unionByName(eBad)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    var failures = List.empty[(String, String)]
    val names = SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        // noop write, not count(): full-column materialization (see
        // DegenerateProbe note); row count observed on the same
        // execution, not a second count() run (ADVICE r12)
        val obs = org.apache.spark.sql.Observation()
        df.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        val rows = obs.get("rows").asInstanceOf[Long]
        println(f"OK    $name%-44s rows=$rows%-8d ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      } catch {
        case ex: Throwable =>
          val msg = Option(ex.getMessage).getOrElse(ex.getClass.getName)
            .linesIterator.take(1).mkString
          failures ::= (name, msg)
          println(f"FAIL  $name%-44s $msg")
      } finally CacheScope.release(spark)
    }

    println(s"\n=== ${failures.size} failures / ${names.size} runs ===")
    failures.reverse.foreach { case (n, m) => println(s"  $n: $m") }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
