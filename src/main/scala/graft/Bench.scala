package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit,
  row_number, xxhash64}

/** Per-round benchmark: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Each query is forced to FULL materialization by
  * xxhash64-ing every output column and bit_xor-reducing the hashes —
  * `count()` alone would let Catalyst prune unused projections, timing a
  * bare scan instead of the operator (round-1 lesson).
  *
  * Failure honesty (VERDICT r2 #3): a query that throws is reported in an
  * `errors` map and EXCLUDED from `queries`/`value` — time-to-exception
  * must never masquerade as a measurement. Contention resistance: each
  * query is timed twice and the min is reported (plan+codegen warms on the
  * first pass; the min of two runs discards one-off machine noise).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sfDir,
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    warmup(spark, sfDir)

    def runOnce(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      materialize(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }

    // JSON string escape: quote, backslash, and ALL control chars (<0x20)
    // — the same escaper Verify uses; a \b or \f in an exception message
    // must not emit invalid JSON and break the driver's parse (ADVICE r3).
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    val timed = scala.collection.mutable.LinkedHashMap[String, Double]()
    // First-run (cold-path) timing per query (VERDICT r10 #3): min-of-two
    // makes memoized cascades report cache-read time, so a regression in
    // the COLD build path was invisible to round-over-round diffs of the
    // min. The detail artifact now carries both; the compact stdout line
    // (and the `queries` min map — the driver contract) are unchanged.
    val firstRun = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_e_hybrid_rrf runs only
    // queries whose name matches a listed entry exactly or by prefix.
    // Unset (the driver's case) → the full surface, unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(p => n == p || n.startsWith(p)))
    }
    selected.foreach { case (name, fn) =>
      try {
        val a = runOnce(fn)
        val b = runOnce(fn)
        timed += name -> math.min(a, b)
        firstRun += name -> a
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
          .take(200)
      }
      // Release per query (ADVICE r3): peak storage is one query's caches,
      // not the union of ~100 queries' shingle indexes / CC edge lists —
      // the second (min-of-2) run still reuses the first run's cache.
      CacheScope.release(spark)
    }
    val errs = errors.map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = timed.values.sum

    // Full per-query detail goes to a FILE; stdout gets a line that fits the
    // harness's bounded output capture. The capture keeps only the last
    // ~2000 chars of the run log, and with >100 queries the full map is
    // ~4 KB — every round so far shipped a truncated, unparseable line.
    // The compact line keeps the contract keys (metric/value/unit/queries/
    // sf) but lists only the slowest queries that fit a fixed byte budget,
    // 3-decimal rounded, plus how many were omitted and where the rest live.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    val qsFull = timed.map { case (k, v) => "\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    val qsFirst = firstRun.map { case (k, v) => "\"" + esc(k) + "\":" + v }
      .mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"queries_first":$qsFirst,"errors":$errs,"n_ok":${timed.size},"n_err":${errors.size},"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter(detailPath, "UTF-8")
      try w.println(fullLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }

    def compactLine(qEntries: Seq[String], omitted: Int): String = {
      val qs = qEntries.mkString("{", ",", "}")
      s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","queries":$qs,"q_omitted":$omitted,"detail":"${esc(detailPath)}","errors":$errs,"n_ok":${timed.size},"n_err":${errors.size},"sf":"$sfDir"}"""
    }
    val bySlowest = timed.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + esc(k) + "\":" + (math.round(v * 1000) / 1000.0) }
    // Largest prefix of slowest-first entries whose line stays under budget.
    val budget = 1600
    val kept = bySlowest.indices.reverseIterator
      .map(i => bySlowest.take(i + 1))
      .find(pfx => compactLine(pfx, timed.size - pfx.size).length <= budget)
      .getOrElse(Seq.empty)
    println(compactLine(kept, timed.size - kept.size))
    spark.stop()
  }

  /** Forces `df` to FULL materialization — xxhash64 over every output
    * column, reduced with bit_xor (order-insensitive, no ANSI
    * sum-overflow risk) — and returns its row count.
    */
  def materialize(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).as("__h"))
      .agg(expr("bit_xor(__h)"), count(lit(1)))
      .head.getLong(1)

  /** Warmup outside the timed region: JIT + codegen + parquet footer reads
    * would otherwise all land on whichever query runs first (alphabetical).
    */
  def warmup(spark: SparkSession, sfDir: String): Unit = {
    Tables.all.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    try {
      import org.apache.spark.sql.expressions.Window
      val w = spark.range(20000).selectExpr("id % 37 AS k", "id AS v")
      val dim = spark.range(37).selectExpr("id AS k", "id * 2 AS d")
      w.groupBy("k").agg(expr("sum(v) s"), expr("min_by(v, v) m"))
        .join(broadcast(dim), "k")
        .select(col("k"), col("s"),
          row_number().over(Window.partitionBy("k").orderBy("s")).as("rn"))
        .collect()
    } catch { case _: Throwable => () }
  }
}
