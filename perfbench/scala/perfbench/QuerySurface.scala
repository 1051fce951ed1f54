package perfbench

import graft.{CacheScope, QueryPack, SparkEntry, Tables}
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
import scala.collection.mutable

/** The analyst-facing surface: declared queries run one at a time by a
  * closed-loop client, each forced to full materialization the way
  * `graft.Bench` does it, with `CacheScope.release` after every query.
  */
object QuerySurface {
  val packs: Seq[(String, QueryPack)] = Seq(
    "Relational" -> Relational, "TimeSeriesQueries" -> TimeSeriesQueries,
    "IndicatorQueries" -> IndicatorQueries, "TextQueries" -> TextQueries,
    "VectorQueries" -> VectorQueries, "DedupQueries" -> DedupQueries,
    "IngestQueries" -> IngestQueries, "ServingQueries" -> ServingQueries,
    "FeatureQueries" -> FeatureQueries, "SqlQueries" -> SqlQueries,
    "ApproxQueries" -> ApproxQueries, "MultimodalQueries" -> MultimodalQueries,
    "SamplingQueries" -> SamplingQueries, "CurationQueries" -> CurationQueries)

  lazy val packOf: Map[String, String] =
    packs.flatMap { case (p, qp) => qp.queries.map(_.name -> p) }.toMap

  /** Timed slate: every `Stride`-th query of each pack in name order, so
    * every pack is represented, larger packs by more queries.
    */
  val Stride = 20

  def slate(names: Seq[String]): Seq[String] =
    names.groupBy(n => packOf.getOrElse(n, "unassigned")).toSeq.sortBy(_._1)
      .flatMap { case (_, ns) =>
        ns.sorted.zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }
      }

  /** Full materialization: xxhash64 over every column, then a `bit_xor`
    * reduce (plus the row count in the same aggregate).
    */
  def materialize(df: DataFrame): (DataFrame, Long, Long) = {
    val h = df.select(xxhash64(df.columns.map(col).toSeq: _*).as("__h"))
      .agg(expr("bit_xor(__h)").as("h"), count(lit(1)).as("n"))
    val row = h.collect()(0)
    (h, if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }

  /** Table load and view registration on a fresh session; returns it. */
  def setup(r: Run, base: SparkSession, data: String, op: Long): SparkSession = {
    val s = base.newSession()
    r.tracer.span(op, "setup") {
      r.tracer.span(op, "tables.load") {
        Tables.all.foreach(t => Tables(s, data, t).count())
      }
      r.tracer.span(op, "tables.register")(Tables.registerAll(s, data))
    }
    s
  }

  /** JIT warm-up outside the timed region (the same shape Bench uses). */
  def warmup(s: SparkSession): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, row_number}
    val w = s.range(20000).selectExpr("id % 37 AS k", "id AS v")
    val dim = s.range(37).selectExpr("id AS k", "id * 2 AS d")
    w.groupBy("k").agg(expr("sum(v) s"), expr("min_by(v, v) m"))
      .join(broadcast(dim), "k")
      .select(col("k"), col("s"),
        row_number().over(Window.partitionBy("k").orderBy("s")).as("rn"))
      .collect()
  }

  private def repeatedSetup(r: Run, data: String): SparkSession = {
    val times = mutable.ArrayBuffer.empty[Double]
    var s: SparkSession = null
    (0 until 3).foreach { i =>
      val t0 = System.nanoTime()
      s = setup(r, r.spark, data, -1 - i)
      times += Harness.secondsSince(t0)
    }
    r.record("setup_s") = times.toSeq
    s
  }

  /** Build-time pass: `graft.Verify` writes the output of every slate
    * query (`whole`: of every declared query), its oracle SQL and the
    * sketch-twin bounds to `out` (`scripts/check_oracle.py` then judges
    * them); this records each output's hash and row count, the values a
    * timed run's outputs must match, as `name<TAB>hash<TAB>rows` lines.
    */
  def prepare(data: String, out: String, whole: Boolean, cpus: Int, work: String,
      expectPath: String): Unit = {
    val all = SparkEntry.queries.keys.toSeq
    val names = if (whole) all.sorted else slate(all)
    graft.Verify.main(Array(data, out) ++ (if (whole) Nil else Seq(names.mkString(","))))
    val s = Harness.session(cpus, data, work)
    try {
      val lines = names.filter(n => new java.io.File(s"$out/$n").isDirectory).map { n =>
        val (_, h, rows) = materialize(s.read.parquet(s"$out/$n"))
        s"$n\t$h\t$rows"
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(expectPath),
        lines.mkString("", "\n", "\n"))
    } finally s.stop()
  }

  /** Reads the build-time check file: name -> (hash, rows, ok, detail). */
  private def loadCheck(path: String): Map[String, (Long, Long, Boolean, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val f = line.split("\t", 5)
      f(0) -> ((f(1).toLong, f(2).toLong, f(3) == "1", f(4)))
    }.toMap finally src.close()
  }

  def timed(r: Run, data: String, seconds: Double, checkPath: String,
      failQuery: Option[String], only: Option[Seq[String]]): Unit = {
    val s = repeatedSetup(r, data)
    warmup(s)
    val check = loadCheck(checkPath)
    val all = SparkEntry.queries
    val names = only.getOrElse(slate(all.keys.toSeq))
    val failing: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberately failing query")
    // fixed order: the surface is order-dependent (one seed-permuted
    // order ran 1.4-1.6x slower than another, twice), so a permuted order
    // would make the metrics measure the permutation
    val order = names.map(n => n -> all(n)) ++ failQuery.map(_ -> failing)

    val latencies = mutable.ArrayBuffer.empty[Double]
    val byQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val failures = mutable.LinkedHashMap.empty[String, String]
    val perQuery = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    var pass = 0
    val sc = s.sparkContext
    val t0 = System.nanoTime()
    while (pass == 0 || Harness.secondsSince(t0) < seconds) {
      order.zipWithIndex.foreach { case ((name, fn), i) =>
        val op = pass.toLong * order.size + i
        attempted += 1
        val tag = s"$pass:$name"
        try {
          val q0 = System.nanoTime()
          val (df, (hashed, h, n)) = r.tracer.span(op, "query") {
            sc.setJobGroup(s"$tag#build", name)
            val df = r.tracer.span(op, "queries.build")(fn(s, data))
            sc.setJobGroup(s"$tag#exec", name)
            df -> r.tracer.span(op, "queries.exec")(materialize(df))
          }
          val ms = (System.nanoTime() - q0) / 1e6
          val ok = check.get(name).exists { case (eh, en, good, _) =>
            good && eh == h && en == n }
          if (ok) {
            latencies += ms
            byQuery.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
          }
          else failures(s"$name#$pass") = check.get(name)
            .map { case (eh, en, good, d) =>
              if (!good) s"build-time check failed: $d"
              else s"hash/rows $h/$n, expected $eh/$en" }
            .getOrElse("no expected result")
          if (r.traced) perQuery += queryTrace(r, op, name, tag, Seq(df, hashed), ms)
        } catch { case e: Throwable =>
          failures(s"$name#$pass") = String.valueOf(e.getMessage).take(200)
        } finally sc.clearJobGroup()
        r.tracer.span(op, "cache.release")(CacheScope.release(s))
      }
      pass += 1
    }
    r.record("work_s") = Harness.secondsSince(t0)
    r.record("passes") = pass
    r.record("latencies_ms") = latencies.toSeq
    r.record("latency_by_query_ms") = byQuery
    r.record("attempted") = attempted
    r.record("failures") = failures
    r.record("declared") = all.size
    r.record("checked") = check.size
    r.record("surface_failures") = check.collect { case (n, (_, _, false, d)) => n -> d }
    r.record("surface_missing") = names.filterNot(check.contains).sorted
    r.record("per_query") = perQuery.toSeq
    if (r.traced) {
      r.exec.foreach { l =>
        r.layers("cache.storage_peak_mb") = l.storagePeak / 1048576.0
        r.layers("cache.blocks_cached") = l.blocksCached
      }
    }
  }

  /** Per-query counters. Catalyst phases are summed over the builder's
    * DataFrame (analysed when it is built) and the materialization wrapper
    * (analysed, optimized and planned when it runs); DataFrames the builder
    * makes and drops on the way have trackers of their own that are not
    * read, so their analysis is booked to `queries.build` only.
    */
  private def queryTrace(r: Run, op: Long, name: String, tag: String, dfs: Seq[DataFrame],
      ms: Double): Map[String, Any] = r.tracer.overhead {
    val b = r.counters(_ == s"$tag#build")
    val e = r.counters(_ == s"$tag#exec")
    def phase(p: String): Double = dfs.flatMap(_.queryExecution.tracker.phases.get(p))
      .map(x => (x.endTimeMs - x.startTimeMs).toDouble).sum
    Map("op" -> op, "name" -> name, "pack" -> packOf.getOrElse(name, "unassigned"),
      "lat_ms" -> ms,
      "analysis_ms" -> phase("analysis"),
      "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"),
      "build_jobs" -> b.jobs,
      "jobs" -> (b.jobs + e.jobs), "stages" -> (b.stages + e.stages),
      "tasks" -> (b.tasks + e.tasks),
      "task_cpu_ms" -> (b.cpuNs + e.cpuNs) / 1e6,
      "shuffle_read_bytes" -> (b.shuffleRead + e.shuffleRead),
      "shuffle_write_bytes" -> (b.shuffleWrite + e.shuffleWrite),
      "spill_bytes" -> (b.spill + e.spill),
      "task_failures" -> (b.taskFailures + e.taskFailures))
  }
}
