package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration
    // on a few queries without dumping all 215 — driver passes 2 args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(sfDir,
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Single config source for the embedding dim (ADVICE r12): the env
    // var the oracle harness reads drives the engine conf too, so engine
    // and DuckDB oracle can never validate different row sets. The
    // effective dim is also dumped to verify_meta.json below for
    // check_oracle.py to cross-check.
    sys.env.get("GRAFT_EMBEDDING_DIM")
      .foreach(d => spark.conf.set("graft.embedding.dim", d))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per query, not per run: peak storage stays one query's caches
      // (shingle indexes, CC edge lists), not the union of ~110 queries'
      CacheScope.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Effective session config the oracle must mirror (one source of
    // truth — check_oracle.py fails loudly on any disagreement).
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"),
      s"""{"embedding_dim": ${Tables.embeddingDim(spark)}}""")
    // Bound-check verdicts for the declared-no-oracle sketch twins, so
    // the correctness artifact carries green/red for them too (VERDICT
    // r12 #5). Skipped on filtered dev runs unless a twin is requested —
    // but the file is ALWAYS (re)written (ADVICE r13): a stale
    // approx_bounds.json left by an earlier full run must never be
    // re-applied to a later run's fresh dumps.
    val twinWanted = only.forall(_.exists(n => n.endsWith("_approx")))
    val rows =
      if (twinWanted) ApproxBounds.report(spark, sfDir, only)
        .map { case (n, v) =>
          s"${q(n)}: {\"bounds_ok\": ${v.ok}, \"detail\": ${q(v.detail)}}"
        }
      else Seq.empty
    Files.writeString(Paths.get(s"$outDir/approx_bounds.json"),
      rows.mkString("{", ",", "}"))
    spark.stop()
  }
}
