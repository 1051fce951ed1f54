package graft

import org.apache.spark.sql.types.{DataType, DecimalType, StructField}
import org.scalatest.funsuite.AnyFunSuite

/** Dtype-parity guard for the text-SQL surface (VERDICT r7 #2b).
  *
  * The driver's oracle compare is EXACT: a Spark column landing as
  * DECIMAL(28,4) where DuckDB produces DOUBLE hash-fails even when every
  * value is numerically identical (the r7 `q_sql_retention_cohorts`
  * defect — Spark parses `1.0`/`0.0` SQL literals as DECIMAL, so `+ 0.0`
  * does NOT coerce to double the way `lit(0.0)` does in the DataFrame
  * API). Two assertions make that drift impossible to ship again:
  *
  *  1. every `q_sql_*` query with a DataFrame twin has the SAME result
  *     schema — column names AND dataTypes (order-insensitive, matching
  *     the driver's sort-columns-by-name compare);
  *  2. no `q_sql_*` result schema contains a DecimalType column unless
  *     its twin has one too (and for twinless queries, none at all) —
  *     DECIMAL belongs INSIDE exact-sum arithmetic, always CAST back to
  *     DOUBLE at the output boundary (`q_sql_tpch_q1` idiom).
  *
  * The ten `aliases` below are not text SQL: each is a DataFrame query's
  * own `Query` value under a `q_sql_*` name, and a third case pins that
  * (same `run` function, byte-identical oracle), so the two names cannot
  * drift apart again.
  *
  * Mostly schema-only: the plans are analyzed, not executed, so the
  * sweep is cheap against the sf0.001 fixtures — with one exception:
  * building `q_sql_bucketed_activity`'s frame runs
  * `BucketedLayout.ensureEventsByUser`, which on a fresh session WRITES
  * the bucketed table (real Spark jobs) before the `s.sql` text can
  * resolve — a few seconds once per JVM, memoized for every later query
  * against the same layout. The last case executes the seven sketch
  * twins: `ApproxBounds.report` is their bound-check against the exact
  * twin (their oracle stand-in), and must be `ok` for every one.
  */
class SchemaParitySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  /** q_sql_* → DataFrame-API twin producing the same logical result. */
  private val twins: Map[String, String] = Map(
    "q_sql_range_scan" -> "q_scan_range",
    "q_sql_latest_n" -> "q_latest_n",
    "q_sql_availability" -> "q_summary_availability",
    "q_sql_scd2" -> "q_r_scd2",
    "q_sql_active_users" -> "q_a_active_users",
    "q_sql_merge_upsert" -> "q_r_merge_upsert",
    "q_sql_fk_audit" -> "q_r_fk_audit",
    "q_sql_abc_pareto" -> "q_a_abc_pareto",
    "q_sql_retention_cohorts" -> "q_a_retention_cohorts",
    "q_sql_time_to_convert" -> "q_a_time_to_convert",
    "q_sql_attribution" -> "q_a_attribution",
    "q_sql_incremental_rollup" -> "q_r_incremental_rollup",
    "q_sql_bucketed_activity" -> "q_r_bucketed_user_activity",
    // r9 (VERDICT #5): the previously twinless q_sql_* with a real
    // DataFrame counterpart
    "q_sql_vector_search" -> "q_e_cosine_topk",
    "q_sql_quality_filter" -> "q_t_corpus_filter",
    "q_sql_feature_frame" -> "q_feature_frame_26",
    "q_sql_dedup_groups" -> "q_d_dedup_groups")

  /** q_sql_* name → the DataFrame query whose definition it reuses. */
  private val aliases: Map[String, String] = Map(
    "q_sql_availability" -> "q_summary_availability",
    "q_sql_stratified_sample" -> "q_s_stratified_sample",
    "q_sql_scd2" -> "q_r_scd2",
    "q_sql_active_users" -> "q_a_active_users",
    "q_sql_merge_upsert" -> "q_r_merge_upsert",
    "q_sql_abc_pareto" -> "q_a_abc_pareto",
    "q_sql_retention_cohorts" -> "q_a_retention_cohorts",
    "q_sql_time_to_convert" -> "q_a_time_to_convert",
    "q_sql_attribution" -> "q_a_attribution",
    "q_sql_incremental_rollup" -> "q_r_incremental_rollup")

  /** q_sql_* with NO DataFrame twin (pure-SQL surface: TPC-H text, the
    * native-expression demos): the expected output schema is pinned as a
    * literal instead — same drift protection, no twin to diff against.
    */
  private val pinned: Map[String, Seq[(String, String)]] = Map(
    "q_sql_topk_orders" -> Seq(
      "o_orderkey" -> "bigint", "o_totalprice" -> "double"),
    "q_sql_native_fingerprint" -> Seq(
      "doc_id" -> "bigint", "fp" -> "bigint"),
    "q_sql_tpch_q1" -> Seq(
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "sum_qty" -> "double", "sum_base_price" -> "double",
      "sum_disc_price" -> "double", "sum_charge" -> "double",
      "avg_qty" -> "double", "count_order" -> "bigint"),
    "q_sql_tpch_q3" -> Seq(
      "o_orderkey" -> "bigint", "revenue" -> "double",
      "o_orderdate" -> "timestamp_ntz"),
    "q_sql_stratified_sample" -> Seq(
      "event_id" -> "bigint", "event_type" -> "string",
      "value" -> "double"))

  private def fields(name: String): Set[(String, DataType)] =
    SparkEntry.queries(name)(spark, dir)
      .schema.fields.map((f: StructField) => (f.name, f.dataType)).toSet

  private def sqlNames: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("q_sql_")).toSeq.sorted

  test("every declared twin name resolves to a real query") {
    val all = SparkEntry.queries.keySet
    val missing = (twins.keySet ++ twins.values ++ pinned.keySet)
      .filterNot(all.contains)
    assert(missing.isEmpty, s"unknown query names in twin map: $missing")
  }

  test("each q_sql_* alias reuses its DataFrame twin's definition: same " +
      "run function, byte-identical oracle; fk_audit stays two queries") {
    def oracleBytes(q: String): Option[Seq[Byte]] =
      SparkEntry.oracleSql.get(q).map(_.getBytes("UTF-8").toSeq)
    val split = aliases.toSeq.sorted.flatMap { case (sqlQ, dfQ) =>
      val sameRun = SparkEntry.queries(sqlQ) eq SparkEntry.queries(dfQ)
      val sameOracle = oracleBytes(dfQ).isDefined &&
        oracleBytes(sqlQ) == oracleBytes(dfQ)
      if (sameRun && sameOracle) None
      else Some(s"$sqlQ vs $dfQ: same run=$sameRun, same oracle=$sameOracle")
    }
    assert(split.isEmpty, "aliases with a second definition:\n" +
      split.mkString("\n"))
    // q_sql_fk_audit projects 4 of q_r_fk_audit's 6 columns: a distinct
    // query, not an alias
    assert(SparkEntry.queries("q_sql_fk_audit") ne
      SparkEntry.queries("q_r_fk_audit"))
    assert(oracleBytes("q_sql_fk_audit") != oracleBytes("q_r_fk_audit"))
  }

  test("every q_sql_* query has a twin or a pinned schema (no unguarded " +
      "SQL surface)") {
    val unguarded = sqlNames
      .filterNot(q => twins.contains(q) || pinned.contains(q))
    assert(unguarded.isEmpty,
      s"new q_sql_* queries need a twin row or a pinned schema: $unguarded")
    val both = twins.keySet intersect pinned.keySet
    assert(both.isEmpty, s"twin AND pin is ambiguous: $both")
  }

  test("pinned q_sql_* schemas match their literals exactly") {
    val drift = pinned.toSeq.sortBy(_._1).flatMap { case (q, want) =>
      val got = SparkEntry.queries(q)(spark, dir).schema.fields
        .map(f => (f.name, f.dataType.simpleString)).toSeq
      if (got.toSet == want.toSet) None
      else Some(s"$q: got=${got.mkString(", ")} want=${want.mkString(", ")}")
    }
    assert(drift.isEmpty, "pinned schema drift:\n" + drift.mkString("\n"))
  }

  test("q_sql_* schemas equal their DataFrame twins (name AND dataType)") {
    // Compared on the intersection of column names: some twins project
    // extra passthrough columns (q_scan_range carries user_id, q_r_fk_audit
    // extra audit columns) — the dtype contract applies to the shared ones.
    val drift = twins.toSeq.sortBy(_._1).flatMap { case (sqlQ, dfQ) =>
      val a = fields(sqlQ).toMap; val b = fields(dfQ).toMap
      val shared = a.keySet intersect b.keySet
      if (shared.isEmpty) Some(s"$sqlQ vs $dfQ: no shared columns " +
        s"(sql=${a.keySet.toSeq.sorted} twin=${b.keySet.toSeq.sorted})")
      else {
        val bad = shared.toSeq.sorted.filter(c => a(c) != b(c))
          .map(c => s"$c: sql=${a(c)} twin=${b(c)}")
        if (bad.isEmpty) None
        else Some(s"$sqlQ vs $dfQ dtype drift — ${bad.mkString(", ")}")
      }
    }
    assert(drift.isEmpty, "schema drift:\n" + drift.mkString("\n"))
  }

  test("no q_sql_* output column is DECIMAL unless its twin's is") {
    val offenders = sqlNames.flatMap { q =>
      val dec = fields(q).collect { case (n, _: DecimalType) => n }
      val twinDec = twins.get(q)
        .map(t => fields(t).collect { case (n, _: DecimalType) => n })
        .getOrElse(Set.empty[String])
      val bad = dec -- twinDec
      if (bad.isEmpty) None
      else Some(s"$q leaks DECIMAL columns ${bad.toSeq.sorted} " +
        "(CAST ... AS DOUBLE at the output boundary)")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ApproxBounds.report: all seven sketch twins within their bounds at sf0.001") {
    val verdicts = ApproxBounds.report(spark, dir)
    CacheScope.release(spark)
    assert(verdicts.map(_._1).toSet == Set("q_a2_distinct_approx",
      "q_a4_quantiles_approx", "q_a5_robust_scaler_approx",
      "q_a_active_users_approx", "q_p9_winsorize_approx",
      "q_p_outlier_mad_approx", "q_s_curriculum_phases_approx"),
      s"twins: ${verdicts.map(_._1)}")
    verdicts.foreach { case (n, v) => assert(v.ok, s"$n: ${v.detail}") }
  }
}
