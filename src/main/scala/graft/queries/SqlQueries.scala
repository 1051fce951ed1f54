package graft.queries

import graft.{Query, QueryPack, Tables}

/** S8: the Grafana-style text-SQL entry surface. Each query written here
  * is ONE SQL string executed verbatim by BOTH engines — `spark.sql` over
  * the registered temp views and DuckDB over the same parquet — proving
  * the dashboard path (§3.3: parse → Catalyst analyze/optimize → pruned
  * scan) end-to-end, not just the DataFrame API.
  *
  * The ten aliases at the end are not SQL text: each is a DataFrame
  * query's own `Query` value (body and oracle) registered under its
  * `q_sql_*` dashboard name. SQL text and the DataFrame API go through
  * the same Catalyst optimizer, so a second body of the same query would
  * only be a second place for a fix to land.
  */
object SqlQueries extends QueryPack {

  private def sqlQuery(name: String, text: String, doc: String): Query =
    Query(name,
      (s, dir) => { Tables.ensureRegistered(s, dir); s.sql(text) },
      Some(text), doc)

  override def queries: Seq[Query] = Seq(

    sqlQuery("q_sql_range_scan",
      """SELECT event_id, ts, value FROM events
        |WHERE event_type = 'purchase'
        |  AND ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-12 00:00:00'""".stripMargin,
      doc = "S8/S4: Grafana panel time-range scan as shared SQL text — Catalyst " +
        "pushes the key and time predicates into the parquet scan"),

    sqlQuery("q_sql_latest_n",
      """SELECT event_id, ts, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY ts DESC, event_id DESC LIMIT 50""".stripMargin,
      doc = "S8/S5: latest-N retrieval as shared SQL text — " +
        "TakeOrderedAndProject, no full sort"),

    sqlQuery("q_sql_topk_orders",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
      doc = "S8: top-k over the fact table as shared SQL text"),

    // custom native expression callable from text SQL (registered via
    // GraftExtensions / FunctionBridge); the DuckDB oracle replays the
    // byte fold — one query, two engines, three function surfaces
    Query("q_sql_native_fingerprint",
      (s, dir) => {
        Tables.ensureRegistered(s, dir)
        s.sql("SELECT doc_id, rolling_hash(text) AS fp FROM documents")
      },
      Some("""SELECT doc_id,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(generate_series(1, length(text)), c -> CAST(ord(text[c]) AS BIGINT))),
             |    (a, x) -> (a * 31 + x) % 2147483647) AS fp
             |FROM documents""".stripMargin),
      doc = "S8 + custom Expression: the codegen'd rolling_hash invoked from " +
        "spark.sql text via the session function registry (GraftExtensions)"),

    Query("q_sql_vector_search",
      (s, dir) => {
        Tables.ensureRegistered(s, dir)
        // S8 × vector pillar: similarity search reachable from pure SQL
        // text — the codegen'd cosine_sim from the session registry over
        // the registered embeddings view; Catalyst plans the same
        // broadcast-query-row + TakeOrderedAndProject shape as the
        // DataFrame q_e_cosine_topk.
        s.sql(
          """SELECT e.vec_id,
            |  ROUND(cosine_sim(CAST(e.embedding AS ARRAY<DOUBLE>), q.qv), 6) + 0.0 AS sim
            |FROM embeddings e,
            |  (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS qv
            |   FROM embeddings WHERE vec_id = 0) q
            |WHERE e.vec_id <> 0
            |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
             |SELECT e.vec_id, ROUND(list_cosine_similarity(e.emb, q.qv), 6) + 0.0 AS sim
             |FROM e, q WHERE e.vec_id <> 0
             |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin),
      doc = "S8 x vector pillar: brute-force cosine top-k as pure SQL " +
        "text — the codegen'd cosine_sim expression invoked through the " +
        "session function registry; same broadcast + per-partition-heap " +
        "plan as the DataFrame form"),

    sqlQuery("q_sql_tpch_q1",
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) + 0.0 AS sum_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) + 0.0 AS sum_base_price,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE), 2) + 0.0 AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(8,2)))
        |    * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE), 2) + 0.0 AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) + 0.0 AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      doc = "TPC-H Q1 (pricing summary) as ONE shared SQL text: the " +
        "classic OLAP scan-heavy aggregate — DECIMAL-cast sums are " +
        "order-independent exact (the VWAP discipline), so a 1000-way " +
        "partial aggregation can't drift a cent; predicate pushes to the " +
        "parquet scan, partial aggs collapse map-side"),

    sqlQuery("q_sql_tpch_q3",
      """SELECT o_orderkey,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE), 2) + 0.0 AS revenue,
        |  o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
      doc = "TPC-H Q3 (shipping priority) as ONE shared SQL text: " +
        "selective dimension filter -> fact joins -> decimal-exact " +
        "revenue top-k; Catalyst broadcast-joins the filtered customer " +
        "side and pushes both date predicates into the scans — the " +
        "classic join-reorder/pushdown showcase"),

    // S8 × text-curation pillar: the quality gate from pure SQL text —
    // token_count / quality_score / lang_id resolve from the session
    // function registry (GraftExtensions) into the same codegen'd column
    // trees as graft.text.TextAnalysis; the DuckDB oracle replays the
    // score arithmetic term for term
    Query("q_sql_quality_filter",
      (s, dir) => {
        Tables.ensureRegistered(s, dir)
        s.sql(
          """SELECT doc_id, token_count(text) AS n_tokens,
            |  ROUND(quality_score(text), 4) + 0.0 AS quality
            |FROM documents
            |WHERE quality_score(text) >= 0.4 AND token_count(text) >= 20
            |  AND lang_id(text) = 'en'""".stripMargin)
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, ${TextQueries.nTokSql} AS n_tokens,
              |    ${TextQueries.qualityExprSql} AS quality,
              |    ${TextQueries.swEn} AS s_en, ${TextQueries.swEs} AS s_es,
              |    ${TextQueries.swDe} AS s_de, ${TextQueries.swFr} AS s_fr,
              |    ${TextQueries.cjk} AS s_zh
              |  FROM documents)
              |SELECT doc_id, n_tokens, ROUND(quality, 4) + 0.0 AS quality
              |FROM scored
              |WHERE quality >= 0.4 AND n_tokens >= 20
              |  AND ${TextQueries.langCaseSql} = 'en'""".stripMargin),
      doc = "S8 x curation pillar: the quality/language/token gate as pure " +
        "SQL text — registry functions expand to the map-only codegen'd " +
        "expressions, so a dashboard user curates without any Scala"),

    sqlQuery("q_sql_fk_audit",
      """WITH lo AS (
        |  SELECT l.l_orderkey AS ckey, o.o_orderkey AS pkey
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey),
        |oc AS (
        |  SELECT o.o_custkey AS ckey, c.c_custkey AS pkey
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey),
        |a AS (
        |  SELECT 'lineitem->orders' AS relation, COUNT(*) AS child_rows,
        |    CAST(SUM(CASE WHEN ckey IS NOT NULL AND pkey IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
        |    COUNT(DISTINCT CASE WHEN ckey IS NOT NULL AND pkey IS NULL
        |      THEN ckey END) AS orphan_keys
        |  FROM lo
        |  UNION ALL
        |  SELECT 'orders->customer', COUNT(*),
        |    CAST(SUM(CASE WHEN ckey IS NOT NULL AND pkey IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT),
        |    COUNT(DISTINCT CASE WHEN ckey IS NOT NULL AND pkey IS NULL
        |      THEN ckey END)
        |  FROM oc)
        |SELECT * FROM a ORDER BY relation""".stripMargin,
      doc = "S8 x data-quality pillar: the FK orphan audit as ONE shared " +
        "ANSI text — parent sides collapse to DISTINCT key sets inside the " +
        "text, so Catalyst still sizes broadcast vs shuffle-hash on the key " +
        "set; the pre-publish integrity gate runnable from any SQL console"),

    Query("q_sql_bucketed_activity",
      (s, dir) => {
        // S8 x layout pillar: the bucketed+sorted table is reachable from
        // pure SQL text — Catalyst satisfies the window's partitioning AND
        // ordering from the scan's bucket hash + on-disk sort exactly as
        // it does for the DataFrame twin (no API lock-in: the layout
        // optimizes the dashboard path too). Oracle runs the plain-parquet
        // twin text, proving the layout changes cost, not answers.
        val t = graft.sources.BucketedLayout.ensureEventsByUser(s, dir)
        s.sql(
          s"""WITH g AS (
             |  SELECT user_id, ts,
             |    CAST(ts AS BIGINT) - CAST(lag(ts) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             |      AS gap_s
             |  FROM $t)
             |SELECT user_id, COUNT(*) AS n_events,
             |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
             |  CAST(SUM(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_session_breaks,
             |  ROUND(AVG(gap_s), 2) + 0.0 AS avg_gap_s
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CAST(floor(epoch(ts)) AS BIGINT)
             |      - CAST(floor(epoch(lag(ts) OVER (
             |          PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
             |      AS gap_s
             |  FROM events)
             |SELECT user_id, COUNT(*) AS n_events,
             |  MIN(ts) AS first_ts, MAX(ts) AS last_ts,
             |  CAST(SUM(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_session_breaks,
             |  ROUND(AVG(gap_s), 2) + 0.0 AS avg_gap_s
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin),
      doc = "S8 x layout pillar: per-user activity profile from pure SQL " +
        "text over the bucketed+sorted table — the window and aggregate " +
        "ride the scan's bucket hash + on-disk order with zero Exchange/" +
        "Sort exactly as the DataFrame twin does (BucketedLayoutSpec " +
        "asserts the text plan too); oracle is the plain-parquet twin " +
        "text — the layout changes cost, never answers"),

    // DataFrame queries a dashboard reaches under a q_sql_* name: the
    // same Query value (body and oracle), renamed.
    Relational.availability.copy(name = "q_sql_availability"),
    SamplingQueries.stratifiedSample.copy(name = "q_sql_stratified_sample"),
    Relational.scd2.copy(name = "q_sql_scd2"),
    Relational.activeUsers.copy(name = "q_sql_active_users"),
    Relational.mergeUpsert.copy(name = "q_sql_merge_upsert"),
    Relational.abcPareto.copy(name = "q_sql_abc_pareto"),
    Relational.retentionCohorts.copy(name = "q_sql_retention_cohorts"),
    Relational.timeToConvert.copy(name = "q_sql_time_to_convert"),
    Relational.attribution.copy(name = "q_sql_attribution"),
    Relational.incrementalRollup.copy(name = "q_sql_incremental_rollup")
  )
}
