package graft.queries

import graft.{Query, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic training-data sampling — the knob a pretraining sweep
  * turns to hit a domain mix (e.g. downsample crawl, upsample code).
  *
  * The sample decision is a pure integer hash of the row key
  * (three rounds of `h = h * 48271 mod p`, p = 2^31−1 — the iterated
  * multiplier), NOT `rand()`: the same row is kept or dropped on every
  * run, on every executor, at every scale — reproducible data recipes
  * and exact SQL replay. Map-only: the filter evaluates inside the scan
  * stage with zero shuffles; at 100 TB the sample never materializes the
  * unsampled corpus anywhere.
  *
  * Per-stratum rates compose as a CASE over the stratum column (broadcast
  * by literal — no join). Rates here: purchase 50%, view 25%, click 10%,
  * everything else 5% — an intentional "keep conversions, thin the
  * firehose" shape.
  */
object SamplingQueries extends QueryPack {

  import graft.functions.KeyHash

  private def ev(s: SparkSession, dir: String) = Tables(s, dir, "events")

  // Single shared definition of the sampling hash (Scala + SQL pair) —
  // see graft.functions.KeyHash for the three-round rationale.
  private def keyHash(c: Column): Column = KeyHash.column(c)
  private def keyHashSql(e: String): String = KeyHash.sql(e)

  // Integer keep-thresholds (floor(rate * P)) as EXACT literals on both
  // sides — a float rate*P would cast-round differently in the two
  // engines at the boundary value. purchase 50%, view 25%, click 10%,
  // else 5%.
  private val thrExpr: Column =
    when(col("event_type") === "purchase", lit(1073741823L))
      .when(col("event_type") === "view", lit(536870911L))
      .when(col("event_type") === "click", lit(214748364L))
      .otherwise(lit(107374182L))

  private val thrSql =
    """CASE event_type WHEN 'purchase' THEN 1073741823 WHEN 'view' THEN 536870911
      |     WHEN 'click' THEN 214748364 ELSE 107374182 END""".stripMargin

  /** The quality curriculum over `documents`: `fit` turns the
    * (doc_id, quality, n_tokens) frame into the 1-row tercile cut frame
    * (c33, c66), which is broadcast; assignment is then MAP-ONLY —
    * deliberately not ntile over a global window, which would sort the
    * corpus on one partition (the scale trap a naive curriculum
    * implementation has). Report = the per-phase doc/token budget a
    * curriculum dataloader consumes; phase 1 = cleanest.
    */
  private[queries] def curriculumPhases(s: SparkSession, dir: String)(
      fit: DataFrame => DataFrame): DataFrame = {
    import graft.text.TextAnalysis
    val q = Tables(s, dir, "documents").select(col("doc_id"),
      round(TextAnalysis.qualityScore("text"), 4).as("quality"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    q.crossJoin(broadcast(fit(q)))
      .select(col("quality"), col("n_tokens"),
        when(col("quality") >= col("c66"), lit(1))
          .when(col("quality") >= col("c33"), lit(2))
          .otherwise(lit(3)).as("phase"))
      .groupBy("phase")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        (round(min("quality"), 4) + lit(0.0)).as("q_min"),
        (round(max("quality"), 4) + lit(0.0)).as("q_max"))
      .orderBy("phase")
  }

  override def queries: Seq[Query] = Seq(

    stratifiedSample,

    Query(
      "q_s_sample_rates",
      (s, dir) => {
        val base = ev(s, dir)
          .withColumn("kept",
            (keyHash(col("event_id")) < thrExpr).cast("int"))
        base.groupBy("event_type")
          .agg(count(lit(1)).as("n_total"), sum("kept").as("n_kept"),
            (round(sum("kept") / count(lit(1)), 4) + lit(0.0))
              .as("achieved_rate"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, COUNT(*) AS n_total,
              |  CAST(SUM(CASE WHEN ${keyHashSql("event_id")} < ($thrSql)
              |        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  ROUND(SUM(CASE WHEN ${keyHashSql("event_id")} < ($thrSql)
              |        THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) + 0.0 AS achieved_rate
              |FROM events GROUP BY event_type
              |ORDER BY event_type""".stripMargin),
      doc = "audit face of the stratified sample: achieved vs target rate per " +
        "stratum — one partial-agg pass, the mix report a data recipe ships with"),

    Query(
      "q_s_fixed_k_sample",
      (s, dir) => {
        // EXACT-k per stratum (eval-set carving: "give me exactly 32 docs
        // per source, reproducibly"): deterministic priority = the Lehmer
        // key hash, ties by id. Rate-based sampling can't promise a count;
        // rank-by-hash can. The rk <= 32 predicate triggers Spark's
        // WindowGroupLimit: each map task keeps only its local top-32 per
        // stratum BEFORE the shuffle, so the sort never sees the full
        // stratum — the property that makes exact-k viable at 100 TB.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(KeyHash.column(col("doc_id")), col("doc_id"))
        Tables(s, dir, "documents")
          .withColumn("rk", row_number().over(w).cast("long"))
          .where(col("rk") <= 32)
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy("source", "rk")
      },
      Some(s"""SELECT doc_id, source, rk FROM (
              |  SELECT doc_id, source, ROW_NUMBER() OVER (
              |    PARTITION BY source
              |    ORDER BY ${KeyHash.sql("doc_id")}, doc_id) AS rk
              |  FROM documents)
              |WHERE rk <= 32 ORDER BY source, rk""".stripMargin),
      doc = "exact-k-per-stratum sample (32 docs per source): rank by the " +
        "deterministic Lehmer key hash, ties by id — reproducible counts " +
        "where rate-based sampling only promises an expectation; the " +
        "rk <= 32 filter becomes a WindowGroupLimit (map-side partial " +
        "top-k before the stratum shuffle)"),

    Query(
      "q_s_weighted_sample",
      (s, dir) => {
        // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
        // A-ES): each doc gets key = ln(u) / w with u uniform in (0,1]
        // and w its weight (here n_chars — longer docs carry more
        // tokens); the global top-k by key IS an exact weighted sample
        // without replacement. u is deterministic — (KeyHash+1) / 2^31,
        // an exact dyadic rational, so both engines feed ln() the same
        // double; the key is rounded BEFORE ranking (engine-stable
        // order, ties by doc_id). top-k via TakeOrderedAndProject:
        // per-partition heaps, no global sort, no rand() — the
        // reproducible "sample 50 docs ∝ length" a recipe pins.
        val u = (graft.functions.KeyHash.column(col("doc_id")) + 1L)
          .cast("double") / lit(2147483648.0)
        // non-positive weight (n_chars ≤ 0: empty text, or rotten
        // metadata) = sampling probability 0 — its key is null and sorts
        // last under DESC in both engines, so it enters only when the
        // corpus has fewer than k weighted docs. The unguarded divide is
        // an ANSI DIVIDE_BY_ZERO at 0, and a NEGATIVE weight would flip
        // ln(u) positive and deterministically WIN the sample
        // (HostileInputProbe + review)
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            (round(log(u)
              / nullif(greatest(col("n_chars"), lit(0L)), lit(0L)), 6)
              + lit(0.0)).as("es_key"))
          .orderBy(col("es_key").desc, col("doc_id"))
          .limit(50)
      },
      Some(s"""SELECT doc_id, source, n_chars,
              |  ROUND(ln((${graft.functions.KeyHash.sql("doc_id")} + 1)
              |    / 2147483648.0) / NULLIF(GREATEST(n_chars, 0), 0), 6)
              |    + 0.0 AS es_key
              |FROM documents
              |ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin),
      doc = "weighted sample without replacement (Efraimidis–Spirakis): " +
        "key = ln(u)/weight with u a deterministic dyadic rational of the " +
        "Lehmer key hash, global top-k by key — exact ∝-weight sampling " +
        "with no rand() and no global sort (per-partition top-k heaps); " +
        "weight = n_chars, the token-mass proxy"),

    Query(
      "q_s_holdout_split",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Deterministic train/val/test assignment — the split every
        // training run needs to be EXHAUSTIVE and DISJOINT (unlike
        // keep-rate sampling): KeyHash thresholds at 90%/95% of the
        // Lehmer modulus partition every doc exactly once, reproducibly,
        // with no rand() — re-running on a grown corpus keeps every old
        // doc's assignment. Map-only assignment in the scan stage; the
        // report is one partial-agg shuffle + a same-partition window.
        val t1 = 1932735282L // floor(0.90 * (2^31-1))
        val t2 = 2040109464L // floor(0.95 * (2^31-1))
        val kh = graft.functions.KeyHash.column(col("doc_id"))
        val w = Window.partitionBy("source")
        Tables(s, dir, "documents")
          .select(col("source"),
            when(kh < t1, lit("train")).when(kh < t2, lit("val"))
              .otherwise(lit("test")).as("split"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n"))
          .withColumn("frac",
            round(col("n") / sum("n").over(w), 4) + lit(0.0))
          .orderBy("source", "split")
      },
      Some(s"""WITH a AS (SELECT source,
              |    CASE WHEN ${graft.functions.KeyHash.sql("doc_id")} < 1932735282 THEN 'train'
              |         WHEN ${graft.functions.KeyHash.sql("doc_id")} < 2040109464 THEN 'val'
              |         ELSE 'test' END AS split
              |  FROM documents),
              |c AS (SELECT source, split, COUNT(*) AS n FROM a GROUP BY 1, 2)
              |SELECT source, split, n,
              |  ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY source), 4) + 0.0 AS frac
              |FROM c ORDER BY source, split""".stripMargin),
      doc = "deterministic holdout split (90/5/5): KeyHash thresholds " +
        "partition every doc exactly once, reproducibly across corpus " +
        "growth — exhaustive and disjoint where keep-rate sampling is " +
        "neither; map-only assignment, one partial-agg report"),

    Query(
      "q_s_shard_manifest",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        // Export-side shard manifest: deterministic hash sharding
        // (shard = KeyHash(doc_id) mod 8 — stable across corpus growth,
        // unlike repartition's round-robin) plus the per-shard audit a
        // dataset release ships: row count, char volume, id range, an
        // order-independent content anchor (MIN md5) and an id checksum
        // (decimal-summed KeyHash mod P — overflow-exact at any corpus
        // size where a BIGINT sum of 2^31-scale hashes would wrap), and
        // the balance ratio (n·shards/total ≈ 1.0 when the hash is
        // uniform). Scale shape: map-only assignment in the scan stage,
        // one partial-agg shuffle on 8 keys, total via a broadcast 1-row
        // frame — the writer then writes `partitionBy(shard)` with no
        // further shuffle.
        val N = 8
        val P = graft.functions.KeyHash.P
        val kh = graft.functions.KeyHash.column(col("doc_id"))
        // the corpus total rides a whole-frame window over the 8-row
        // aggregate (NOT a second aggregate of the scan — that plans as
        // two corpus scans; plan-asserted in PlanShapeSpec)
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
        Tables(s, dir, "documents")
          .select(pmod(kh, lit(N.toLong)).as("shard"),
            col("doc_id"), col("n_chars"),
            md5(col("text")).as("h"), kh.as("kh"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("n_chars"),
            min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
            min("h").as("content_anchor"),
            (sum(col("kh").cast(DecimalType(38, 0))) % lit(P))
              .cast("long").as("id_checksum"))
          // limit(N) is the shard-count contract made VISIBLE TO THE
          // PLAN: shard = pmod(kh, N) can produce at most N groups, so
          // the limit is a no-op on data — but it puts a row-bounding
          // node under the whole-frame balance window, so PlanShapeSpec's
          // global-window sweep proves the bound instead of allowlisting
          // it (r9 verdict item 5).
          .limit(N)
          .withColumn("balance",
            round(col("n_docs") * N * 1.0 / sum("n_docs").over(wAll), 4)
              + lit(0.0))
          .orderBy("shard")
      },
      Some(s"""WITH a AS (SELECT ${graft.functions.KeyHash.sql("doc_id")} % 8 AS shard,
              |    doc_id, n_chars, md5(text) AS h,
              |    ${graft.functions.KeyHash.sql("doc_id")} AS kh
              |  FROM documents),
              |m AS (SELECT shard, COUNT(*) AS n_docs,
              |        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
              |        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
              |        MIN(h) AS content_anchor,
              |        CAST(SUM(kh) % 2147483647 AS BIGINT) AS id_checksum
              |      FROM a GROUP BY 1),
              |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tot FROM m)
              |SELECT shard, n_docs, n_chars, min_doc, max_doc, content_anchor,
              |  id_checksum, ROUND(n_docs * 8 * 1.0 / tot, 4) + 0.0 AS balance
              |FROM m, t ORDER BY shard""".stripMargin),
      doc = "deterministic shard manifest (KeyHash mod 8): per-shard row/" +
        "char counts, id range, order-independent content anchor and " +
        "overflow-exact id checksum, balance ratio — the release audit " +
        "for a stable-sharded export; map-only assignment + one 8-key " +
        "partial-agg shuffle"),

    Query(
      "q_s_shard_diff",
      (s, dir) => {
        import graft.functions.RollingHash.rolling_hash
        import org.apache.spark.sql.types.DecimalType
        // Incremental-export planner: which shards changed since the
        // previous snapshot, so a release re-writes ONLY those. The
        // previous snapshot is the same deterministic simulation as
        // q_t_corpus_diff (KeyHash(doc_id) < 0.8·P existed; every 17th
        // doc had a ' v1' body) — production swaps in the stored prev
        // manifest, same plan. Per-shard content checksums are
        // decimal-summed rolling_hash folds (order-independent,
        // overflow-exact, content-SENSITIVE — an id checksum would miss
        // changed bodies). Scale shape: ONE corpus scan computes both
        // snapshots' fingerprints side by side (map-only codegen), one
        // 8-key partial-agg shuffle; stable hash sharding means an
        // unchanged shard's bytes are bit-identical and skippable.
        val P = graft.functions.KeyHash.P
        val kh = graft.functions.KeyHash.column(col("doc_id"))
        Tables(s, dir, "documents")
          .select(pmod(kh, lit(8L)).as("shard"),
            (kh < lit(1717986917L)).as("in_prev"), // floor(0.8 * (2^31-1))
            rolling_hash(col("text")).as("fp_cur"),
            rolling_hash(when(pmod(col("doc_id"), lit(17)) === 3,
              concat(col("text"), lit(" v1")))
              .otherwise(col("text"))).as("fp_prev"))
          .groupBy("shard")
          .agg(count(when(col("in_prev"), lit(1))).as("n_prev"),
            count(lit(1)).as("n_cur"),
            (coalesce(sum(when(col("in_prev"), col("fp_prev"))
              .cast(DecimalType(38, 0))), lit(0)) % lit(P))
              .cast("long").as("cksum_prev"),
            (sum(col("fp_cur").cast(DecimalType(38, 0))) % lit(P))
              .cast("long").as("cksum_cur"))
          .withColumn("changed",
            col("n_prev") =!= col("n_cur")
              || col("cksum_prev") =!= col("cksum_cur"))
          .withColumn("n_export",
            when(col("changed"), col("n_cur")).otherwise(lit(0L)))
          .orderBy("shard")
      },
      Some(s"""WITH b AS (SELECT ${graft.functions.KeyHash.sql("doc_id")} % 8 AS shard,
              |    ${graft.functions.KeyHash.sql("doc_id")} < 1717986917 AS in_prev,
              |    ${DedupQueries.foldSql("text")} AS fp_cur,
              |    ${DedupQueries.foldSql(
               "(CASE WHEN doc_id % 17 = 3 THEN text || ' v1' ELSE text END)")} AS fp_prev
              |  FROM documents),
              |m AS (SELECT shard,
              |    CAST(COUNT(CASE WHEN in_prev THEN 1 END) AS BIGINT) AS n_prev,
              |    COUNT(*) AS n_cur,
              |    CAST(COALESCE(SUM(CASE WHEN in_prev THEN fp_prev END), 0)
              |      % 2147483647 AS BIGINT) AS cksum_prev,
              |    CAST(SUM(fp_cur) % 2147483647 AS BIGINT) AS cksum_cur
              |  FROM b GROUP BY 1)
              |SELECT shard, n_prev, n_cur, cksum_prev, cksum_cur,
              |  (n_prev <> n_cur OR cksum_prev <> cksum_cur) AS changed,
              |  CAST(CASE WHEN n_prev <> n_cur OR cksum_prev <> cksum_cur
              |       THEN n_cur ELSE 0 END AS BIGINT) AS n_export
              |FROM m ORDER BY shard""".stripMargin),
      doc = "incremental-export planner: per-shard content checksums " +
        "(decimal-summed rolling_hash folds — order-independent, " +
        "content-sensitive) for previous and current snapshots computed " +
        "in ONE corpus scan, changed-shard flags + re-export row counts; " +
        "with stable hash sharding an unchanged shard is skippable " +
        "bit-for-bit — the op that turns a full re-export into O(changed)"),

    Query(
      "q_s_curriculum_phases",
      // 3-phase quality curriculum (clean-first): phase cut points are
      // the corpus quality terciles fitted as exact interpolated
      // percentiles
      (s, dir) => curriculumPhases(s, dir)(q => q.agg(
        (round(expr("percentile(quality, 1.0/3)"), 4) + lit(0.0)).as("c33"),
        (round(expr("percentile(quality, 2.0/3)"), 4) + lit(0.0)).as("c66"))),
      Some(s"""WITH q AS (SELECT doc_id, ROUND(${TextQueries.qualityExprSql}, 4) AS quality,
              |         CAST(${TextQueries.nTokSql} AS BIGINT) AS n_tokens
              |       FROM documents),
              |c AS (SELECT ROUND(quantile_cont(quality, 1.0/3), 4) + 0.0 AS c33,
              |        ROUND(quantile_cont(quality, 2.0/3), 4) + 0.0 AS c66 FROM q),
              |p AS (SELECT quality, n_tokens,
              |        CASE WHEN quality >= c66 THEN 1
              |             WHEN quality >= c33 THEN 2 ELSE 3 END AS phase
              |      FROM q, c)
              |SELECT phase, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
              |  ROUND(MIN(quality), 4) + 0.0 AS q_min,
              |  ROUND(MAX(quality), 4) + 0.0 AS q_max
              |FROM p GROUP BY phase ORDER BY phase""".stripMargin),
      doc = "3-phase quality curriculum: tercile cut points fitted as " +
        "exact percentiles (1-row broadcast), map-only phase assignment " +
        "— no global sort; per-phase doc/token budgets for a clean-first " +
        "dataloader schedule")
  )

  // SqlQueries also serves this value as q_sql_stratified_sample.
  private[queries] val stratifiedSample: Query = Query(
    "q_s_stratified_sample",
    (s, dir) =>
      ev(s, dir)
        .where(keyHash(col("event_id")) < thrExpr)
        .select(col("event_id"), col("event_type"), col("value")),
    Some(s"""SELECT event_id, event_type, value FROM events
            |WHERE ${keyHashSql("event_id")} < ($thrSql)""".stripMargin),
    doc = "deterministic stratified sample: per-stratum keep rates via an " +
      "integer Lehmer hash of the key — reproducible (no rand()), map-only, " +
      "pushed into the scan stage; the training-data mix knob")
}
