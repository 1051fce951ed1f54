package graft.queries

import graft.{Query, QueryPack, Tables}
import graft.dedup.NearDup
import graft.functions.VectorExpressions.lsh_signature
import graft.vector.VectorSearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search surface over the `embeddings` table (vec_id BIGINT,
  * embedding FLOAT[64], label INT).
  *
  * Oracle discipline: the LSH signature uses integer-hash Rademacher
  * hyperplanes and ascending-index double accumulation, so DuckDB replays
  * it bit-exactly with an explicit `list_reduce` left fold; cosine values
  * are ROUND(…,6)+0.0 on both sides (last-ulp engine noise + IEEE -0.0).
  */
object VectorQueries extends QueryPack {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  private def queryVec(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).where(col("vec_id") === 0)

  /** Shared RAG first stage: the fused top-20 RRF frame consumed by
    * q_e_hybrid_rrf AND its two downstream queries (q_e_context_pack,
    * q_e_fusion_gain). Built once per (session, dir) and retained via
    * [[graft.CacheScope]] — the indicator-trio discipline
    * ([[IndicatorQueries]]): the two corpus-scan legs (BM25 + dense
    * cosine) run once instead of once per consumer. The reuse crosses
    * query boundaries, so ReusedExchange could never dedupe it in-plan.
    * Columns: doc_id, r_dense, r_bm25, rrf; ≤20 rows.
    */
  private final case class FusedTop20(dir: String)
      extends graft.CacheScope.Key[DataFrame]

  private def fusedTop20(s: SparkSession, dir: String): DataFrame =
    graft.CacheScope.memo(s, FusedTop20(dir))(
      graft.CacheScope.retain(buildFusedTop20(s, dir)))

  /** Memoized q_e_mmr_topk result per (session, dir): the unrolled
    * greedy plan is ~25 operators deep with per-round cached unions, so
    * a REBUILD pays ~2 s of re-analysis/canonicalization just to
    * rediscover the cache (measured, r10) — handing back the same
    * materialized 5-row frame is the fusedTop20 discipline applied to
    * the selection cascade. Evicted by CacheScope.release.
    */
  private final case class MmrTopk(dir: String)
      extends graft.CacheScope.Key[DataFrame]

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack et al., k=60) of a
    * sparse BM25 leg and a dense cosine leg — the standard RAG first-stage
    * retriever. Each leg is the already-proven operator (q_t_bm25_topk /
    * q_e_cosine_topk) truncated to its top-50; ranks are integers, so the
    * fused 1/(60+r) sums are bit-identical across engines. Scale shape:
    * both legs end in TakeOrderedAndProject (per-partition heaps), the
    * rank windows and the full-outer fuse run over ≤50-row frames — the
    * corpus is never shuffled wider than each leg already shuffles it.
    * Doc 0 is the query (its embedding = the dense probe) and is excluded
    * from both legs.
    */
  private def buildFusedTop20(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 50
    val dense = VectorSearch.cosineTopK(
      emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
      "vec_id", "embedding", K)
      .select(col("vec_id").as("doc_id"),
        row_number().over(Window.orderBy(col("sim").desc, col("vec_id")))
          .cast("long").as("r_dense"))
    // The sparse leg is the SHARED BM25 scorer (map-only doc lengths,
    // map-side-filtered tf explode, broadcast idf/stats — see
    // TextQueries.bm25PerDoc), truncated to its top-K and ranked.
    val sparse = TextQueries.bm25PerDoc(
        Tables(s, dir, "documents").where(col("doc_id") =!= 0),
        Seq("join", "vector", "stream"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(K)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
          .cast("long").as("r_bm25"))
    dense.join(sparse, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_dense"), col("r_bm25"),
        (round(
          coalesce(lit(1.0) / (lit(60.0) + col("r_dense")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("r_bm25")), lit(0.0)),
          6) + lit(0.0)).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  /** Oracle twin of [[buildFusedTop20]]'s two retrieval legs: the dense
    * cosine top-50 ranked as `dr(doc_id, r_dense)` and the BM25 top-50
    * ranked as `br(doc_id, r_bm25)`, doc 0 (the query) excluded from both.
    */
  private val ragLegCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
       |dense AS (SELECT e.vec_id AS doc_id,
       |            ROUND(list_cosine_similarity(e.emb, q.qv), 6) + 0.0 AS sim
       |          FROM e, q WHERE e.vec_id <> 0
       |          ORDER BY sim DESC, doc_id LIMIT 50),
       |dr AS (SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS r_dense
       |       FROM dense),
       |${TextQueries.bm25Ctes(" WHERE doc_id <> 0")},
       |bm AS (SELECT t.doc_id,
       |         ROUND(SUM(i.idf * t.tf * 2.2
       |           / (t.tf + 1.2 * (0.25 + 0.75 * l.len
       |               / (tot_len * 1.0 / n_docs)))), 4) + 0.0 AS bm25
       |       FROM tf t JOIN idf i USING (tok) JOIN lens l USING (doc_id), st
       |       GROUP BY t.doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
       |br AS (SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_bm25
       |       FROM bm)""".stripMargin

  /** Cosine-scored LSH self-pairs (vec_a < vec_b, `sim`) over the
    * embeddings: 4 bands × 12 bits, bucket-join candidates, deduplicated
    * across bands — each caller applies its own `sim` threshold.
    */
  private def lshSelfPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.cosine_sim
    val banded = VectorSearch.withLshBands(emb(s, dir), "embedding",
      nBands = 4, bitsPerBand = 12)
    NearDup.selfPairs(banded, Seq("band", "band_val"), "vec_id")((a, b) =>
        Seq(a("vec_id").as("vec_a"), b("vec_id").as("vec_b"),
          (round(cosine_sim(a("embedding"), b("embedding")), 6) + lit(0.0))
            .as("sim")))
      .dropDuplicates("vec_a", "vec_b")
  }

  /** Recall@10 of an index's top-10 (a `vec_id` frame) against the exact
    * brute-force top-10 for the query vector: (k, n_hits, recall). Both
    * sides are 10-row top-k frames, so the semi-join and the 1-row report
    * cost nothing next to the two scans at any corpus size.
    */
  private def recallAt10(s: SparkSession, dir: String,
      index: DataFrame): DataFrame =
    VectorSearch.cosineTopK(
        emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
        "vec_id", "embedding", 10)
      .select(col("vec_id"))
      .join(index.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(10).as("k"), col("n_hits"),
        (round(col("n_hits") / 10.0, 4) + lit(0.0)).as("recall"))

  /** Oracle twin of [[recallAt10]]: the exact top-10 CTE over `e` and
    * `q`, and the report over the index's top-10 CTE `index`.
    */
  private val exactTop10Cte =
    """exact AS (SELECT e.vec_id,
      |            ROUND(list_cosine_similarity(e.emb, q.qv), 6) + 0.0 AS sim
      |          FROM e, q WHERE e.vec_id <> 0
      |          ORDER BY sim DESC, e.vec_id LIMIT 10)""".stripMargin
  private def recallAt10Sql(index: String): String =
    s"""SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hits,
       |  ROUND(COUNT(*) / 10.0, 4) + 0.0 AS recall
       |FROM exact WHERE vec_id IN (SELECT vec_id FROM $index)""".stripMargin

  /** All-but-the-top fit over `e`'s `emb` (array<double>, dim 64): the
    * float32-quantized mean `mu` and the dominant direction `x` of the
    * mean-centered cloud after 3 power iterations (x ← normalize(CᵀC x)),
    * each a retained 1-row frame. Retaining them is ~free and makes each
    * fit pass execute once: without it the query-vector branch and every
    * later round re-run the whole fit subtree (measured 5.9× at 10×).
    */
  private def abttFit(s: SparkSession, e: DataFrame): (DataFrame, DataFrame) = {
    val muF = graft.CacheScope.retain(
      e.select(posexplode(col("emb")).as(Seq("j", "v")))
        .groupBy("j").agg(avg("v").cast("float").cast("double").as("m"))
        .agg(expr("transform(array_sort(collect_list(struct(j, m))), s -> s.m)")
          .as("mu")))
    var xF = s.range(1).select(expr(
      """transform(sequence(0, 63), j -> CASE WHEN j = 0
        |  THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"""
        .stripMargin).as("x"))
    for (_ <- 1 to 3) {
      val d = e.crossJoin(broadcast(muF)).crossJoin(broadcast(xF))
        .select(col("emb"), col("mu"), expr(abttDotX).as("dot"))
      val y = d.select(posexplode(expr(
        "transform(sequence(0, 63), j -> dot * (emb[j] - mu[j]))"))
        .as(Seq("j", "p")))
        .groupBy("j").agg(sum("p").cast("float").cast("double").as("y"))
      xF = graft.CacheScope.retain(
        y.agg(expr(
          "transform(array_sort(collect_list(struct(j, y))), s -> s.y)")
          .as("yv"))
          .select(expr(
            // nullif: a zero-norm iterate (single-row or all-identical
            // corpus — the mean-centered cloud is exactly 0) yields a
            // null direction instead of an ANSI DIVIDE_BY_ZERO; the
            // oracle mirrors with NULLIF (DegenerateProbe)
            """transform(yv, v -> round(v / nullif(round(sqrt(
              |  aggregate(transform(yv, w -> w * w), CAST(0 AS DOUBLE),
              |    (a, b) -> a + b)), 6), CAST(0 AS DOUBLE)), 6))"""
              .stripMargin).as("x")))
    }
    (muF, xF)
  }

  /** Per-row dot of the centered `emb` with the direction `x`. */
  private val abttDotX = "aggregate(transform(sequence(0, 63), " +
    "j -> (emb[j] - mu[j]) * x[j]), CAST(0 AS DOUBLE), (a, v) -> a + v)"

  /** Oracle twin of [[abttFit]]: `e`, the mean `mu`, and the iterates
    * `x0` … `x3` (each round's `d`/`y`/`x` CTEs).
    */
  private val abttFitCtes: String = {
    def xiter(i: Int): String = {
      val prev = s"x${i - 1}"
      s"""d$i AS (SELECT e.emb, mu.mu,
         |      list_reduce(list_prepend(0.0, list_transform(range(0, 64),
         |        j -> (e.emb[j+1] - mu.mu[j+1]) * $prev.x[j+1])), (a, v) -> a + v) AS dot
         |    FROM e, mu, $prev),
         |y$i AS (SELECT j, CAST(CAST(SUM(dot * (emb[j] - mu[j])) AS REAL) AS DOUBLE) AS y
         |    FROM d$i, (SELECT unnest(range(1, 65)) AS j) GROUP BY j),
         |x$i AS (SELECT list_transform(yv, v -> ROUND(v / NULLIF(ROUND(sqrt(
         |      list_reduce(list_prepend(0.0, list_transform(yv, w -> w*w)),
         |        (a,b) -> a+b)), 6), 0.0), 6)) AS x
         |    FROM (SELECT list(y ORDER BY j) AS yv FROM y$i))""".stripMargin
    }
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |mu0 AS (SELECT j, CAST(CAST(AVG(emb[j]) AS REAL) AS DOUBLE) AS m
       |        FROM e, (SELECT unnest(range(1, 65)) AS j) GROUP BY j),
       |mu AS (SELECT list(m ORDER BY j) AS mu FROM mu0),
       |x0 AS (SELECT list_transform(range(0, 64),
       |         j -> CASE WHEN j = 0 THEN 1.0 ELSE 0.0 END) AS x),
       |${xiter(1)},
       |${xiter(2)},
       |${xiter(3)}""".stripMargin
  }

  /** One Lloyd round as DuckDB CTEs, replaying
    * [[graft.vector.VectorSearch.trainCentroids]] exactly:
    * assignment = per-row argmax cosine against `c{i-1}` (ties → lowest
    * cid, the BestCell contract); means per (cell, dim) with
    * `CAST(AVG(...) AS REAL)` — the float32 quantization Spark's
    * `.toFloat` applies, which also absorbs the last-ulp summation-order
    * difference between the engines' double AVGs; cells that lose all
    * members keep their previous centroid (LEFT JOIN + COALESCE).
    */
  private def lloydRoundSql(i: Int, dim: Int): String = {
    val prev = s"c${i - 1}"
    s"""a$i AS (SELECT b.vec_id, b.emb,
       |         (SELECT c.cid FROM $prev c
       |          ORDER BY list_cosine_similarity(b.emb, c.cemb) DESC, c.cid
       |          LIMIT 1) AS cell
       |       FROM base b),
       |m$i AS (SELECT cell, j, CAST(CAST(AVG(emb[j]) AS REAL) AS DOUBLE) AS m
       |        FROM a$i, (SELECT unnest(range(1, ${dim + 1})) AS j)
       |        GROUP BY cell, j),
       |l$i AS (SELECT cell, list(m ORDER BY j) AS cemb FROM m$i GROUP BY cell),
       |c$i AS (SELECT p.cid, COALESCE(l.cemb, p.cemb) AS cemb
       |        FROM $prev p LEFT JOIN l$i l ON l.cell = p.cid)""".stripMargin
  }

  /** Shared seeded-PQ oracle CTE chain (codebooks → encode → ADC →
    * shortlist) — reused verbatim by q_e_pq_topk and the recall eval so
    * the eval replays EXACTLY the production index's plan.
    */
  private val pqCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT emb AS qv, emb[1:32] AS q0, emb[33:64] AS q1 FROM e WHERE vec_id = 0),
      |cb AS (SELECT vec_id AS cid, emb[1:32] AS c0, emb[33:64] AS c1
      |       FROM e WHERE vec_id < 16 AND vec_id <> 0),
      |enc AS (SELECT v.vec_id, v.emb,
      |         (SELECT c.cid FROM cb c
      |          ORDER BY list_cosine_similarity(v.emb[1:32], c.c0) DESC, c.cid
      |          LIMIT 1) AS code0,
      |         (SELECT c.cid FROM cb c
      |          ORDER BY list_cosine_similarity(v.emb[33:64], c.c1) DESC, c.cid
      |          LIMIT 1) AS code1
      |       FROM e v WHERE v.vec_id <> 0),
      |adc AS (SELECT enc.vec_id, enc.emb, enc.code0, enc.code1,
      |         (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(range(1, 33), i -> q.q0[i] * c.c0[i])), (a,x) -> a + x)
      |          FROM cb c, q WHERE c.cid = enc.code0)
      |       + (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(range(1, 33), i -> q.q1[i] * c.c1[i])), (a,x) -> a + x)
      |          FROM cb c, q WHERE c.cid = enc.code1) AS approx
      |       FROM enc),
      |short AS (SELECT * FROM adc ORDER BY approx DESC, vec_id LIMIT 32)""".stripMargin

  /** Shared IVF-PQ oracle CTE chain (coarse cells → probes → residuals →
    * residual codebooks → encode → per-cell ADC → shortlist) — reused
    * verbatim by q_e_ivfpq_topk and its recall eval.
    */
  private val ivfPqCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
      |base AS (SELECT vec_id, emb FROM e WHERE vec_id <> 0),
      |c0 AS (SELECT vec_id AS cid, emb AS cemb FROM base WHERE vec_id < 16),
      |probes AS (SELECT c.cid FROM c0 c, q
      |           ORDER BY list_cosine_similarity(q.qv, c.cemb) DESC, c.cid
      |           LIMIT 4),
      |af AS (SELECT b.vec_id, b.emb,
      |         (SELECT c.cid FROM c0 c
      |          ORDER BY list_cosine_similarity(b.emb, c.cemb) DESC, c.cid
      |          LIMIT 1) AS cell
      |       FROM base b),
      |r AS (SELECT a.vec_id, a.emb, a.cell,
      |        list_transform(range(1, 65),
      |          i -> CAST(CAST(a.emb[i] - c.cemb[i] AS REAL) AS DOUBLE)) AS res
      |      FROM af a JOIN c0 c ON c.cid = a.cell),
      |cb AS (SELECT vec_id AS code, res[1:32] AS r0, res[33:64] AS r1
      |       FROM r WHERE vec_id >= 16 AND vec_id < 32),
      |cand AS (SELECT * FROM r WHERE cell IN (SELECT cid FROM probes)),
      |enc AS (SELECT v.vec_id, v.emb, v.cell, v.res,
      |         (SELECT c.code FROM cb c
      |          ORDER BY (CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |              list_transform(v.res[1:32], x -> x*x)), (a,b) -> a+b) = 0
      |            THEN 0.0 ELSE list_cosine_similarity(v.res[1:32], c.r0) END) DESC,
      |            c.code
      |          LIMIT 1) AS code0,
      |         (SELECT c.code FROM cb c
      |          ORDER BY (CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |              list_transform(v.res[33:64], x -> x*x)), (a,b) -> a+b) = 0
      |            THEN 0.0 ELSE list_cosine_similarity(v.res[33:64], c.r1) END) DESC,
      |            c.code
      |          LIMIT 1) AS code1
      |       FROM cand v),
      |qr AS (SELECT p.cid,
      |         list_transform(range(1, 65),
      |           i -> CAST(CAST(q.qv[i] - c.cemb[i] AS REAL) AS DOUBLE)) AS qres
      |       FROM probes p JOIN c0 c ON c.cid = p.cid, q),
      |adc AS (SELECT enc.vec_id, enc.emb, enc.cell, enc.code0, enc.code1,
      |         (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(range(1, 33), i -> t.qres[i] * c.r0[i])), (a,x) -> a + x)
      |          FROM qr t, cb c WHERE t.cid = enc.cell AND c.code = enc.code0)
      |       + (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(range(1, 33), i -> t.qres[i + 32] * c.r1[i])), (a,x) -> a + x)
      |          FROM qr t, cb c WHERE t.cid = enc.cell AND c.code = enc.code1) AS approx
      |       FROM enc),
      |short AS (SELECT * FROM adc ORDER BY approx DESC, vec_id LIMIT 32)""".stripMargin

  /** Per-subspace Lloyd round for the trained-PQ oracle — the
    * [[lloydRoundSql]] shape namespaced per subspace (`s0_`/`s1_`) over
    * the half-vector CTEs (`h` = the subspace slice, `ch` = its
    * codebook entry). Same float32-quantized means as Spark's
    * trainCentroids `.toFloat`.
    */
  private def pqLloydRoundSql(sub: Int, i: Int, half: Int): String = {
    val prev = s"s${sub}_c${i - 1}"
    s"""s${sub}_a$i AS (SELECT b.vec_id, b.h,
       |         (SELECT c.cid FROM $prev c
       |          ORDER BY list_cosine_similarity(b.h, c.ch) DESC, c.cid
       |          LIMIT 1) AS cell
       |       FROM s${sub}_base b),
       |s${sub}_m$i AS (SELECT cell, j, CAST(CAST(AVG(h[j]) AS REAL) AS DOUBLE) AS m
       |        FROM s${sub}_a$i, (SELECT unnest(range(1, ${half + 1})) AS j)
       |        GROUP BY cell, j),
       |s${sub}_l$i AS (SELECT cell, list(m ORDER BY j) AS ch FROM s${sub}_m$i GROUP BY cell),
       |s${sub}_c$i AS (SELECT p.cid, COALESCE(l.ch, p.ch) AS ch
       |        FROM $prev p LEFT JOIN s${sub}_l$i l ON l.cell = p.cid)""".stripMargin
  }

  /** DuckDB replay of [[graft.functions.VectorExpressions.lshSignature]]:
    * per bit i, an explicit left fold over ascending j of
    * emb[j]·r(i,j), r from the same Knuth multiplicative hash.
    */
  private[queries] def sigSql(nBits: Int, e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $nBits), i ->
       |  CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(0, len($e)), j ->
       |    $e[j+1] * (CASE WHEN ((((i*len($e)+j) * 2654435761) % 4294967296) // 65536) % 2 = 1
       |               THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))),
       |    (a,x) -> a + x) > 0 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)),
       |  (a,x) -> a + x)""".stripMargin

  /** SemDeDup's seeded quantizer over the embeddings: `e`, the 16 seed
    * centroids `cents` (vec_id < 16) and each vector's best `cell` in
    * `asg` (ties → lowest cid) — replays [[graft.vector.VectorSearch]]'s
    * seedCentroids + BestCell assignment.
    */
  private val semDedupCellCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |cents AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < 16),
      |asg AS (SELECT e.vec_id, e.emb,
      |         (SELECT c.cid FROM cents c
      |          ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC, c.cid
      |          LIMIT 1) AS cell
      |       FROM e)""".stripMargin

  /** LSH-banded ANN probe (4 bands × 8 bits) over `e`: signatures `sig`,
    * `bands`, the query's bands `qb` and `cand(vec_id, emb)`, every
    * non-query vector sharing a band with vec 0 — replays the candidate
    * stage of [[graft.vector.VectorSearch.annTopK]].
    */
  private val annLshCandCtes: String =
    s"""sig AS (SELECT vec_id, emb, ${sigSql(32, "emb")} AS s FROM e),
       |bands AS (SELECT vec_id, emb, band, (s >> (8*band)) & 255 AS bv
       |          FROM sig, (SELECT unnest(range(0, 4)) AS band)),
       |qb AS (SELECT band, bv FROM bands WHERE vec_id = 0),
       |cand AS (SELECT DISTINCT b.vec_id, b.emb
       |         FROM bands b JOIN qb ON b.band = qb.band AND b.bv = qb.bv
       |         WHERE b.vec_id <> 0)""".stripMargin

  /** Oracle twin of [[lshSelfPairs]]'s candidates (4 bands × 12 bits)
    * over `e`: `cand(vec_a, vec_b)`, every vec_a < vec_b sharing a band.
    */
  private val lshPairCandCtes: String =
    s"""sig AS (SELECT vec_id, emb, ${sigSql(48, "emb")} AS s FROM e),
       |bands AS (SELECT vec_id, band, (s >> (12*band)) & 4095 AS bv
       |          FROM sig, (SELECT unnest(range(0, 4)) AS band)),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
       |                      AND a.vec_id < b.vec_id)""".stripMargin

  override def queries: Seq[Query] = Seq(

    Query(
      "q_e_cosine_topk",
      (s, dir) =>
        VectorSearch.cosineTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", 10),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
             |SELECT e.vec_id, ROUND(list_cosine_similarity(e.emb, q.qv), 6) + 0.0 AS sim
             |FROM e, q WHERE e.vec_id <> 0
             |ORDER BY sim DESC, e.vec_id LIMIT 10""".stripMargin),
      doc = "exact brute-force cosine top-k: broadcast query vector, map-only " +
        "codegen'd cosine, TakeOrderedAndProject (per-partition heaps, no full sort)"),

    Query(
      "q_e_lsh_bucket_stats",
      (s, dir) =>
        emb(s, dir)
          .select(lsh_signature(col("embedding"), 16).as("bucket"), col("vec_id"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec_id"))
          .orderBy("bucket"),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |sig AS (SELECT vec_id, ${sigSql(16, "emb")} AS bucket FROM e)
              |SELECT bucket, COUNT(*) AS n, MIN(vec_id) AS min_vec_id
              |FROM sig GROUP BY bucket ORDER BY bucket""".stripMargin),
      doc = "16-bit sign-random-projection bucket histogram — the hash-partitioned " +
        "grouping an at-scale ANN index build shuffles on (never all-pairs)"),

    Query(
      "q_e_ann_lsh_topk",
      (s, dir) =>
        VectorSearch.annTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", 10, nBands = 4, bitsPerBand = 8),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |$annLshCandCtes,
              |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0)
              |SELECT c.vec_id, ROUND(list_cosine_similarity(c.emb, q.qv), 6) + 0.0 AS sim
              |FROM cand c, q
              |ORDER BY sim DESC, c.vec_id LIMIT 10""".stripMargin),
      doc = "LSH-banded ANN: 4 bands × 8 bits, candidates share ≥1 band with the " +
        "query (banding OR-amplification), exact cosine rerank of the small candidate set"),

    Query(
      "q_e_ivf_topk",
      (s, dir) =>
        VectorSearch.ivfTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", 10, nCells = 16, nProbe = 4),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |cents AS (SELECT vec_id AS cid, emb AS cemb FROM e
             |          WHERE vec_id < 16 AND vec_id <> 0),
             |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
             |asg AS (SELECT e.vec_id, e.emb,
             |          (SELECT c.cid FROM cents c
             |           ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC, c.cid
             |           LIMIT 1) AS cell
             |        FROM e WHERE e.vec_id <> 0),
             |probes AS (SELECT c.cid FROM cents c, q
             |           ORDER BY list_cosine_similarity(q.qv, c.cemb) DESC, c.cid
             |           LIMIT 4),
             |cand AS (SELECT a.vec_id, a.emb FROM asg a
             |         WHERE a.cell IN (SELECT cid FROM probes))
             |SELECT c.vec_id, ROUND(list_cosine_similarity(c.emb, q.qv), 6) + 0.0 AS sim
             |FROM cand c, q ORDER BY sim DESC, c.vec_id LIMIT 10""".stripMargin),
      doc = "IVF ANN: deterministic coarse quantizer (16 cells, replayable in " +
        "SQL; k-means|| slots in for production), map-only cell assignment " +
        "over closure-broadcast centroids, probe 4 cells, exact rerank of " +
        "members only — the inverted-file scale path next to the LSH one"),

    Query(
      "q_e_embed_dedup_groups",
      (s, dir) => {
        // same pair miner as q_e_embed_neardup_pairs, then the transitive
        // group collapse — semantic dedup on the embedding modality
        val pairs = lshSelfPairs(s, dir)
          // 0.45, not the pair-mining 0.3: grouping at a loose threshold
          // chains semantically-unrelated vectors into one sprawling
          // component (transitive closure amplifies a loose pairwise
          // gate); dedup collapse wants tight clusters
          .where(col("sim") >= 0.45)
        NearDup.connectedComponents(pairs, "vec_a", "vec_b")
          .select(col("node").as("vec_id"), col("group_id"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |$lshPairCandCtes,
             |pairs AS (SELECT c.vec_a, c.vec_b
             |          FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
             |                      JOIN e eb ON eb.vec_id = c.vec_b
             |          WHERE ROUND(list_cosine_similarity(ea.emb, eb.emb), 6) + 0.0 >= 0.45),
             |${DedupQueries.ccCtes("pairs", "vec_a", "vec_b")}
             |SELECT node AS vec_id, MIN(lbl) AS group_id
             |FROM reach GROUP BY node
             |ORDER BY vec_id""".stripMargin),
      doc = "semantic dedup groups on the embedding modality: LSH-banded " +
        "cosine pairs -> connected components; same collapse operator as the " +
        "text path (q_d_dedup_groups), different similarity signal — oracle " +
        "replays banding + recursive closure"),

    Query(
      "q_e_ann_batch_topk",
      (s, dir) =>
        VectorSearch.annBatchTopK(emb(s, dir),
          emb(s, dir).where(col("vec_id") < 5)
            .select(col("vec_id").as("qid"), col("embedding")),
          "vec_id", "qid", "embedding", k = 3, nBands = 4, bitsPerBand = 8),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |s AS (SELECT vec_id, emb, ${sigSql(32, "emb")} AS sig FROM e),
             |b AS (SELECT vec_id, emb, band, (sig >> (8 * band)) & 255 AS band_val
             |      FROM s, (SELECT unnest(range(0, 4)) AS band)),
             |q AS (SELECT vec_id AS qid, emb AS qemb, band, band_val FROM b WHERE vec_id < 5),
             |c AS (SELECT DISTINCT q.qid, b.vec_id, b.emb, q.qemb
             |      FROM b JOIN q ON b.band = q.band AND b.band_val = q.band_val
             |      WHERE b.vec_id <> q.qid),
             |scored AS (SELECT qid, vec_id,
             |    ROUND(list_cosine_similarity(emb, qemb), 6) + 0.0 AS sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
             |      ROUND(list_cosine_similarity(emb, qemb), 6) + 0.0 DESC, vec_id) AS rn
             |  FROM c)
             |SELECT qid, vec_id, sim, CAST(rn AS INT) AS rank
             |FROM scored WHERE rn <= 3""".stripMargin),
      doc = "BATCH ANN: top-3 neighbors for a whole table of query vectors in " +
        "one plan — both sides signed once, banded equi-join on (band, " +
        "band_val), exact cosine on collisions only, per-query top-k via one " +
        "window; the all-queries-at-once serving shape where per-query " +
        "broadcast stops scaling"),

    Query(
      "q_e_ivf_trained_topk",
      (s, dir) => {
        val base = emb(s, dir).where(col("vec_id") =!= 0)
        val trained = VectorSearch.trainCentroids(base, "vec_id", "embedding",
          nCells = 16, iters = 3)
        VectorSearch.ivfTopKWith(base, queryVec(s, dir),
          "vec_id", "embedding", 10, nProbe = 4, trained)
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |base AS (SELECT vec_id, emb FROM e WHERE vec_id <> 0),
              |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
              |c0 AS (SELECT vec_id AS cid, emb AS cemb FROM base WHERE vec_id < 16),
              |${lloydRoundSql(1, 64)},
              |${lloydRoundSql(2, 64)},
              |${lloydRoundSql(3, 64)},
              |probes AS (SELECT c.cid FROM c3 c, q
              |           ORDER BY list_cosine_similarity(q.qv, c.cemb) DESC, c.cid
              |           LIMIT 4),
              |af AS (SELECT b.vec_id, b.emb,
              |         (SELECT c.cid FROM c3 c
              |          ORDER BY list_cosine_similarity(b.emb, c.cemb) DESC, c.cid
              |          LIMIT 1) AS cell
              |       FROM base b),
              |cand AS (SELECT a.vec_id, a.emb FROM af a
              |         WHERE a.cell IN (SELECT cid FROM probes))
              |SELECT c.vec_id, ROUND(list_cosine_similarity(c.emb, q.qv), 6) + 0.0 AS sim
              |FROM cand c, q ORDER BY sim DESC, c.vec_id LIMIT 10""".stripMargin),
      doc = "IVF with k-means(Lloyd)-TRAINED centroids: 3 refinement rounds " +
        "(assignment via the codegen'd best_cell pass + one (cell,dim) " +
        "partial-agg shuffle per round), then the same probe-and-rerank — " +
        "the production index-build next to the seeded twin; oracle unrolls " +
        "the 3 Lloyd rounds as CTEs (float32-quantized means = Spark's " +
        ".toFloat, which also absorbs AVG summation-order ulps)"),

    Query(
      "q_e_pq_topk",
      (s, dir) =>
        VectorSearch.pqTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", k = 10, nCodes = 16, rerank = 32),
      Some(s"""WITH $pqCtes
              |SELECT s.vec_id, s.code0, s.code1,
              |  ROUND(s.approx, 6) + 0.0 AS approx_ip,
              |  ROUND(list_cosine_similarity(s.emb, q.qv), 6) + 0.0 AS sim
              |FROM short s, q
              |ORDER BY sim DESC, s.vec_id LIMIT 10""".stripMargin),
      doc = "product-quantization ANN (2 subspaces x 16 codes): per-half " +
        "codebook assignment via the codegen'd best_cell pass, queries " +
        "answered from the CODES through an ADC lookup table (two map " +
        "lookups + an add per vector — at 10^9 vectors the scored set is " +
        "2 small ints/vector, not dim floats), top-32 shortlist by " +
        "approximate inner product, exact cosine rerank of the shortlist " +
        "only; oracle replays codebooks, assignment, ADC folds and both " +
        "top-k cuts"),

    Query(
      "q_e_pq_trained_topk",
      (s, dir) =>
        VectorSearch.pqTopKTrained(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", k = 10, nCodes = 16, rerank = 32,
          iters = 2),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |q AS (SELECT emb AS qv, emb[1:32] AS q0, emb[33:64] AS q1 FROM e WHERE vec_id = 0),
              |s0_base AS (SELECT vec_id, emb[1:32] AS h FROM e WHERE vec_id <> 0),
              |s1_base AS (SELECT vec_id, emb[33:64] AS h FROM e WHERE vec_id <> 0),
              |s0_c0 AS (SELECT vec_id AS cid, h AS ch FROM s0_base WHERE vec_id < 16),
              |s1_c0 AS (SELECT vec_id AS cid, h AS ch FROM s1_base WHERE vec_id < 16),
              |${pqLloydRoundSql(0, 1, 32)},
              |${pqLloydRoundSql(0, 2, 32)},
              |${pqLloydRoundSql(1, 1, 32)},
              |${pqLloydRoundSql(1, 2, 32)},
              |enc AS (SELECT v.vec_id, v.emb,
              |         (SELECT c.cid FROM s0_c2 c
              |          ORDER BY list_cosine_similarity(v.emb[1:32], c.ch) DESC, c.cid
              |          LIMIT 1) AS code0,
              |         (SELECT c.cid FROM s1_c2 c
              |          ORDER BY list_cosine_similarity(v.emb[33:64], c.ch) DESC, c.cid
              |          LIMIT 1) AS code1
              |       FROM e v WHERE v.vec_id <> 0),
              |adc AS (SELECT enc.vec_id, enc.emb, enc.code0, enc.code1,
              |         (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |            list_transform(range(1, 33), i -> q.q0[i] * c.ch[i])), (a,x) -> a + x)
              |          FROM s0_c2 c, q WHERE c.cid = enc.code0)
              |       + (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              |            list_transform(range(1, 33), i -> q.q1[i] * c.ch[i])), (a,x) -> a + x)
              |          FROM s1_c2 c, q WHERE c.cid = enc.code1) AS approx
              |       FROM enc),
              |short AS (SELECT * FROM adc ORDER BY approx DESC, vec_id LIMIT 32)
              |SELECT s.vec_id, s.code0, s.code1,
              |  ROUND(s.approx, 6) + 0.0 AS approx_ip,
              |  ROUND(list_cosine_similarity(s.emb, q.qv), 6) + 0.0 AS sim
              |FROM short s, q
              |ORDER BY sim DESC, s.vec_id LIMIT 10""".stripMargin),
      doc = "PQ with Lloyd-TRAINED per-subspace codebooks (2 rounds each " +
        "half, independently — the production fit: the halves' geometry " +
        "differs, so per-half k-means beats slicing full-vector centroids), " +
        "then the same encode/ADC/rerank as the seeded twin; training cost " +
        "per subspace per round = one codegen'd assignment pass + one " +
        "(cell, dim/2) partial-agg shuffle, update collect O(nCodes*dim/2); " +
        "oracle unrolls all four Lloyd rounds as namespaced CTEs with " +
        "float32-quantized means"),

    Query(
      "q_e_ivfpq_topk",
      (s, dir) =>
        VectorSearch.ivfPqTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4,
          nCodes = 16, rerank = 32),
      Some(s"""WITH $ivfPqCtes
              |SELECT s.vec_id, s.cell, s.code0, s.code1,
              |  ROUND(s.approx, 6) + 0.0 AS approx_ip,
              |  ROUND(list_cosine_similarity(s.emb, q.qv), 6) + 0.0 AS sim
              |FROM short s, q
              |ORDER BY sim DESC, s.vec_id LIMIT 10""".stripMargin),
      doc = "IVF-PQ with RESIDUAL encoding (FAISS IndexIVFPQ shape): coarse " +
        "cells bound the CANDIDATE SET (4 of 16 probed), product codes over " +
        "v - centroid bound the MEMORY (2 small ints + per-cell ADC lookups " +
        "per candidate), exact cosine rerank of the top-32 shortlist; " +
        "residuals are float subtraction (oracle: CAST(a-b AS REAL)), " +
        "codebooks seed from ids [16,32) because the coarse-seed rows' own " +
        "residuals are zero, and the oracle guards the zero-residual cosine " +
        "(engine 0.0 vs DuckDB -1.0) explicitly"),

    Query(
      "q_e_ivfpq_recall",
      (s, dir) => {
        // Recall@10 for the COMPOSED tier — the number that tells you
        // what the cell pruning AND the residual quantization together
        // cost in quality, next to q_e_pq_recall (codes only) and
        // q_e_ann_recall (LSH). Same semi-join-overlap shape; the
        // oracle reuses the production IVF-PQ CTE chain verbatim.
        recallAt10(s, dir, VectorSearch.ivfPqTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4,
          nCodes = 16, rerank = 32))
      },
      Some(s"""WITH $ivfPqCtes,
              |ivfpq AS (SELECT s.vec_id,
              |            ROUND(list_cosine_similarity(s.emb, q.qv), 6) + 0.0 AS sim
              |          FROM short s, q ORDER BY sim DESC, s.vec_id LIMIT 10),
              |$exactTop10Cte
              |${recallAt10Sql("ivfpq")}""".stripMargin),
      doc = "IVF-PQ recall@10 eval: exact top-10 vs the composed tier's " +
        "top-10 — measures what cell pruning AND residual quantization " +
        "together cost in quality (the nProbe/nCodes/rerank tuner); the " +
        "oracle reuses the production IVF-PQ CTE chain verbatim"),

    Query(
      "q_e_index_prep",
      (s, dir) => {
        // FLAGSHIP (vector pillar): the end-to-end "build the ANN index
        // from a raw corpus" sweep — near-dup GROUP collapse over the
        // documents (inverted index + connected components, stop-shingle
        // cap 64), keep each group's canonical, join the embedding rows
        // of the survivors (vec_id = doc_id in the fixture; production
        // joins on the content key), assign every kept vector to its IVF
        // cell, and report the per-cell occupancy an index build ships
        // with. Every stage is the already-proven operator; this query
        // is the evidence they COMPOSE as one declarative plan.
        val d = Tables(s, dir, "documents")
        // group labels ride the family's shared memoized miner+CC stage
        // (r12, VERDICT r10 #6)
        val groups = DedupQueries.minedGroups(s, dir)
        val canon = d.select(col("doc_id"))
          .join(groups, col("doc_id") === col("node"), "left")
          .where(col("node").isNull || col("doc_id") === col("group_id"))
          .select(col("doc_id"))
        val e = emb(s, dir)
        val kept = e.join(canon, e("vec_id") === canon("doc_id"))
          .select(e("vec_id"), e("embedding"))
        val cents = VectorSearch.seedCentroids(kept, "vec_id", "embedding", 16)
        kept
          .withColumn("cell",
            graft.functions.VectorExpressions.best_cell(
              col("embedding"), cents.map(_._2), cents.map(_._1)))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"))
          .orderBy("cell")
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.cappedShingleCtes(64)},
              |${DedupQueries.shingleInterCte},
              |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
              |          JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id
              |          WHERE ROUND(i.cnt * 1.0 / (sa.n_sh + sb.n_sh - i.cnt), 4) >= 0.5),
              |${DedupQueries.ccCtes("pairs", "doc_a", "doc_b", groups = true)},
              |canon AS (SELECT doc_id FROM documents LEFT JOIN grp ON doc_id = grp.node
              |          WHERE node IS NULL OR doc_id = group_id),
              |kept AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |         FROM embeddings JOIN canon ON vec_id = canon.doc_id),
              |cents AS (SELECT vec_id AS cid, emb AS cemb FROM kept WHERE vec_id < 16),
              |asg AS (SELECT k.vec_id,
              |          (SELECT c.cid FROM cents c
              |           ORDER BY list_cosine_similarity(k.emb, c.cemb) DESC, c.cid
              |           LIMIT 1) AS cell
              |        FROM kept k)
              |SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
              |FROM asg GROUP BY cell ORDER BY cell""".stripMargin),
      doc = "FLAGSHIP index build: near-dup group collapse -> canonical " +
        "survivors -> embedding join -> IVF cell assignment -> per-cell " +
        "occupancy, as ONE declarative plan — the vector-pillar twin of " +
        "q_t_corpus_prep; oracle replays every stage including the " +
        "recursive closure and the argmax assignment"),

    Query(
      "q_e_label_centroids",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        // Nearest-centroid classification over the labeled corpus — the
        // eval loop for "are these embeddings separable by label":
        // per-label mean centroid (one (label, dim) partial-agg shuffle,
        // float32-quantized like Lloyd so the oracle replays it), then
        // assignment and per-label accuracy ENTIRELY IN-PLAN (the
        // q_e_centroid_drift posture): the O(#labels) centroid frame is
        // re-assembled with collect_list(struct)+transform, broadcast
        // against the corpus, and the argmax is a partial-aggregable
        // max_by over (cosine DESC, label ASC) — no driver collect, no
        // job boundary between fit and assign.
        val e = emb(s, dir)
        val parts = e
          .select(col("label").cast("long").as("clabel"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("clabel", "pos")
          .agg(avg(col("v").cast("double")).cast("float").cast("double")
            .as("m"))
        val cents = parts.groupBy("clabel")
          .agg(expr("transform(array_sort(collect_list(struct(pos, m)))," +
            " x -> x.m)").as("cemb"))
        val pred = e.crossJoin(broadcast(cents))
          .withColumn("__sim", cosine_sim(col("embedding"), col("cemb")))
          .groupBy(col("vec_id"), col("label"))
          .agg(max_by(col("clabel"),
            struct(col("__sim"), (-col("clabel")).as("nc"))).as("pred"))
        pred.groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            sum((col("pred") === col("label").cast("long")).cast("long"))
              .as("n_correct"))
          .select(col("label"), col("n"), col("n_correct"),
            (round(col("n_correct") / col("n"), 4) + lit(0.0)).as("acc"))
          .orderBy("label")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
              |m AS (SELECT label, j, CAST(CAST(AVG(emb[j]) AS REAL) AS DOUBLE) AS mu
              |      FROM e, (SELECT unnest(range(1, 65)) AS j) GROUP BY label, j),
              |c AS (SELECT label AS clabel, list(mu ORDER BY j) AS cemb FROM m GROUP BY label),
              |p AS (SELECT e.vec_id, e.label,
              |        (SELECT c.clabel FROM c
              |         ORDER BY list_cosine_similarity(e.emb, c.cemb) DESC, c.clabel
              |         LIMIT 1) AS pred
              |      FROM e)
              |SELECT label, COUNT(*) AS n,
              |  CAST(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
              |  ROUND(SUM(CASE WHEN pred = label THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) + 0.0 AS acc
              |FROM p GROUP BY label ORDER BY label""".stripMargin),
      doc = "nearest-centroid label eval: per-label mean embedding (one " +
        "partial-agg shuffle, float32-quantized means) re-assembled and " +
        "BROADCAST-JOINED in-plan, argmax via partial-aggregable max_by, " +
        "per-label accuracy — the embedding-separability check run before " +
        "trusting labels for sampling or dedup; no driver collect"),

    Query(
      "q_e_quantize_int8",
      (s, dir) => {
        // Symmetric per-dimension int8 quantization of the embedding
        // corpus — the compression step an ANN index at 10^9 vectors runs
        // before anything else (4x memory cut). Two passes, both keyed on
        // the 64 dims: (1) per-dim absmax -> scale (a dim-sized frame,
        // broadcast back), (2) map-side quantize q = floor(v/scale + .5)
        // clamped to [-127,127]. floor(x+0.5), not round(): HALF_UP vs
        // banker's differs between engines; floor is IEEE-identical.
        // Outputs are integers (exact on both engines) plus the scale.
        val e = Tables(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("dim"), col("v").cast("double").as("v"))
        val scales = e.groupBy("dim")
          .agg((greatest(abs(min("v")), abs(max("v"))) / 127.0).as("scale"))
        val q = e.join(broadcast(scales), "dim")
          .select(col("dim"), col("scale"),
            when(col("scale") === 0.0, lit(0L)).otherwise(
              greatest(lit(-127L), least(lit(127L),
                floor(col("v") / col("scale") + 0.5)))).as("q"))
        q.groupBy("dim")
          .agg(first(round(col("scale"), 6) + lit(0.0)).as("scale"),
            sum("q").as("sum_q"),
            sum(abs(col("q"))).as("sum_abs_q"),
            sum((abs(col("q")) === 127L).cast("long")).as("n_clipped"))
          .orderBy("dim")
      },
      Some("""WITH e AS (
             |  SELECT j - 1 AS dim, CAST(embedding[j] AS DOUBLE) AS v
             |  FROM embeddings, (SELECT unnest(range(1, 65)) AS j)),
             |s AS (SELECT dim, GREATEST(ABS(MIN(v)), ABS(MAX(v))) / 127.0 AS scale
             |      FROM e GROUP BY dim),
             |q AS (SELECT e.dim, s.scale,
             |        CASE WHEN s.scale = 0.0 THEN 0
             |             ELSE GREATEST(-127, LEAST(127,
             |               CAST(FLOOR(e.v / s.scale + 0.5) AS BIGINT))) END AS q
             |      FROM e JOIN s USING (dim))
             |SELECT CAST(dim AS INT) AS dim,
             |  ROUND(ANY_VALUE(scale), 6) + 0.0 AS scale,
             |  CAST(SUM(q) AS BIGINT) AS sum_q,
             |  CAST(SUM(ABS(q)) AS BIGINT) AS sum_abs_q,
             |  CAST(SUM(CASE WHEN ABS(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
             |FROM q GROUP BY dim ORDER BY dim""".stripMargin),
      doc = "int8 scalar quantization of the embedding corpus: per-dim " +
        "absmax scale (one partial-agg pass, dim-sized result broadcast " +
        "back) then a map-only quantize — integer outputs are engine-exact; " +
        "floor(x+0.5) instead of round() because HALF_UP/banker's rounding " +
        "differs across engines"),

    Query(
      "q_e_embed_neardup_pairs",
      (s, dir) =>
        lshSelfPairs(s, dir)
          .where(col("sim") >= 0.3)
          .orderBy("vec_a", "vec_b"),
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |$lshPairCandCtes
              |SELECT c.vec_a, c.vec_b,
              |  ROUND(list_cosine_similarity(ea.emb, eb.emb), 6) + 0.0 AS sim
              |FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
              |            JOIN e eb ON eb.vec_id = c.vec_b
              |WHERE ROUND(list_cosine_similarity(ea.emb, eb.emb), 6) + 0.0 >= 0.3
              |ORDER BY vec_a, vec_b""".stripMargin),
      doc = "embedding-cosine near-dup: 4 bands × 12 bits candidate pairs (bucket " +
        "join, no all-pairs; candidate count stays O(n·2^-12) per band at any " +
        "corpus size), exact cosine >= 0.3 verify — the vector twin of MinHash dedup"),

    Query(
      "q_e_semdedup_groups",
      (s, dir) => {
        // SemDeDup (cluster-scoped semantic dedup): k-means-assign every
        // embedding to a coarse cell, compare pairs ONLY within a cell,
        // collapse the >= 0.45 pairs transitively. The published recipe's
        // scale contract: pairwise work is O(Σ_c n_c²) with nCells sized
        // ∝ corpus (constant expected cell size), vs the LSH-banded
        // variant (q_e_embed_dedup_groups) whose candidate volume depends
        // on the hash family — two independent candidate generators over
        // the same collapse operator. Pair mining lives in
        // VectorSearch.semDedupPairs (assignment = codegen'd BestCell map
        // pass; ONE shuffle on cell; the assigned frame retained so the
        // self-join's sides don't re-evaluate — the r3 CC 203× lesson).
        // This query runs the exact uncapped contract the oracle replays;
        // the maxPerCell star cap (r11) is the adversarial-input posture
        // ScaleProbe's semdedup_capped64 measures — the "constant cell
        // size" premise breaks on replica-heavy corpora, where the
        // uncapped self-join is output-quadratic (r10b: killed at 1000×).
        val cents = VectorSearch.seedCentroids(
          emb(s, dir), "vec_id", "embedding", 16)
        val pairs = VectorSearch.semDedupPairs(
          emb(s, dir), "vec_id", "embedding", cents, threshold = 0.45)
        NearDup.connectedComponents(pairs, "vec_a", "vec_b")
          .select(col("node").as("vec_id"), col("group_id"),
            (col("node") === col("group_id")).as("keep"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE $semDedupCellCtes,
             |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
             |          FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |          WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 6) + 0.0 >= 0.45),
             |${DedupQueries.ccCtes("pairs", "vec_a", "vec_b")}
             |SELECT node AS vec_id, MIN(lbl) AS group_id,
             |  node = MIN(lbl) AS keep
             |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin),
      doc = "SemDeDup: coarse k-means cells scope the pairwise cosine " +
        "compare (O(Σ cell²) with nCells ∝ corpus, never corpus²), " +
        "transitive collapse keeps the min-id representative per " +
        "semantic-duplicate group — cluster-scoped candidate generation " +
        "vs the LSH-banded generator, same CC collapse operator"),

    Query(
      "q_e_semdedup_incremental",
      (s, dir) => {
        // The ingest-gate form of SemDeDup (VERDICT r5 #6): vec_id >= 400
        // arrives as the new batch, everything below is the cell-indexed
        // corpus (in production: partitioned by cell, centroids kept
        // fresh by StreamingCentroids). The corpus is only probed with
        // the broadcast delta — never self-joined — so the semantic gate
        // has the same O(delta) per-batch cost as the MinHash/winnow
        // gates. Same seeded quantizer as q_e_semdedup_groups. Runs the
        // exact uncapped contract the oracle replays; the maxPerCell
        // star cap (r11) is the dup-heavy-batch posture ScaleProbe's
        // semdedup_incr_capped64 measures at the 1000× delta≈corpus
        // stress that killed the uncapped form (r10b).
        val e = emb(s, dir)
        val cents = VectorSearch.seedCentroids(
          e.where(col("vec_id") < 400), "vec_id", "embedding", 16)
        VectorSearch.incrementalSemDedup(
          e.where(col("vec_id") < 400), e.where(col("vec_id") >= 400),
          "vec_id", "embedding", cents, threshold = 0.35)
          .withColumn("origin",
            when(col("dup_of") < 400, lit("corpus")).otherwise(lit("batch")))
          .orderBy("new_vec", "dup_of")
      },
      Some(s"""WITH $semDedupCellCtes,
             |cand AS (SELECT d.vec_id AS new_vec, c.vec_id AS dup_of,
             |           ROUND(list_cosine_similarity(d.emb, c.emb), 6) + 0.0 AS sim
             |         FROM asg c JOIN asg d ON c.cell = d.cell
             |         WHERE c.vec_id < 400 AND d.vec_id >= 400
             |         UNION ALL
             |         SELECT b.vec_id, a.vec_id,
             |           ROUND(list_cosine_similarity(b.emb, a.emb), 6) + 0.0
             |         FROM asg a JOIN asg b ON a.cell = b.cell
             |         WHERE a.vec_id >= 400 AND b.vec_id >= 400
             |           AND a.vec_id < b.vec_id)
             |SELECT new_vec, dup_of, sim,
             |  CASE WHEN dup_of < 400 THEN 'corpus' ELSE 'batch' END AS origin
             |FROM cand WHERE sim >= 0.35 ORDER BY 1, 2""".stripMargin),
      doc = "incremental SemDeDup ingest gate: arriving embeddings are " +
        "cell-assigned (stateless codegen map) and probe the cell-indexed " +
        "corpus via broadcast cell-equi join + a delta-only within-batch " +
        "self-join — within-cell cosine only, corpus never self-joined; " +
        "the embedding twin of the MinHash/winnow gates"),

    Query(
      "q_e_ann_recall",
      (s, dir) => {
        // ANN quality eval: recall@10 of the LSH-banded index against
        // exact brute-force top-10 for the held-out query vector — the
        // metric that decides band/bit parameters before an index ships.
        // The expensive inputs are the same plans the production queries
        // run.
        recallAt10(s, dir, VectorSearch.annTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", 10, nBands = 4, bitsPerBand = 8))
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
              |$exactTop10Cte,
              |$annLshCandCtes,
              |ann AS (SELECT c.vec_id,
              |          ROUND(list_cosine_similarity(c.emb, q.qv), 6) + 0.0 AS sim
              |        FROM cand c, q ORDER BY sim DESC, c.vec_id LIMIT 10)
              |${recallAt10Sql("ann")}""".stripMargin),
      doc = "ANN recall@10 eval: exact brute-force top-10 vs the LSH-banded " +
        "index's top-10, semi-join overlap count — the parameter-tuning " +
        "metric (bands × bits vs recall) an index build reports before " +
        "shipping; both inputs are the exact production plans"),

    Query(
      "q_e_pq_recall",
      (s, dir) => {
        // The recall eval for the quantized tier: exact top-10 vs the PQ
        // index's top-10 — the codebook-size/rerank-depth tuner. Same
        // semi-join-overlap shape as q_e_ann_recall; the oracle reuses
        // the production PQ CTE chain verbatim, so the eval certifies
        // exactly the plan the index serves.
        recallAt10(s, dir, VectorSearch.pqTopK(
          emb(s, dir).where(col("vec_id") =!= 0), queryVec(s, dir),
          "vec_id", "embedding", k = 10, nCodes = 16, rerank = 32))
      },
      Some(s"""WITH $pqCtes,
              |pq AS (SELECT s.vec_id,
              |         ROUND(list_cosine_similarity(s.emb, q.qv), 6) + 0.0 AS sim
              |       FROM short s, q ORDER BY sim DESC, s.vec_id LIMIT 10),
              |$exactTop10Cte
              |${recallAt10Sql("pq")}""".stripMargin),
      doc = "PQ recall@10 eval: exact top-10 vs the product-quantized " +
        "index's top-10, semi-join overlap — the codebook-size/rerank-depth " +
        "tuning metric for the quantized tier; the oracle reuses the " +
        "production PQ CTE chain verbatim, so the eval certifies exactly " +
        "the plan the index serves"),

    Query(
      "q_e_centroid_drift",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        // Embedding-distribution drift monitor: split the corpus into two
        // cohorts (vec_id parity stands in for yesterday/today snapshots
        // — production swaps in the real snapshot tables, same plan),
        // compute the per-label mean centroid of each cohort entirely
        // IN-PLAN (one (label, half, dim) partial-agg shuffle; means
        // float32-quantized like Lloyd so the oracle replays them), and
        // report per-label cohort-centroid cosine. A drop under ~0.99
        // says the embedding distribution moved — re-train the quantizer
        // / re-probe ANN params. No driver-side collect: the centroid
        // frames are O(#labels) rows joined by label.
        val e = emb(s, dir)
        val parts = e
          .select(col("label"), pmod(col("vec_id"), lit(2L)).as("half"),
            posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("label", "half", "pos")
          .agg(avg(col("v").cast("double")).cast("float").cast("double")
            .as("m"))
        // r14 optimization (guide §2.4): both cohort centroids fold out of
        // ONE label-keyed aggregate via conditional collect_list (nulls
        // are skipped, so each list carries exactly its half's (pos, m)
        // rows), and the two count branches fold into one conditional-sum
        // pass — 4 filtered branches + 3 joins become 2 aggregates + 1
        // join. The both-halves-present filter (non-empty centroid
        // arrays) reproduces the old inner joins' row set exactly: a
        // half's centroid array is empty iff that (label, half) cohort
        // had no rows, the same condition that dropped the label before.
        val vecs = parts.groupBy("label")
          .agg(
            expr("transform(array_sort(collect_list(" +
              "CASE WHEN half = 0 THEN struct(pos, m) END)), x -> x.m)")
              .as("v0"),
            expr("transform(array_sort(collect_list(" +
              "CASE WHEN half = 1 THEN struct(pos, m) END)), x -> x.m)")
              .as("v1"))
        val counts = e.groupBy(col("label"))
          .agg(
            sum(when(pmod(col("vec_id"), lit(2L)) === 0, 1L).otherwise(0L))
              .as("n_even"),
            sum(when(pmod(col("vec_id"), lit(2L)) === 1, 1L).otherwise(0L))
              .as("n_odd"))
        vecs.join(counts, "label")
          .where(size(col("v0")) > 0 && size(col("v1")) > 0)
          .select(col("label"), col("n_even"), col("n_odd"),
            (round(cosine_sim(col("v0"), col("v1")), 6) + lit(0.0))
              .as("cos_sim"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
             |         label, vec_id % 2 AS half FROM embeddings),
             |m AS (SELECT label, half, j, CAST(CAST(AVG(emb[j]) AS REAL) AS DOUBLE) AS mu
             |      FROM e, (SELECT unnest(range(1, 65)) AS j) GROUP BY label, half, j),
             |c AS (SELECT label, half, list(mu ORDER BY j) AS cvec FROM m GROUP BY label, half),
             |n AS (SELECT label, half, COUNT(*) AS cnt FROM e GROUP BY label, half)
             |SELECT c0.label, n0.cnt AS n_even, n1.cnt AS n_odd,
             |  ROUND(list_cosine_similarity(c0.cvec, c1.cvec), 6) + 0.0 AS cos_sim
             |FROM c c0 JOIN c c1 ON c0.label = c1.label AND c0.half = 0 AND c1.half = 1
             |JOIN n n0 ON n0.label = c0.label AND n0.half = 0
             |JOIN n n1 ON n1.label = c0.label AND n1.half = 1
             |ORDER BY c0.label""".stripMargin),
      doc = "embedding-distribution drift monitor: per-label cohort " +
        "centroids (two snapshot halves) compared by cosine, entirely " +
        "in-plan — one (label, half, dim) partial-agg shuffle, float32-" +
        "quantized means (the Lloyd/oracle convention), O(#labels) join; " +
        "the alarm that says re-train the quantizer / re-tune ANN"),

    Query(
      "q_e_int8_topk",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        // Retrieval over the INT8-quantized corpus (the q_e_quantize_int8
        // compression put to work): per-dim absmax scales are fitted
        // in-plan (dim-keyed partial agg -> one 64-double array row,
        // broadcast), corpus and query quantize map-only, and the
        // approximate score is an INTEGER dot product — engine-exact, no
        // float noise until the final rerank. Top-32 shortlist by int
        // score, exact cosine rerank of the shortlist only: at 10^9
        // vectors the scored set is 64 bytes of ints per vector and the
        // float math touches 32 rows.
        val e = emb(s, dir)
        val sc = e
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("dim")
          .agg((greatest(abs(min(col("v").cast("double"))),
            abs(max(col("v").cast("double")))) / 127.0).as("scale"))
          .agg(expr("transform(array_sort(collect_list(struct(dim, scale)))," +
            " x -> x.scale)").as("__sc"))
        // Column-API lambda (no expr() string splicing — a qualified or
        // derived input column would silently break interpolation)
        def q8(vecCol: org.apache.spark.sql.Column) =
          transform(vecCol, (v, i) => {
            val scale = element_at(col("__sc"), i + 1)
            when(scale === 0.0, lit(0L))
              .otherwise(greatest(lit(-127.0), least(lit(127.0),
                floor(v.cast("double") / scale + lit(0.5)))).cast("long"))
          })
        val qv = e.where(col("vec_id") === 0).crossJoin(broadcast(sc))
          .select(q8(col("embedding")).as("qq8"),
            col("embedding").as("q_emb"))
        val scored = e.where(col("vec_id") =!= 0).crossJoin(broadcast(sc))
          .select(col("vec_id"), col("embedding"), q8(col("embedding")).as("c8"))
          .crossJoin(broadcast(qv))
          .select(col("vec_id"), col("embedding"), col("q_emb"),
            expr("aggregate(zip_with(c8, qq8, (a, b) -> a * b), 0L," +
              " (acc, x) -> acc + x)").as("int_dot"))
        val short = scored
          .orderBy(col("int_dot").desc, col("vec_id")).limit(32)
        short
          .select(col("vec_id"), col("int_dot"),
            (round(cosine_sim(col("embedding"), col("q_emb")), 6) + lit(0.0))
              .as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(10)
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |x AS (SELECT j AS dim, emb[j] AS v
             |      FROM e, (SELECT unnest(range(1, 65)) AS j)),
             |sc AS (SELECT list(s ORDER BY dim) AS sc FROM (
             |        SELECT dim, GREATEST(ABS(MIN(v)), ABS(MAX(v))) / 127.0 AS s
             |        FROM x GROUP BY dim)),
             |q8 AS (SELECT vec_id, emb,
             |        list_transform(range(1, 65), i ->
             |          CASE WHEN sc[i] = 0.0 THEN 0
             |          ELSE CAST(GREATEST(-127.0, LEAST(127.0,
             |            FLOOR(emb[i] / sc[i] + 0.5))) AS BIGINT) END) AS c8
             |      FROM e, sc),
             |qq AS (SELECT c8 AS qq8, emb AS qemb FROM q8 WHERE vec_id = 0),
             |scored AS (SELECT v.vec_id, v.emb, qq.qemb,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          list_transform(range(1, 65), i -> v.c8[i] * qq.qq8[i])),
             |          (a, b) -> a + b) AS int_dot
             |      FROM q8 v, qq WHERE v.vec_id <> 0),
             |short AS (SELECT * FROM scored ORDER BY int_dot DESC, vec_id LIMIT 32)
             |SELECT vec_id, int_dot,
             |  ROUND(list_cosine_similarity(emb, qemb), 6) + 0.0 AS sim
             |FROM short ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      doc = "int8-quantized retrieval: per-dim absmax scales fitted " +
        "in-plan (one 64-double row broadcast), map-only quantize, " +
        "INTEGER dot-product scoring (engine-exact), top-32 shortlist, " +
        "exact cosine rerank of the shortlist only — the scalar-quantized " +
        "ANN path next to PQ; float math touches 32 rows at any corpus size"),

    Query(
      "q_e_sem_decontaminate",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        // Semantic train/eval decontamination — the embedding-space twin
        // of q_t_decontaminate: flag training vectors too similar to ANY
        // benchmark vector even when zero n-grams overlap (paraphrases,
        // translations, format-shifted copies slip past text dedup).
        // Fixture: vec_id < 10 stands in for the eval benchmark. Both
        // sides signed once (map-only codegen signature), candidates from
        // the (band, band_val) equi-join, exact cosine verify of
        // collisions only — the train side shuffles once on band keys at
        // any corpus size, never pairwise against the benchmark.
        val banded = VectorSearch.withLshBands(emb(s, dir), "embedding",
          nBands = 4, bitsPerBand = 12)
        val evalB = banded.where(col("vec_id") < 10)
          .select(col("vec_id").as("eval_id"), col("band"), col("band_val"),
            col("embedding").as("eval_emb"))
        banded.where(col("vec_id") >= 10)
          .join(evalB, Seq("band", "band_val"))
          .select(col("vec_id"), col("eval_id"),
            (round(cosine_sim(col("embedding"), col("eval_emb")), 6)
              + lit(0.0)).as("sim"))
          .dropDuplicates("vec_id", "eval_id")
          .where(col("sim") >= 0.3)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_eval_hits"),
            (max("sim") + lit(0.0)).as("max_sim"))
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |sig AS (SELECT vec_id, emb, ${sigSql(48, "emb")} AS s FROM e),
              |bands AS (SELECT vec_id, band, (s >> (12*band)) & 4095 AS bv
              |          FROM sig, (SELECT unnest(range(0, 4)) AS band)),
              |cand AS (SELECT DISTINCT t.vec_id, ev.vec_id AS eval_id
              |         FROM bands t JOIN bands ev
              |           ON t.band = ev.band AND t.bv = ev.bv
              |           AND t.vec_id >= 10 AND ev.vec_id < 10),
              |hits AS (SELECT c.vec_id, c.eval_id,
              |           ROUND(list_cosine_similarity(et.emb, ee.emb), 6) + 0.0 AS sim
              |         FROM cand c JOIN e et ON et.vec_id = c.vec_id
              |                     JOIN e ee ON ee.vec_id = c.eval_id
              |         WHERE ROUND(list_cosine_similarity(et.emb, ee.emb), 6) + 0.0 >= 0.3)
              |SELECT vec_id, COUNT(*) AS n_eval_hits, MAX(sim) + 0.0 AS max_sim
              |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin),
      doc = "semantic train/eval decontamination: training vectors too " +
        "cosine-similar to any benchmark vector, via the banded-LSH " +
        "candidate join + exact verify of collisions only — catches the " +
        "paraphrase/translation leakage n-gram decontamination misses; " +
        "train side shuffles once on band keys, never pairwise"),

    Query(
      "q_e_hard_negatives",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        // Hard-negative mining for contrastive/embedding training: for
        // each anchor, the top-2 most-similar vectors carrying a
        // DIFFERENT label — the near-misses a trainer wants in the same
        // batch as the anchor. Anchor set is broadcast (queries are
        // mining batches, bounded by construction); corpus side is one
        // map pass — codegen'd cosine against ≤|anchors| vectors per row
        // — then a per-anchor window top-k (WindowGroupLimit prunes
        // map-side). At real scale the anchor batch rides the same
        // banded-LSH candidate join as q_e_ann_batch_topk; this is the
        // exact-scoring shape, label-aware.
        val q = emb(s, dir).where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("label").as("q_label"),
            col("embedding").as("q_emb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
        emb(s, dir).where(col("vec_id") >= 5)
          .join(broadcast(q), col("label") =!= col("q_label"))
          .select(col("q_id"), col("vec_id"),
            (round(cosine_sim(col("embedding"), col("q_emb")), 6)
              + lit(0.0)).as("sim"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 2)
          .orderBy("q_id", "rk")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
             |          FROM embeddings),
             |q AS (SELECT vec_id AS q_id, label AS q_label, emb AS q_emb
             |      FROM e WHERE vec_id < 5),
             |s AS (SELECT q.q_id, e.vec_id,
             |        ROUND(list_cosine_similarity(e.emb, q.q_emb), 6) + 0.0 AS sim
             |      FROM e, q WHERE e.vec_id >= 5 AND e.label <> q.q_label),
             |r AS (SELECT q_id, vec_id, sim,
             |        CAST(row_number() OVER (PARTITION BY q_id
             |          ORDER BY sim DESC, vec_id) AS INT) AS rk
             |      FROM s)
             |SELECT q_id, vec_id, sim, rk FROM r WHERE rk <= 2
             |ORDER BY q_id, rk""".stripMargin),
      doc = "hard-negative mining: per anchor, the top-2 most-similar " +
        "vectors with a DIFFERENT label — broadcast anchor batch, " +
        "map-only codegen cosine, per-anchor window top-k " +
        "(WindowGroupLimit); the contrastive-training batch builder, " +
        "swapping in the banded-LSH candidate join when the anchor set " +
        "outgrows a broadcast"),

    Query(
      "q_e_dim_stats",
      (s, dir) => {
        // Embedding-health audit: per-DIMENSION mean / std / absmax over
        // the whole corpus, with a dead-dimension flag (σ < 0.01 — a dim
        // the encoder never varies wastes index bits and distorts
        // quantizer training). One posexplode + a 64-key partial agg:
        // per-dim state collapses map-side, the shuffle carries
        // O(dim · partitions) rows at any corpus size. Means are
        // float32-quantized (the Lloyd/oracle convention — absorbs the
        // engines' double-AVG summation-order ulps); std is derived from
        // the quantized moments, so both engines compute identical
        // doubles.
        emb(s, dir)
          .select(posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("dim"), col("v").cast("double").as("v"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"),
            avg("v").cast("float").cast("double").as("__ma"),
            avg(col("v") * col("v")).cast("float").cast("double").as("__mb"),
            max(abs(col("v"))).as("__amax"))
          .select(col("dim"), col("n"),
            (round(col("__ma"), 6) + lit(0.0)).as("mean"),
            (round(sqrt(greatest(col("__mb") - col("__ma") * col("__ma"),
              lit(0.0))), 6) + lit(0.0)).as("std"),
            (round(col("__amax"), 6) + lit(0.0)).as("absmax"))
          .withColumn("dead", col("std") < 0.01)
          .orderBy("dim")
      },
      Some("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
             |x AS (SELECT CAST(j - 1 AS INT) AS dim, emb[j] AS v
             |      FROM e, (SELECT unnest(range(1, 65)) AS j)),
             |a AS (SELECT dim, COUNT(*) AS n,
             |        CAST(CAST(AVG(v) AS REAL) AS DOUBLE) AS ma,
             |        CAST(CAST(AVG(v*v) AS REAL) AS DOUBLE) AS mb,
             |        MAX(ABS(v)) AS amax
             |      FROM x GROUP BY dim)
             |SELECT dim, n, ROUND(ma, 6) + 0.0 AS mean,
             |  ROUND(sqrt(GREATEST(mb - ma*ma, 0.0)), 6) + 0.0 AS std,
             |  ROUND(amax, 6) + 0.0 AS absmax,
             |  ROUND(sqrt(GREATEST(mb - ma*ma, 0.0)), 6) + 0.0 < 0.01 AS dead
             |FROM a ORDER BY dim""".stripMargin),
      doc = "embedding-health audit: per-dimension mean/std/absmax + " +
        "dead-dimension flag — one posexplode + dim-keyed partial agg " +
        "(state collapses map-side, shuffle is O(dim) keys at any corpus " +
        "size); float32-quantized moments keep both engines' doubles " +
        "identical; the pre-flight check before quantizer or index " +
        "training"),

    Query(
      "q_e_hybrid_rrf",
      // Plan + scale-shape documented on buildFusedTop20; the frame is
      // shared (retained once per session/dir) with q_e_context_pack and
      // q_e_fusion_gain. The trailing orderBy re-asserts output order on
      // the ≤20-row cached frame (persisted block order is not a contract).
      (s, dir) => fusedTop20(s, dir)
        .orderBy(col("rrf").desc, col("doc_id")),
      Some(s"""WITH $ragLegCtes
             |SELECT COALESCE(dr.doc_id, br.doc_id) AS doc_id, dr.r_dense, br.r_bm25,
             |  ROUND(COALESCE(1.0/(60 + dr.r_dense), 0) + COALESCE(1.0/(60 + br.r_bm25), 0), 6) + 0.0 AS rrf
             |FROM dr FULL JOIN br ON dr.doc_id = br.doc_id
             |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin),
      doc = "hybrid retrieval: reciprocal-rank fusion (k=60) of BM25 and " +
        "dense-cosine top-50 legs — integer ranks make the fused scores " +
        "engine-exact; both legs end in per-partition heaps and the fuse " +
        "itself touches ≤100 rows; the standard RAG first-stage retriever"),

    Query(
      "q_e_context_pack",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // RAG context assembly: take the fused retrieval ranking and
        // greedily pack documents into a 256-token context budget in
        // rank order (running token cumsum; a doc is kept while the
        // cumulative total fits). The audit columns (rank, n_tokens,
        // cum_tokens, kept) are what a serving layer logs per request.
        // Scale shape: consumes the SHARED fused 20-row frame (one
        // first-stage run per session/dir across the whole RAG trio);
        // the doc-length join probes documents on its key and the pack
        // window runs over 20 rows on one partition — per-request cost
        // is O(k), independent of corpus size.
        val fused = fusedTop20(s, dir)
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(expr("filter(split(trim(text), '\\\\s+'), t -> t <> '')"))
              .cast("long").as("n_tokens"))
        val w = Window.orderBy(col("rrf").desc, col("doc_id"))
        fused.join(d, "doc_id")
          .select(col("doc_id"), col("rrf"), col("n_tokens"),
            row_number().over(w).cast("long").as("rank"),
            sum("n_tokens").over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("cum_tokens"))
          .withColumn("kept", col("cum_tokens") <= 256)
          .orderBy("rank")
      },
      Some(raw"""WITH $ragLegCtes,
             |fused AS (SELECT COALESCE(dr.doc_id, br.doc_id) AS doc_id,
             |            ROUND(COALESCE(1.0/(60 + dr.r_dense), 0)
             |              + COALESCE(1.0/(60 + br.r_bm25), 0), 6) + 0.0 AS rrf
             |          FROM dr FULL JOIN br ON dr.doc_id = br.doc_id
             |          ORDER BY rrf DESC, doc_id LIMIT 20),
             |j AS (SELECT f.doc_id, f.rrf,
             |        CAST(len(list_filter(string_split_regex(trim(d.text), '\s+'),
             |          t -> t <> '')) AS BIGINT) AS n_tokens
             |      FROM fused f JOIN documents d USING (doc_id)),
             |w AS (SELECT doc_id, rrf, n_tokens,
             |        CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
             |        CAST(SUM(n_tokens) OVER (ORDER BY rrf DESC, doc_id
             |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |      FROM j)
             |SELECT doc_id, rrf, n_tokens, rank, cum_tokens,
             |  cum_tokens <= 256 AS kept
             |FROM w ORDER BY rank""".stripMargin),
      doc = "RAG context assembly: the fused top-20 greedily packed into " +
        "a 256-token context budget in rank order — doc-length probe join " +
        "+ a 20-row cumsum window; per-request cost is O(k) at any corpus " +
        "size; logs the rank/token/kept audit a serving layer publishes"),

    Query(
      "q_e_fusion_gain",
      (s, dir) => {
        // The eval loop for hybrid retrieval (the q_e_ann_recall posture
        // applied to fusion): how much of the fused top-10 comes from
        // each leg alone? overlap@10 per leg + the count of fused hits
        // NEITHER leg had in ITS top-10 — the reranking-effect evidence
        // that justifies (or kills) running both legs in production.
        // Scale shape: consumes the SHARED fused 20-row frame (the leg
        // plans run once per session/dir across the RAG trio), then the
        // overlap flags reduce over ≤10 rows — eval cost is retrieval
        // cost, not corpus cost. The explicit orderBy re-asserts rank
        // order on the cached frame before the top-10 cut.
        val fused = fusedTop20(s, dir)
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(10).select(col("doc_id"),
            (col("r_dense") <= 10).as("in_dense10"),
            (col("r_bm25") <= 10).as("in_bm2510"))
        fused.agg(
          count(lit(1)).as("k"),
          sum(when(coalesce(col("in_dense10"), lit(false)), 1L)
            .otherwise(0L)).as("from_dense10"),
          sum(when(coalesce(col("in_bm2510"), lit(false)), 1L)
            .otherwise(0L)).as("from_bm2510"),
          sum(when(coalesce(col("in_dense10"), lit(false))
            || coalesce(col("in_bm2510"), lit(false)), 0L)
            .otherwise(1L)).as("fusion_only"))
      },
      Some(s"""WITH $ragLegCtes,
             |fused AS (SELECT COALESCE(dr.doc_id, br.doc_id) AS doc_id,
             |            dr.r_dense, br.r_bm25,
             |            ROUND(COALESCE(1.0/(60 + dr.r_dense), 0)
             |              + COALESCE(1.0/(60 + br.r_bm25), 0), 6) + 0.0 AS rrf
             |          FROM dr FULL JOIN br ON dr.doc_id = br.doc_id
             |          ORDER BY rrf DESC, doc_id LIMIT 10)
             |SELECT COUNT(*) AS k,
             |  CAST(SUM(CASE WHEN COALESCE(r_dense <= 10, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS from_dense10,
             |  CAST(SUM(CASE WHEN COALESCE(r_bm25 <= 10, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS from_bm2510,
             |  CAST(SUM(CASE WHEN COALESCE(r_dense <= 10, FALSE)
             |            OR COALESCE(r_bm25 <= 10, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS fusion_only
             |FROM fused""".stripMargin),
      doc = "fusion-gain eval (the ann-recall posture on hybrid " +
        "retrieval): per-leg overlap@10 of the fused top-10 + the count " +
        "neither leg ranked top-10 alone — the evidence that justifies " +
        "running both legs; eval cost = retrieval cost, never corpus cost"),

    Query(
      "q_e_top_component",
      (s, dir) => {
        // "All-but-the-top" embedding postprocessing, step 1: the
        // dominant principal direction of the mean-centered embedding
        // cloud via 3 power iterations (x ← normalize(CᵀC x)), plus the
        // variance fraction it explains — the diagnostic that decides
        // whether common-direction removal is worth shipping (anisotropic
        // embeddings hurt cosine retrieval). The data-dependent recursion
        // is unrolled in-plan (the Lloyd discipline); every corpus-sized
        // sum is float32-quantized (CAST REAL) so summation-order ulps
        // can't diverge the engines, per-row dots are ascending-index
        // ordered folds (aggregate HOF = DuckDB list_reduce), and each
        // iterate is ROUND(·,6)-normalized. Scale shape: 5 map+agg corpus
        // passes total (mean, 3 iterations, variance), each a map-only
        // dot against a broadcast 64-double vector + an O(dim)-key or
        // 1-row aggregate — no shuffle ever carries more than dim keys.
        // IterScope (r10 wall census: 34 jobs for a 64-row result) — the
        // 5 corpus passes are map + dim-key/1-row aggregates with nothing
        // for runtime re-planning to decide; AQE only split the unrolled
        // rounds into serial stage-materialization walls. Materialized
        // once here; plan-identical retains serve rebuilds from cache.
        graft.ops.IterScope.noAqe(s) {
        val e = emb(s, dir).select(col("embedding").cast("array<double>").as("emb"))
        val (muF, xF) = abttFit(s, e)
        val st = e.crossJoin(broadcast(muF)).crossJoin(broadcast(xF))
          .select(expr(abttDotX).as("dot"),
            expr("aggregate(transform(sequence(0, 63), " +
              "j -> (emb[j] - mu[j]) * (emb[j] - mu[j])), " +
              "CAST(0 AS DOUBLE), (a, v) -> a + v)").as("n2"))
          .agg(sum(col("dot") * col("dot")).cast("float").cast("double").as("num"),
            sum("n2").cast("float").cast("double").as("den"))
        val out = muF.crossJoin(xF).crossJoin(st)
          .select(posexplode(expr("arrays_zip(mu, x)")).as(Seq("dim", "z")),
            col("num"), col("den"))
          .select(col("dim").cast("int").as("dim"),
            (round(col("z.mu"), 6) + lit(0.0)).as("mu"),
            (col("z.x") + lit(0.0)).as("loading"),
            (round(col("num") / nullif(col("den"), lit(0.0)), 6) + lit(0.0))
              .as("var_frac"))
          .orderBy("dim")
        val res = graft.CacheScope.retain(out)
        res.count()
        res
        }
      },
      Some(s"""WITH $abttFitCtes,
              |fin AS (SELECT
              |      list_reduce(list_prepend(0.0, list_transform(range(0, 64),
              |        j -> (e.emb[j+1] - mu.mu[j+1]) * x3.x[j+1])), (a, v) -> a + v) AS dot,
              |      list_reduce(list_prepend(0.0, list_transform(range(0, 64),
              |        j -> (e.emb[j+1] - mu.mu[j+1]) * (e.emb[j+1] - mu.mu[j+1]))), (a, v) -> a + v) AS n2
              |    FROM e, mu, x3),
              |st AS (SELECT CAST(CAST(SUM(dot*dot) AS REAL) AS DOUBLE) AS num,
              |              CAST(CAST(SUM(n2) AS REAL) AS DOUBLE) AS den FROM fin)
              |SELECT CAST(j - 1 AS INT) AS dim, ROUND(mu.mu[j], 6) + 0.0 AS mu,
              |  x3.x[j] + 0.0 AS loading,
              |  ROUND(st.num / NULLIF(st.den, 0.0), 6) + 0.0 AS var_frac
              |FROM (SELECT unnest(range(1, 65)) AS j), mu, x3, st ORDER BY dim""".stripMargin),
      doc = "all-but-the-top step 1: dominant principal direction of the " +
        "mean-centered embedding cloud (3 power iterations unrolled " +
        "in-plan, float32-quantized corpus sums, ordered-fold dots, " +
        "ROUND-normalized iterates) + explained-variance fraction — the " +
        "anisotropy diagnostic before common-direction removal; 5 map+agg " +
        "corpus passes, no shuffle wider than dim keys"),

    Query(
      "q_e_abtt_topk",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        // All-but-the-top step 2 (the apply half): retrieval over the
        // POSTPROCESSED embeddings — every vector mean-centered with the
        // dominant direction projected out (p = c − (c·v)v), then exact
        // cosine top-10 for the query vector. Fit (mean + 3 power
        // iterations) rides the same unrolled plan as q_e_top_component;
        // the removal itself is a map-only transform against two
        // broadcast 64-double vectors, so the postprocessing adds ZERO
        // shuffles to the retrieval path.
        // IterScope (r10 wall census: 35 jobs for a 10-row result) — same
        // rationale as q_e_top_component: the fit passes are map +
        // dim-key aggregates, the retrieval is one scan + heaps; AQE
        // only added serial walls. Materialized once here.
        graft.ops.IterScope.noAqe(s) {
        val e = emb(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        val (muF, xF) = abttFit(s, e)
        def process(rows: org.apache.spark.sql.DataFrame) = rows
          .crossJoin(broadcast(muF)).crossJoin(broadcast(xF))
          .select(col("vec_id"), col("emb"), col("mu"), col("x"),
            expr(abttDotX).as("dot"))
          .select(col("vec_id"), expr(
            "transform(sequence(0, 63), j -> (emb[j] - mu[j]) - dot * x[j])")
            .as("p"))
        // the query vector is processed from its OWN 1-row filtered scan —
        // never by re-deriving the corpus-wide processed frame
        val q = broadcast(process(e.where(col("vec_id") === 0))
          .select(col("p").as("qp")))
        val res = graft.CacheScope.retain(
          process(e.where(col("vec_id") =!= 0)).crossJoin(q)
            .select(col("vec_id"),
              (round(cosine_sim(col("p"), col("qp")), 6) + lit(0.0)).as("sim"))
            .orderBy(col("sim").desc, col("vec_id"))
            .limit(10))
        res.count()
        res
        }
      },
      Some(s"""WITH $abttFitCtes,
              |proc AS (SELECT e.vec_id,
              |      list_transform(range(0, 64), j -> (e.emb[j+1] - mu.mu[j+1])
              |        - (list_reduce(list_prepend(0.0, list_transform(range(0, 64),
              |             k -> (e.emb[k+1] - mu.mu[k+1]) * x3.x[k+1])), (a, v) -> a + v))
              |          * x3.x[j+1]) AS p
              |    FROM e, mu, x3),
              |q AS (SELECT p AS qp FROM proc WHERE vec_id = 0)
              |SELECT proc.vec_id, ROUND(list_cosine_similarity(proc.p, q.qp), 6) + 0.0 AS sim
              |FROM proc, q WHERE proc.vec_id <> 0
              |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin),
      doc = "all-but-the-top step 2 (apply): exact cosine top-10 over " +
        "mean-centered, dominant-direction-removed embeddings — the fit " +
        "rides the q_e_top_component plan, the removal is a map-only " +
        "transform against two broadcast 64-double vectors; zero extra " +
        "shuffles on the retrieval path"),

    Query(
      "q_e_contrastive_pairs",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        import org.apache.spark.sql.expressions.Window
        // Contrastive training-pair export: (anchor, positive, negative)
        // triplets for embedding fine-tuning — positives are the verified
        // near-dup pairs, the negative for each anchor is its HARDEST
        // non-duplicate (top cosine among docs OUTSIDE the anchor's CC
        // group, so a paraphrase can never leak in as a false negative —
        // the failure mode naive random negatives have). Scale shape:
        // anchors are bounded by the dup structure and broadcast with
        // their vectors; the corpus side is one map pass + per-anchor
        // WindowGroupLimit top-1; group labels ride the already-proven
        // CC collapse over the retained pair list.
        // pairs + groups from the family's shared memoized stage (r12)
        val pairs = DedupQueries.minedPairs(s, dir)
        val groups = DedupQueries.minedGroups(s, dir)
        val e = emb(s, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        val lab = e.join(groups, e("vec_id") === groups("node"), "left")
          .select(col("vec_id"), col("emb"),
            coalesce(col("group_id"), col("vec_id")).as("grp"))
        // ONE EXPORT BATCH of anchors (64, lowest ids — deterministic and
        // oracle-replayed): negative mining is inherently anchors×corpus,
        // so production drains anchors in bounded batches exactly like
        // q_e_hard_negatives' anchor batch; without the cap the replica
        // corpus measured 50× at 10× (anchors grow with dup structure)
        val anchors = pairs.select(col("doc_a").as("anchor")).distinct()
          .orderBy("anchor").limit(64)
          .join(lab, col("anchor") === lab("vec_id"))
          .select(col("anchor"), col("emb").as("aemb"), col("grp").as("agrp"))
        val negs = lab.join(broadcast(anchors), col("grp") =!= col("agrp"))
          .select(col("anchor"), col("vec_id").as("negative"),
            (round(cosine_sim(col("emb"), col("aemb")), 6) + lit(0.0))
              .as("neg_cosine"))
          .withColumn("rn", row_number().over(Window.partitionBy("anchor")
            .orderBy(col("neg_cosine").desc, col("negative"))))
          .where(col("rn") === 1).drop("rn")
        pairs.join(negs, pairs("doc_a") === negs("anchor"))
          .select(col("doc_a").as("anchor"), col("doc_b").as("positive"),
            col("jaccard"), col("negative"), col("neg_cosine"))
          .orderBy("anchor", "positive")
      },
      Some(s"""WITH RECURSIVE ${DedupQueries.minedPairsCtes},
              |${DedupQueries.ccCtes("pairs", "doc_a", "doc_b", groups = true)},
              |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              |lab AS (SELECT e.vec_id, e.emb, COALESCE(g.group_id, e.vec_id) AS grp
              |        FROM e LEFT JOIN grp g ON g.node = e.vec_id),
              |ab AS (SELECT DISTINCT doc_a AS anchor FROM pairs
              |       ORDER BY anchor LIMIT 64),
              |anch AS (SELECT a.anchor, la.emb AS aemb, la.grp AS agrp
              |         FROM ab a JOIN lab la ON la.vec_id = a.anchor),
              |scored AS (SELECT a.anchor, l.vec_id AS negative,
              |             ROUND(list_cosine_similarity(l.emb, a.aemb), 6) + 0.0 AS neg_cosine,
              |             ROW_NUMBER() OVER (PARTITION BY a.anchor
              |               ORDER BY ROUND(list_cosine_similarity(l.emb, a.aemb), 6) + 0.0 DESC,
              |                        l.vec_id) AS rn
              |           FROM anch a JOIN lab l ON l.grp <> a.agrp)
              |SELECT p.doc_a AS anchor, p.doc_b AS positive, p.jaccard,
              |  sc.negative, sc.neg_cosine
              |FROM pairs p JOIN scored sc ON sc.anchor = p.doc_a AND sc.rn = 1
              |ORDER BY anchor, positive""".stripMargin),
      doc = "contrastive training-pair export: verified near-dup pairs as " +
        "(anchor, positive) + the hardest non-duplicate negative per " +
        "anchor (top cosine OUTSIDE the anchor's CC group — dedup-aware, " +
        "so paraphrases can't leak in as false negatives); broadcast " +
        "anchors, map-only cosine pass, per-anchor WindowGroupLimit"),

    Query(
      "q_e_mmr_topk",
      (s, dir) => {
        import graft.functions.VectorExpressions.cosine_sim
        // Maximal-marginal-relevance diversification (Carbonell &
        // Goldstein, λ=0.7): greedily pick 5 results from the dense
        // top-20 shortlist, each round scoring every remaining candidate
        // as λ·rel − (1−λ)·max-sim-to-already-selected. The greedy
        // recursion is data-dependent, so the 4 selection rounds are
        // unrolled in-plan (the Lloyd-round discipline): the shortlist
        // and its 20×19 pairwise-cosine table are retained once, each
        // round is an anti-join + MAX penalty + 1-row TakeOrdered over
        // those ≤380-row frames. Scale shape: the corpus-sized work is
        // exactly one cosine pass + per-partition heaps (the shortlist
        // build); everything after is O(k²) regardless of corpus size.
        // All cosines and MMR scores are ROUND(…,6)+0.0, ties by doc_id,
        // so both engines replay the identical greedy path.
        // IterScope (r10, the r9-item-4 program): the unrolled greedy
        // rounds are ≤380-row frames, but AQE materialized every round's
        // stages as separate jobs — 55 serial driver walls for a 5-row
        // result (`per_query` jobs in a traced perfbench run). The whole
        // cascade runs with AQE off and materializes once here; 9 jobs
        // after. The one corpus-sized step (the shortlist's cosine pass +
        // heaps) is a single scan with no runtime re-planning decisions
        // to lose.
        graft.CacheScope.memo(s, MmrTopk(dir))(
        graft.ops.IterScope.noAqe(s) {
        val q = broadcast(queryVec(s, dir).select(col("embedding").as("qv")))
        val short = graft.CacheScope.retain(
          emb(s, dir).where(col("vec_id") =!= 0).crossJoin(q)
            .select(col("vec_id").as("doc_id"), col("embedding"),
              (round(cosine_sim(col("embedding"), col("qv")), 6)
                + lit(0.0)).as("rel"))
            .orderBy(col("rel").desc, col("doc_id")).limit(20))
        val pairs = graft.CacheScope.retain(
          short.select(col("doc_id").as("ida"), col("embedding").as("ea"))
            .join(short.select(col("doc_id").as("idb"),
              col("embedding").as("eb")), col("ida") =!= col("idb"))
            .select(col("ida"), col("idb"),
              (round(cosine_sim(col("ea"), col("eb")), 6)
                + lit(0.0)).as("sim")))
        var sel = short.orderBy(col("rel").desc, col("doc_id")).limit(1)
          .select(col("doc_id"), col("rel"),
            (round(col("rel") * 0.7, 6) + lit(0.0)).as("mmr"),
            lit(1).as("pick_order"))
        for (i <- 2 to 5) {
          val selIds = sel.select(col("doc_id").as("sel_id"))
          val pen = pairs.join(selIds, col("idb") === col("sel_id"))
            .groupBy("ida").agg(max(col("sim")).as("pen"))
          val cand = short
            .join(selIds, short("doc_id") === col("sel_id"), "left_anti")
            .join(pen, short("doc_id") === pen("ida"))
            .select(short("doc_id"), col("rel"),
              (round(col("rel") * 0.7 - col("pen") * 0.3, 6)
                + lit(0.0)).as("mmr"))
          val pick = cand.orderBy(col("mmr").desc, col("doc_id")).limit(1)
            .withColumn("pick_order", lit(i))
          sel = graft.CacheScope.retain(sel.union(pick))
        }
        val res = graft.CacheScope.retain(sel.orderBy("pick_order"))
        res.count()
        res
        })
      },
      Some {
        val rounds = (2 to 5).map { i =>
          s"""sel${i - 1} AS (SELECT doc_id FROM ${
            (1 until i).map(j => s"s$j").mkString(" UNION ALL SELECT doc_id FROM ")
          }),
             |p$i AS (SELECT p.ida AS doc_id, MAX(p.sim) AS pen
             |      FROM pairs p JOIN sel${i - 1} s ON p.idb = s.doc_id GROUP BY 1),
             |c$i AS (SELECT sh.doc_id, sh.rel,
             |        ROUND(0.7*sh.rel - 0.3*p.pen, 6) + 0.0 AS mmr
             |      FROM short sh JOIN p$i p USING (doc_id)
             |      WHERE sh.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})),
             |s$i AS (SELECT doc_id, rel, mmr, $i AS pick_order FROM c$i
             |      ORDER BY mmr DESC, doc_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
           |short AS (SELECT e.vec_id AS doc_id, e.emb,
           |            ROUND(list_cosine_similarity(e.emb, q.qv), 6) + 0.0 AS rel
           |          FROM e, q WHERE e.vec_id <> 0
           |          ORDER BY rel DESC, doc_id LIMIT 20),
           |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
           |            ROUND(list_cosine_similarity(a.emb, b.emb), 6) + 0.0 AS sim
           |          FROM short a JOIN short b ON a.doc_id <> b.doc_id),
           |s1 AS (SELECT doc_id, rel, ROUND(0.7*rel, 6) + 0.0 AS mmr, 1 AS pick_order
           |       FROM short ORDER BY rel DESC, doc_id LIMIT 1),
           |$rounds
           |SELECT doc_id, rel, mmr, pick_order FROM (
           |  ${(1 to 5).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")}
           |) ORDER BY pick_order""".stripMargin
      },
      doc = "MMR diversified top-k (λ=0.7, 5 picks from the dense top-20): " +
        "the greedy rounds are unrolled in-plan over a retained shortlist " +
        "+ pairwise-cosine table (≤380 rows) — corpus-sized work is one " +
        "cosine pass + per-partition heaps, selection is O(k²) at any " +
        "corpus size; oracle replays the identical greedy path round by " +
        "round")
  )
}
