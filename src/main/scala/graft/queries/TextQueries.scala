package graft.queries

import graft.{Query, QueryPack, Tables}
import graft.text.TextAnalysis._
import org.apache.spark.sql.functions._

/** Text-analysis surface over the `documents` table: token counting,
  * language-ID, quality scoring, fingerprinting, exact dedup. All
  * map-only column expressions (single corpus pass, no shuffle) except the
  * dedup aggregation.
  */
object TextQueries extends QueryPack {

  // SQL fragments shared by the DuckDB oracles (and the corpus-filter
  // integration query).
  private def swLen(set: Seq[String]): String =
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w IN (${set.map(w => s"'$w'").mkString(", ")})))"
  private[queries] val swEn = swLen(StopwordSets(0)._2)
  private[queries] val swEs = swLen(StopwordSets(1)._2)
  private[queries] val swDe = swLen(StopwordSets(2)._2)
  private[queries] val swFr = swLen(StopwordSets(3)._2)
  private[queries] val cjk = "length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g'))"

  /** Token count / quality-score expression texts (same shapes as the
    * Spark columns in [[graft.text.TextAnalysis]]).
    */
  private[queries] val nTokSql =
    "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"

  private[queries] val qualityExprSql: String =
    s"""LEAST($nTokSql / 100.0, 1.0) * 0.4
       |  + (CASE WHEN length(text) * 1.0 / GREATEST($nTokSql, 1.0)
       |          BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
       |  + (CASE WHEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / GREATEST(length(text), 1.0) <= 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
       |  + LEAST($swEn * 1.0 / GREATEST($nTokSql, 1.0) * 5.0, 1.0) * 0.2""".stripMargin

  /** Language-ID argmax CASE over pre-computed s_en..s_zh columns. */
  private[queries] val langCaseSql =
    """CASE
      |      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
      |      WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
      |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
      |      WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
      |      WHEN s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_de AND s_zh >= s_fr AND s_zh > 0 THEN 'zh'
      |      ELSE 'und' END""".stripMargin

  // ---- Murmur3_x86_32 replay for the Count-Min oracle ----------------
  // Spark's CountMinSketch hashes a string's UTF-8 bytes with its own
  // Murmur3_x86_32 variant: 4-byte little-endian blocks, then each TAIL
  // byte mixed individually as a sign-extended int (NOT the reference
  // murmur3 tail), finalized with fmix(h, len); bucket_i =
  // |int32(hash1 + i*hash2) % width| with hash2 seeded by hash1
  // (spark-sketch CountMinSketchImpl.getHashBuckets — the seed argument
  // only feeds the LONG path, strings ignore it). Replayed below in
  // unsigned-32 arithmetic: BIGINT carries, HUGEINT for the 32x32
  // multiplies, `xor`/`//`/`%` for the bit ops. DedupSpec-style
  // validation: bit-identical to Spark's sketch on the sf0.01 corpus.
  /** One block/tail mix step `(a, x) -> mixH1(a, mixK1(x))`, everything
    * mod 2^32; `a` is the running h1, `x` an unsigned-32 block value.
    */
  private val cmsMul1 = "((CAST(x AS HUGEINT) * 3432918353) % 4294967296)"
  private val cmsK1 =
    s"((($cmsMul1 * 32768) % 4294967296 + $cmsMul1 // 131072) * 454882906) % 4294967296"
  private val cmsStep =
    s"CAST((CAST(((xor(CAST(a AS BIGINT), CAST(($cmsK1) AS BIGINT)) * 8192) % 4294967296" +
    s" + xor(CAST(a AS BIGINT), CAST(($cmsK1) AS BIGINT)) // 524288) AS HUGEINT)" +
    s" * 5 + 3864292196) % 4294967296 AS BIGINT)"
  /** murmur finalizer fmix(h, len) over expression texts. */
  private def cmsFmix(h: String, len: String): String = {
    val f1 = s"xor($h, $len)"
    val f2 = s"(CAST(xor($f1, ($f1) // 65536) AS HUGEINT) * 2246822507) % 4294967296"
    val f3 = s"(CAST(xor(CAST(($f2) AS BIGINT), CAST(($f2) // 8192 AS BIGINT)) AS HUGEINT) * 3266489909) % 4294967296"
    s"xor(CAST(($f3) AS BIGINT), CAST(($f3) // 65536 AS BIGINT))"
  }
  private val cmsH1 = cmsFmix(
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), ks), (a, x) -> $cmsStep)", "len")
  private val cmsH2 = cmsFmix(
    s"list_reduce(list_prepend(h1, ks), (a, x) -> $cmsStep)", "len")

  /** The full CMS heavy-hitter oracle: replay the sketch grid (depth 7,
    * width 2000 — Spark's eps 0.001/conf 0.99 sizing) over every distinct
    * term, then min the 7 probed cells per top-20 term.
    */
  /** Shared BM25 scoring leg (k1 = 1.2, b = 0.75, Lucene-style
    * +1-inside-the-log IDF) over a (doc_id, text) frame: per-doc
    * (n_terms, bm25) for the given query terms, UNORDERED — callers add
    * their own top-k. Composed verbatim by `q_t_bm25_topk` and the
    * hybrid-RRF sparse leg (`VectorQueries.q_e_hybrid_rrf`); both
    * DuckDB oracles replay it through [[bm25Ctes]], so a change here must
    * land there too. Scale shape: doc lengths are a MAP-ONLY
    * size() over the token array (`len > 0` keeps parity with the
    * explode+groupBy shape the oracles replay, which never emits a
    * zero-token doc — no corpus-sized token shuffle, no cache); only tf
    * explodes, and its query-term IN filter runs map-side so that shuffle
    * carries matching tokens only; df/idf and the corpus stats are O(1)
    * broadcasts.
    */
  private[queries] def bm25PerDoc(docs: org.apache.spark.sql.DataFrame,
      qterms: Seq[String]): org.apache.spark.sql.DataFrame = {
    // r14 (guide §5 cache-when-reused): len is consumed by THREE plans
    // (the corpus-stats aggregate, and the per-doc join in the score
    // pass) — un-retained, each consumer re-tokenized the whole corpus
    // to recompute size(); retained, the tokenize runs once and the
    // cache is 2 longs per doc (the oov_rate retained-token-pass
    // discipline). 4 corpus tokenize passes → 2 (this + the tf explode).
    val lens = graft.CacheScope.retain(docs
      .select(col("doc_id"),
        size(expr(
          "filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')"))
          .cast("long").as("len"))
      .where(col("len") > 0))
    val st = lens.agg(count(lit(1)).as("n_docs"),
      sum("len").as("tot_len"))
    val tf = docs
      .select(col("doc_id"),
        explode(expr(
          "filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')"))
          .as("tok"))
      .where(col("tok").isin(qterms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(st))
      .select(col("tok"),
        (round(log((col("n_docs") - col("df") + 0.5)
          / (col("df") + 0.5) + 1.0), 6) + lit(0.0)).as("idf"))
    tf.join(broadcast(idf), "tok")
      .join(lens, "doc_id")
      .crossJoin(broadcast(st))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        (round(sum(col("idf") * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("len")
              / (col("tot_len") * lit(1.0) / col("n_docs"))))), 4)
          + lit(0.0)).as("bm25"))
  }

  /** Oracle twin of [[bm25PerDoc]]'s statistics for the fixed query terms
    * ('join', 'vector', 'stream') over the `documents` rows matching
    * `where` (an SQL suffix, may be empty): tokens `tk`, doc lengths
    * `lens`, corpus stats `st`, term frequencies `tf` and `idf`.
    */
  private[queries] def bm25Ctes(where: String): String =
    raw"""tk AS (SELECT doc_id, unnest(list_filter(
         |         string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS tok
         |       FROM documents$where),
         |lens AS (SELECT doc_id, COUNT(*) AS len FROM tk GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(len) AS BIGINT) AS tot_len FROM lens),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tk
         |       WHERE tok IN ('join', 'vector', 'stream') GROUP BY 1, 2),
         |idf AS (SELECT tok,
         |          ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6) + 0.0 AS idf
         |        FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1), st)""".stripMargin

  /** Contiguous greedy packing state: within each (source, shard) —
    * shard = KeyHash(doc_id) mod 8, because source cardinality alone may
    * be TINY (a 10B-doc source would otherwise become ONE sort partition)
    * — `cum_before` = the tokens before the doc in doc_id order, so
    * `cum_before DIV budget` is its bin. Packing needs only A
    * deterministic order per shard, not a global one, so sub-sharding is
    * free parallelism: window sort cost is bounded per shard at any
    * corpus size, nShards is the knob.
    */
  private[queries] def packedDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shard = pmod(graft.functions.KeyHash.column(col("doc_id")), lit(8L))
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).as("n_tokens"))
      .withColumn("shard", shard)
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
  }

  /** Oracle twin of [[packedDocs]]: `tc` (doc_id, source, shard,
    * n_tokens) and `c`, which adds `cum_before`.
    */
  private[queries] val packCtes =
    s"""tc AS (
       |  SELECT doc_id, source,
       |    ${graft.functions.KeyHash.sql("doc_id")} % 8 AS shard,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, source, shard, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM tc)""".stripMargin

  private[queries] val cmsOracleSql: String =
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS term
       |  FROM documents),
       |tf AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
       |hx AS (
       |  SELECT term, n, hex(encode(term)) AS hs, octet_length(encode(term)) AS len
       |  FROM tf),
       |by AS (
       |  SELECT term, n, len, len - len % 4 AS la,
       |    list_transform(generate_series(1, len),
       |      i -> CAST(16*(strpos('0123456789ABCDEF', substr(hs, 2*i-1, 1))-1)
       |         + (strpos('0123456789ABCDEF', substr(hs, 2*i, 1))-1) AS BIGINT)) AS bs
       |  FROM hx),
       |bk AS (
       |  SELECT term, n, len,
       |    list_concat(
       |      list_transform(generate_series(1, la//4),
       |        j -> bs[4*j-3] + 256*bs[4*j-2] + 65536*bs[4*j-1] + 16777216*bs[4*j]),
       |      list_transform(generate_series(la+1, len),
       |        i -> CASE WHEN bs[i] >= 128 THEN bs[i] + 4294967040 ELSE bs[i] END)) AS ks
       |  FROM by),
       |m1 AS (SELECT term, n, len, ks, $cmsH1 AS h1 FROM bk),
       |m2 AS (SELECT term, n, h1, $cmsH2 AS h2 FROM m1),
       |bu AS (
       |  SELECT term, n,
       |    list_transform(generate_series(0, 6),
       |      i -> abs((CASE WHEN (h1 + i*h2) % 4294967296 >= 2147483648
       |                THEN (h1 + i*h2) % 4294967296 - 4294967296
       |                ELSE (h1 + i*h2) % 4294967296 END) % 2000)) AS bks
       |  FROM m2),
       |ex AS (SELECT term, n, unnest(generate_series(0, 6)) AS i, unnest(bks) AS b FROM bu),
       |cells AS (SELECT i, b, CAST(SUM(n) AS BIGINT) AS cnt FROM ex GROUP BY i, b),
       |top20 AS (SELECT term, n FROM tf ORDER BY n DESC, term LIMIT 20)
       |SELECT e.term, CAST(e.n AS BIGINT) AS exact_n,
       |  MIN(c.cnt) AS cms_n, MIN(c.cnt) - CAST(e.n AS BIGINT) AS overshoot
       |FROM ex e JOIN cells c ON c.i = e.i AND c.b = e.b
       |WHERE e.term IN (SELECT term FROM top20)
       |GROUP BY e.term, e.n
       |ORDER BY exact_n DESC, e.term""".stripMargin

  /** Token-window chunker (64-token chunks, stride 48, last chunk reaching
    * the doc end): one shared definition feeding q_t_chunk_overlap and the
    * chunk-level dedup. Map-only — explode fan-out ∝ output, no shuffle;
    * at 100 TB the chunker runs inside the scan stage.
    */
  private def chunkFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val C = 64; val S = 48
    val base = Tables(s, dir, "documents")
      .withColumn("__toks",
        expr("filter(split(trim(text), '\\\\s+'), t -> t <> '')"))
      .withColumn("__n", size(col("__toks")))
    val lastIdx = when(col("__n") <= C, lit(0L))
      .otherwise(ceil((col("__n") - lit(C)) / lit(S.toDouble)).cast("long"))
    base
      .withColumn("chunk_idx", explode(sequence(lit(0L), lastIdx)))
      .withColumn("start_tok", col("chunk_idx") * S + 1)
      .withColumn("__chunk", slice(col("__toks"), col("start_tok"), lit(C)))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("__chunk")).cast("long").as("n_tokens"),
        fingerprint(concat_ws(" ", col("__chunk"))).as("chunk_hash"))
  }

  /** DuckDB replay of [[chunkFrame]] (final CTE: `chh`). */
  private val chunkCtes =
    """t AS (SELECT doc_id,
      |         list_filter(string_split_regex(trim(text), '\s+'), tk -> tk <> '') AS toks
      |       FROM documents),
      |nn AS (SELECT doc_id, toks, len(toks) AS n FROM t),
      |cc AS (SELECT doc_id, toks, n, unnest(range(0,
      |         CASE WHEN n <= 64 THEN 1
      |              ELSE 1 + CAST(ceil((n - 64) / 48.0) AS BIGINT) END)) AS chunk_idx
      |       FROM nn),
      |ch AS (SELECT doc_id, chunk_idx, chunk_idx * 48 + 1 AS start_tok,
      |         len(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS n_tokens,
      |         array_to_string(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ') AS ctext
      |       FROM cc),
      |chh AS (SELECT doc_id, chunk_idx, start_tok, n_tokens,
      |          list_reduce(list_prepend(CAST(0 AS BIGINT),
      |            list_transform(generate_series(1, length(ctext)), i -> CAST(ord(ctext[i]) AS BIGINT))),
      |            (a, x) -> (a * 31 + x) % 2147483647) AS chunk_hash
      |        FROM ch)""".stripMargin

  override def queries: Seq[Query] = Seq(

    Query(
      "q_t_token_counts",
      (s, dir) =>
        Tables(s, dir, "documents").select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          bpeishTokenCount(col("text")).as("n_tokens_bpe")),
      Some("""SELECT doc_id,
             |  CASE WHEN length(trim(text)) = 0 THEN 0
             |       ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_tokens_bpe
             |FROM documents""".stripMargin),
      doc = "token counting: whitespace + BPE-ish regex proxy; map-only, exact ints"),

    Query(
      "q_t_sequence_pack",
      (s, dir) =>
        packedDocs(s, dir)
          .select(col("doc_id"), col("source"), col("shard"),
            col("n_tokens"),
            expr("cum_before DIV 256").as("pack_id")),
      Some(s"""WITH $packCtes
             |SELECT doc_id, source, shard, n_tokens,
             |  CAST(cum_before // 256 AS BIGINT) AS pack_id
             |FROM c""".stripMargin),
      doc = "sequence packing for training batches: contiguous fill to a " +
        "256-token budget via one windowed cumsum per (source, " +
        "KeyHash-shard) — sub-sharding bounds each window sort regardless " +
        "of source cardinality (a 10B-doc source never becomes one sort " +
        "partition); shards pack independently, zero global coordination"),

    Query(
      "q_t_langid_confusion",
      (s, dir) =>
        Tables(s, dir, "documents")
          .withColumn("lang_pred", langId("text"))
          .groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "lang_pred"),
      Some(s"""WITH scored AS (
              |  SELECT lang,
              |    $swEn AS s_en, $swEs AS s_es, $swDe AS s_de, $swFr AS s_fr, $cjk AS s_zh
              |  FROM documents),
              |pred AS (
              |  SELECT lang,
              |    CASE
              |      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh AND s_en > 0 THEN 'en'
              |      WHEN s_es >= s_en AND s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
              |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
              |      WHEN s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de AND s_fr >= s_zh AND s_fr > 0 THEN 'fr'
              |      WHEN s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_de AND s_zh >= s_fr AND s_zh > 0 THEN 'zh'
              |      ELSE 'und' END AS lang_pred
              |  FROM scored)
              |SELECT lang, lang_pred, COUNT(*) AS n FROM pred
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "language-ID heuristic (stopword scores + CJK range) with deterministic tie priority"),

    Query(
      "q_t_quality",
      (s, dir) =>
        Tables(s, dir, "documents").select(col("doc_id"),
          round(qualityScore("text"), 4).as("quality")),
      Some(s"""SELECT doc_id, ROUND(
              |  LEAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END / 100.0, 1.0) * 0.4
              |  + (CASE WHEN length(text) * 1.0 / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END, 1.0)
              |          BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
              |  + (CASE WHEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1.0 / GREATEST(length(text), 1.0) <= 0.2 THEN 1.0 ELSE 0.5 END) * 0.2
              |  + LEAST($swEn * 1.0 / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END, 1.0) * 5.0, 1.0) * 0.2
              |, 4) AS quality
              |FROM documents""".stripMargin),
      doc = "quality scoring: length/word-shape/punct/stopword ratios, fixed weights"),

    Query(
      "q_t_fingerprint",
      (s, dir) =>
        Tables(s, dir, "documents").select(col("doc_id"),
          fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(generate_series(1, length(text)), i -> CAST(ord(text[i]) AS BIGINT))),
             |    (a, x) -> (a * 31 + x) % 2147483647) AS fp
             |FROM documents""".stripMargin),
      doc = "document fingerprint: custom codegen'd rolling-hash Expression; oracle replays the byte fold"),

    Query(
      "q_t_chunk_overlap",
      (s, dir) => chunkFrame(s, dir)
        // no ORDER BY: output is corpus-sized — a global sort here would
        // be the 100 TB bottleneck; the driver's compare sorts rows itself
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          col("n_tokens"), col("chunk_hash")),
      Some(s"""WITH $chunkCtes
             |SELECT doc_id, chunk_idx, start_tok, n_tokens, chunk_hash
             |FROM chh""".stripMargin),
      doc = "token-window chunking with overlap (64-token chunks, stride " +
        "48): raw docs -> fixed-width training sequences keeping context " +
        "across boundaries, last chunk always reaches the doc end; " +
        "map-only explode inside the scan stage, chunk_hash keys " +
        "chunk-level dedup downstream; oracle replays slicing and the " +
        "rolling hash"),

    Query(
      "q_t_chunk_dedup",
      (s, dir) => {
        // Chunk-LEVEL dedup (the C4/boilerplate posture): doc-level dedup
        // misses a page whose middle is copied but whose edges are fresh;
        // chunk granularity catches it. First occurrence of each
        // chunk_hash (by (doc_id, chunk_idx)) survives; the per-doc
        // duplicated-chunk fraction is the boilerplate score a corpus
        // audit ranks on. One shuffle on chunk_hash (the window) + one on
        // doc_id (the rollup) — both keyed, never all-pairs.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
        chunkFrame(s, dir)
          .withColumn("rn", row_number().over(w))
          .withColumn("is_dup", (col("rn") > 1).cast("int"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum("is_dup").as("n_dup_chunks"),
            (round(avg("is_dup"), 4) + lit(0.0)).as("dup_frac"))
      },
      Some(s"""WITH $chunkCtes,
              |r AS (SELECT doc_id, chunk_idx, chunk_hash,
              |        ROW_NUMBER() OVER (PARTITION BY chunk_hash
              |          ORDER BY doc_id, chunk_idx) AS rn
              |      FROM chh)
              |SELECT doc_id, COUNT(*) AS n_chunks,
              |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
              |  ROUND(AVG(CASE WHEN rn > 1 THEN 1.0 ELSE 0.0 END), 4) + 0.0 AS dup_frac
              |FROM r GROUP BY doc_id""".stripMargin),
      doc = "chunk-level exact dedup (C4/boilerplate posture): first " +
        "occurrence of each chunk_hash survives, per-doc duplicated-chunk " +
        "fraction is the boilerplate score — catches copied middles that " +
        "doc-level dedup misses; one keyed shuffle on chunk_hash, one on " +
        "doc_id, never all-pairs"),

    Query(
      "q_t_unigram_logprob",
      (s, dir) => {
        // Unigram-LM likelihood scoring (the CCNet-class quality signal):
        // fit the unigram distribution ON the corpus itself (one
        // partial-agg pass over exploded tokens), then score every doc by
        // its mean token log-probability. Low scorers are gibberish /
        // rare-token soup; high scorers are common-word text. Vocabulary
        // and corpus size are broadcast back (vocab is O(distinct tokens),
        // bounded and tiny next to the corpus); the token explode is never
        // re-shuffled — one shuffle on tok for the fit, one on doc_id for
        // the score.
        val toks = graft.CacheScope.retain(
          Tables(s, dir, "documents").select(col("doc_id"),
            explode(expr("filter(split(trim(text), '\\\\s+'), t -> t <> '')"))
              .as("tok")))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        // r14 (guide §2.4): Σ vocab counts ≡ the plain row count of the
        // retained token frame — same long value, one partial-count cache
        // pass instead of re-deriving vocab (cache scan + tok exchange +
        // two agg levels) just to sum it.
        val totN = toks.agg(count(lit(1)).as("n_total"))
        toks.join(broadcast(vocab), "tok")
          .crossJoin(broadcast(totN))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            (round(avg(log(col("cnt") / col("n_total"))), 4) + lit(0.0))
              .as("avg_logprob"))
        // no ORDER BY — corpus-sized output, driver sorts before hashing
      },
      Some("""WITH tk AS (SELECT doc_id,
             |         unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
             |       FROM documents),
             |vocab AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok),
             |nt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab)
             |SELECT doc_id, COUNT(*) AS n_toks,
             |  ROUND(AVG(ln(cnt * 1.0 / n_total)), 4) + 0.0 AS avg_logprob
             |FROM tk JOIN vocab USING (tok), nt
             |GROUP BY doc_id""".stripMargin),
      doc = "unigram-LM likelihood scoring (CCNet-class quality signal): " +
        "fit the unigram distribution on the corpus (one partial-agg " +
        "pass), score each doc by mean token log-probability via a " +
        "broadcast vocab join — low = gibberish/rare-token soup; corpus " +
        "size folded into the plan as a 1-row broadcast, no driver-side " +
        "count"),

    Query(
      "q_t_top_terms",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
          .where(col("term") =!= "")
          .groupBy("term")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term"))
          .limit(20),
      Some("""SELECT term, COUNT(*) AS n
             |FROM (SELECT unnest(list_filter(
             |        string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
             |      FROM documents)
             |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin),
      doc = "corpus heavy hitters: token explode -> count -> top-k " +
        "(map-side partial counts absorb the token blow-up; " +
        "TakeOrderedAndProject for the top slice)"),

    Query(
      "q_t_zipf_audit",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Corpus-linguistics health audit per source: vocabulary size,
        // token mass, type-token ratio, and the Zipf slope — the
        // least-squares fit of ln(freq) ~ ln(rank) over each source's
        // top-32 terms, computed IN-PLAN from closed-form regression
        // sums (no ML library, no collect). Natural text sits near
        // slope -1; templated/spammy sources drift shallow or steep —
        // a one-row-per-source gate curation dashboards watch. Shapes:
        // one (source, term) partial-agg shuffle absorbs the token
        // blow-up map-side; the rk <= 32 filter is a WindowGroupLimit
        // (per-partition top-k before the source shuffle); the fit is
        // a 5-sum aggregate over 32 rows per source.
        val tf = Tables(s, dir, "documents")
          .select(col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
          .where(col("term") =!= "")
          .groupBy("source", "term").agg(count(lit(1)).as("f"))
        val stats = tf.groupBy("source").agg(
          count(lit(1)).as("vocab_size"),
          sum(col("f")).as("n_tokens"))
        val w = Window.partitionBy("source").orderBy(col("f").desc, col("term"))
        val top = tf.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 32)
          .select(col("source"), log(col("rk")).as("x"), log(col("f")).as("y"))
        val fit = top.groupBy("source").agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        stats.join(fit, "source")
          .select(col("source"), col("vocab_size"), col("n_tokens"),
            // nullif guard: a single-distinct-term source gives n=1, x=0
            // → denominator 0; 0/0 is NaN in Spark but engine-defined in
            // DuckDB, so both sides emit NULL instead (ADVICE r7)
            (round((col("n") * col("sxy") - col("sx") * col("sy")) /
              nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0)),
              4) + lit(0.0))
              .as("zipf_slope"),
            (round(col("n_tokens") / col("vocab_size"), 4) + lit(0.0))
              .as("tokens_per_type"))
          .orderBy("source")
      },
      Some("""WITH tf AS (
             |  SELECT source, term, COUNT(*) AS f
             |  FROM (SELECT source, unnest(list_filter(
             |          string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS term
             |        FROM documents)
             |  GROUP BY source, term),
             |stats AS (
             |  SELECT source, COUNT(*) AS vocab_size,
             |    CAST(SUM(f) AS BIGINT) AS n_tokens
             |  FROM tf GROUP BY source),
             |top AS (
             |  SELECT source, ln(CAST(rk AS DOUBLE)) AS x,
             |    ln(CAST(f AS DOUBLE)) AS y
             |  FROM (SELECT source, f, term,
             |          row_number() OVER (PARTITION BY source
             |            ORDER BY f DESC, term) AS rk
             |        FROM tf)
             |  WHERE rk <= 32),
             |fit AS (
             |  SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             |    SUM(x*x) AS sxx, SUM(x*y) AS sxy
             |  FROM top GROUP BY source)
             |SELECT s.source, s.vocab_size, s.n_tokens,
             |  ROUND((f.n*f.sxy - f.sx*f.sy)
             |    / NULLIF(f.n*f.sxx - f.sx*f.sx, 0), 4) + 0.0 AS zipf_slope,
             |  ROUND(CAST(s.n_tokens AS DOUBLE) / s.vocab_size, 4) + 0.0
             |    AS tokens_per_type
             |FROM stats s JOIN fit f ON f.source = s.source
             |ORDER BY s.source""".stripMargin),
      doc = "Zipf/vocabulary audit per source: vocab size, token mass, " +
        "type-token ratio, and the ln(freq)~ln(rank) least-squares slope " +
        "over the top-32 terms computed in-plan from closed-form regression " +
        "sums — natural text sits near -1, templated sources drift; one " +
        "(source, term) partial-agg shuffle + a WindowGroupLimit top-k, " +
        "the statistical gate curation dashboards watch"),

    Query(
      "q_t_cms_heavy_hitters",
      (s, dir) => {
        // Count-Min heavy hitters — the 4th mergeable summary next to
        // HLL (distinct), GK (quantiles), and Bloom (membership). The
        // sketch aggregate is the at-scale path for term frequencies
        // when the (term, count) table itself is too hot to shuffle:
        // state is a FIXED eps x confidence counter grid (~O(1/eps)
        // ints) that merges by addition — commutative, deterministic
        // with a fixed seed, one partial-agg pass. The exact counts
        // ride the same scan for the error-bound report: CMS
        // guarantees cms_n >= exact_n and overshoot <= eps * total
        // with prob >= confidence (pinned in AccuracySpec).
        val terms = Tables(s, dir, "documents")
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
          .where(col("term") =!= "")
        val sketchBytes = terms
          .agg(expr("count_min_sketch(term, 0.001d, 0.99d, 42)"))
          .head().getAs[Array[Byte]](0) // O(1/eps * ln(1/(1-conf))) bytes
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(sketchBytes))
        val est = udf((t: String) => cms.estimateCount(t))
        terms.groupBy("term").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("term")).limit(20)
          .select(col("term"), col("exact_n"), est(col("term")).as("cms_n"),
            (est(col("term")) - col("exact_n")).as("overshoot"))
      },
      Some(cmsOracleSql),
      doc = "Count-Min heavy hitters: term frequencies from a fixed-size " +
        "mergeable counter grid (eps 0.001, conf 0.99) — the " +
        "at-scale path when the (term, count) table is itself too hot to " +
        "shuffle; exact counts ride the same scan to report the per-term " +
        "overshoot, and AccuracySpec pins the CMS bound (never " +
        "undercounts, overshoot <= eps x total). EXACT oracle: the " +
        "sketch is deterministic (string hashing ignores the seed), so " +
        "the DuckDB side replays Spark's Murmur3_x86_32 double-hash and " +
        "the full depth-7 x width-2000 grid in unsigned-32 SQL " +
        "arithmetic — hash-green, completing the mergeable-summary " +
        "suite next to HLL / GK-quantiles / Bloom"),

    Query(
      "q_u4_data_profile",
      (s, dir) =>
        Tables(s, dir, "documents").agg(
          count(lit(1)).as("n_rows"),
          sum(col("text").isNull.cast("long")).as("null_text"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          round(avg(col("n_chars")), 2).as("avg_chars")),
      Some("""SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
             |  COUNT(DISTINCT lang) AS n_langs,
             |  COUNT(DISTINCT source) AS n_sources,
             |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
             |  ROUND(AVG(n_chars), 2) AS avg_chars
             |FROM documents""".stripMargin),
      doc = "SURVEY U4 as a corpus profile: null/cardinality/range summary in " +
        "one aggregation pass — the validation gate before any training sweep"),

    // ---- the LLM-corpus cleaning pipeline as ONE declarative plan ----
    Query(
      "q_t_corpus_filter",
      (s, dir) => {
        import graft.dedup.NearDup
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val scored = docs
          .withColumn("n_tokens", tokenCount(col("text")))
          .withColumn("quality", qualityScore("text"))
          .withColumn("lang_pred", langId("text"))
          .withColumn("__canon",
            min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        val ndVictims = DedupQueries.minedPairs(s, dir) // shared stage (r12)
          .select(col("doc_b"))
        scored
          .where(col("doc_id") === col("__canon"))
          .join(ndVictims, col("doc_id") === col("doc_b"), "left_anti")
          .where(col("quality") >= 0.4 && col("n_tokens") >= 20 &&
            col("lang_pred") === "en")
          .select(col("doc_id"), col("n_tokens"),
            round(col("quality"), 4).as("quality"))
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id, text, $nTokSql AS n_tokens,
              |    $qualityExprSql AS quality,
              |    $swEn AS s_en, $swEs AS s_es, $swDe AS s_de, $swFr AS s_fr, $cjk AS s_zh,
              |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
              |  FROM documents),
              |${DedupQueries.cappedShingleCtes(64)},
              |${DedupQueries.shingleInterCte},
              |nd AS (SELECT i.doc_b FROM inter i
              |       JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id
              |       WHERE ROUND(i.cnt * 1.0 / (sa.n_sh + sb.n_sh - i.cnt), 4) >= 0.5)
              |SELECT doc_id, n_tokens, ROUND(quality, 4) AS quality
              |FROM scored
              |WHERE doc_id = canon AND quality >= 0.4 AND n_tokens >= 20
              |  AND $langCaseSql = 'en'
              |  AND doc_id NOT IN (SELECT doc_b FROM nd)""".stripMargin),
      doc = "the corpus-cleaning pipeline composed as one plan: quality + " +
        "language filters, exact-dup canonicalization (min doc_id per content " +
        "hash), near-dup victim removal via the Jaccard pair miner — every " +
        "signal one map/shuffle stage, the shape of a real pretraining sweep"),

    // ---- TF-IDF: relevance weighting over the corpus ----
    Query(
      "q_t_tfidf_top",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        // Corpus size for IDF stays IN the plan: a 1-row aggregate
        // broadcast-cross-joined into the scored frame — one job, no
        // separate count() pass over 100 TB.
        val n = docs.agg(count(lit(1)).as("__n"))
        val terms = docs
          .select(col("doc_id"),
            explode(split(trim(col("text")), "\\s+")).as("term"))
          .where(col("term") =!= "")
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        // r14 (guide §2.3): tf is distinct per (doc_id, term) BY
        // CONSTRUCTION (it is the group key), so document frequency is a
        // plain row count per term — countDistinct(doc_id) planned an
        // Expand + an extra aggregation level to dedupe rows that are
        // already unique. Identical df values.
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term"))
        tf.join(dfreq, "term")
          .crossJoin(broadcast(n))
          .withColumn("score",
            (round(col("tf") * log((col("__n") + 1.0) / (col("df") + 1.0)), 6)
              + lit(0.0)).as("score"))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3 && col("doc_id") < 50)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("score"), col("rank"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(list_filter(
             |    string_split_regex(trim(text), '\s+'), tk -> tk <> '')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             |    ROUND(tf.tf * LN((n.n + 1.0) / (dfreq.df + 1.0)), 6) + 0.0 AS score
             |  FROM tf JOIN dfreq USING (term), n),
             |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY score DESC, term) AS rn FROM scored)
             |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
             |  CAST(df AS BIGINT) AS df, score, CAST(rn AS INT) AS rank
             |FROM ranked WHERE rn <= 3 AND doc_id < 50
             |ORDER BY doc_id, rank""".stripMargin),
      doc = "TF-IDF with +1-smoothed IDF: two partial-agg shuffles (doc-term " +
        "counts, term doc-frequencies) + a broadcast-size term join back; " +
        "per-doc top-3 via window (output gated to 50 docs for the check — " +
        "the plan is corpus-wide)"),

    Query(
      "q_t_bm25_topk",
      (s, dir) => {
        // BM25 keyword retrieval (k1 = 1.2, b = 0.75, Lucene-style
        // +1-inside-the-log IDF): score every doc against a fixed query
        // term set, return the top 20 — the targeted-selection op a
        // recipe runs to pull domain-relevant docs out of a raw crawl.
        // Scale shape: query terms are a literal IN filter pushed into
        // the token explode (the corpus-sized tf shuffle only carries
        // matching tokens); df/idf are O(|query|) rows broadcast; doc
        // lengths + corpus stats are map-only size() arithmetic; final
        // top-k is TakeOrderedAndProject. IDF and the final score are
        // rounded before ranking (engine-stable order, ties by doc_id).
        bm25PerDoc(Tables(s, dir, "documents"),
          Seq("join", "vector", "stream"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH ${bm25Ctes("")}
             |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             |  ROUND(SUM(i.idf * t.tf * 2.2
             |    / (t.tf + 1.2 * (0.25 + 0.75 * l.len
             |        / (tot_len * 1.0 / n_docs)))), 4) + 0.0 AS bm25
             |FROM tf t JOIN idf i USING (tok) JOIN lens l USING (doc_id), st
             |GROUP BY t.doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),
      doc = "BM25 keyword retrieval (k1=1.2, b=0.75, Lucene IDF): top-20 " +
        "docs for a fixed query term set — the query-term IN filter rides " +
        "the token explode so the tf shuffle only carries matches, idf/" +
        "stats broadcast, doc lengths via map-only size() (no corpus-" +
        "sized token shuffle), top-k via per-partition heaps; the " +
        "targeted-corpus-selection op"),

    Query(
      "q_t_oov_rate",
      (s, dir) => {
        // Tokenizer vocabulary coverage: fix the vocab to the top-V
        // corpus terms (V = 16 here so the fixture's ~40-term vocabulary
        // produces real OOV mass; production runs 32k-128k) and report
        // the out-of-vocabulary token rate per source — the audit that
        // decides whether a tokenizer needs retraining before a new feed
        // joins the mix. One retained token pass feeds the vocab fit and
        // the coverage scan; the vocab is top-k via per-partition heaps
        // (TakeOrderedAndProject) then broadcast — the corpus never
        // shuffles on anything wider than the term vocabulary.
        val toks = graft.CacheScope.retain(
          Tables(s, dir, "documents")
            .select(col("source"),
              explode(expr(
                "filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')"))
                .as("tok")))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(16)
          .select(col("tok"), lit(1).as("__in"))
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_tok"),
            sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("source"), col("n_tok"), col("n_oov"),
            (round(col("n_oov") / col("n_tok"), 4) + lit(0.0))
              .as("oov_rate"))
          .orderBy("source")
      },
      Some("""WITH tk AS (SELECT source, unnest(list_filter(
             |         string_split_regex(lower(trim(text)), '\s+'), t -> t <> '')) AS tok
             |       FROM documents),
             |v AS (SELECT tok FROM (
             |        SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY 1
             |        ORDER BY cnt DESC, tok LIMIT 16))
             |SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_tok,
             |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |  ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             |    + 0.0 AS oov_rate
             |FROM tk t LEFT JOIN v ON t.tok = v.tok
             |GROUP BY t.source ORDER BY t.source""".stripMargin),
      doc = "tokenizer vocab coverage: top-V corpus terms as the vocab " +
        "(V=16 on this fixture; production 32k-128k), per-source OOV " +
        "token rate — one retained token pass, vocab via per-partition " +
        "top-k heaps then broadcast; the retrain-the-tokenizer audit a " +
        "new feed triggers"),

    // ---- the flagship end-to-end prep: filter → collapse → sample ----
    Query(
      "q_t_corpus_prep",
      (s, dir) => {
        import graft.dedup.NearDup
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir, "documents")
        val scored = docs
          .withColumn("n_tokens", tokenCount(col("text")))
          .withColumn("quality", qualityScore("text"))
          .withColumn("__canon",
            min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        // near-dup pairs → GROUPS (transitive), keep each group's canonical;
        // stop-shingle cap 64 = the skew knob, replayed in the oracle —
        // read from the family's shared memoized miner+CC stage (r12)
        val groups = DedupQueries.minedGroups(s, dir)
        // deterministic per-source sample: src0 keep all, src1 half, rest 25%
        val thr = when(col("source") === "src0", lit(2147483647L))
          .when(col("source") === "src1", lit(1073741823L))
          .otherwise(lit(536870911L))
        // shared 3-round Lehmer hash (graft.functions.KeyHash — one round
        // is monotone for small ids)
        val keyHash = graft.functions.KeyHash.column(col("doc_id"))
        scored
          .join(groups, scored("doc_id") === groups("node"), "left")
          .where(col("node").isNull || col("doc_id") === col("group_id"))
          .where(col("doc_id") === col("__canon") &&
            col("quality") >= 0.4 && col("n_tokens") >= 20)
          .where(keyHash < thr)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            (round(col("quality"), 4) + lit(0.0)).as("quality"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE scored AS (
              |  SELECT doc_id, source, $nTokSql AS n_tokens,
              |    $qualityExprSql AS quality,
              |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
              |  FROM documents),
              |${DedupQueries.cappedShingleCtes(64)},
              |${DedupQueries.shingleInterCte},
              |pairs AS (SELECT i.doc_a, i.doc_b FROM inter i
              |          JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id
              |          WHERE ROUND(i.cnt * 1.0 / (sa.n_sh + sb.n_sh - i.cnt), 4) >= 0.5),
              |${DedupQueries.ccCtes("pairs", "doc_a", "doc_b", groups = true)}
              |SELECT doc_id, source, n_tokens, ROUND(quality, 4) + 0.0 AS quality
              |FROM scored LEFT JOIN grp ON scored.doc_id = grp.node
              |WHERE doc_id = canon
              |  AND (node IS NULL OR doc_id = group_id)
              |  AND quality >= 0.4 AND n_tokens >= 20
              |  AND ${graft.functions.KeyHash.sql("doc_id")} <
              |      CASE source WHEN 'src0' THEN 2147483647
              |           WHEN 'src1' THEN 1073741823 ELSE 536870911 END
              |ORDER BY doc_id""".stripMargin),
      doc = "FLAGSHIP end-to-end prep: quality gate, exact-dup " +
        "canonicalization, TRANSITIVE near-dup group collapse (connected " +
        "components, not just victim drop — a~b~c keeps exactly one doc), " +
        "then a deterministic per-source sample — the whole 100 TB " +
        "pretraining sweep as one declarative plan; oracle replays every " +
        "stage including the recursive closure"),

    Query(
      "q_d_exact_dedup",
      (s, dir) =>
        Tables(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("canonical_doc_id"),
            count(lit(1)).as("n_copies"))
          .select("canonical_doc_id", "n_copies")
          .orderBy("canonical_doc_id"),
      Some("""SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY md5(text)
             |ORDER BY canonical_doc_id""".stripMargin),
      doc = "exact dedup: hash-groupBy keep-min — one shuffle on the 128-bit content hash")
  )
}
