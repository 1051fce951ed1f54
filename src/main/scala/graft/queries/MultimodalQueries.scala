package graft.queries

import graft.{Query, QueryPack}
import graft.dedup.NearDup
import graft.multimodal.Multimodal
import graft.vector.VectorSearch
import org.apache.spark.sql.functions._

/** Driver-checked faces of the multimodal operators (decode, resize,
  * frame-sample, feature-extract → LSH banding).
  *
  * The media fixture ([[Multimodal.syntheticMedia]]) is deterministic
  * integer arithmetic on the row id (kind = id%3, dims/body length from
  * id mod small constants), so decode / resize / frame-sample — whose
  * outputs are header fields and byte counts — are replayable EXACTLY in
  * ANSI SQL over `range(n)`: the oracle recomputes the same integer math
  * without ever touching bytes. That turns the binary plumbing
  * (mapPartitions over payloads, header parse, body subsampling, frame
  * chunk fan-out) into hash-checked queries. The feature-extraction path
  * (byte-histogram embedding → LSH band buckets) is replayable too: the
  * LCG byte stream is 64-bit wrapping arithmetic, which DuckDB replays in
  * HUGEINT mod 2^64 via a list_reduce whose accumulator is a growing list
  * (h·M+C stays below 2^127); the histogram adds only exact dyadic
  * halves, so the normalize → float32 cast is bit-identical on both
  * engines ([[embCtes]]).
  *
  * Queries ignore `dir`: media is generated, not read from the testdata
  * tables (the brief's multimodal columns are synthetic by design — the
  * container ships no codecs).
  */
object MultimodalQueries extends QueryPack {

  /** Fixture size: big enough that every (kind × modulus) residue class is
    * populated, small enough to stay a smoke-scale driver check.
    */
  val N = 500

  /** DuckDB replay of [[Multimodal.embed]] over the synthetic fixture:
    * CTEs ending in `emb(id, kind, femb REAL[])` — the EXACT float32
    * embedding each payload produces.
    *
    *  - `hs`: the body's LCG stream `h ← h·M + C (mod 2^64)` in HUGEINT —
    *    the accumulator of the fold is a growing HUGEINT list (DuckDB's
    *    list_reduce has no seed, so the seed rides in via list_prepend and
    *    each step appends `(acc[-1]·M + C) % 2^64`; max intermediate
    *    (2^64−1)·M < 2^127 fits HUGEINT);
    *  - `bt`: byte j = h_{j+1} >>> 56 (top byte of the unsigned 64-bit
    *    state — `// 2^56` on the mod-2^64 value);
    *  - `hist`: the dim-16 histogram `+1.0` at `b%16`, `+0.5` at
    *    `(b·31+i)%16` with i the absolute payload index (21 + j) — all
    *    dyadic, so sums are EXACT in either engine in any order;
    *  - `emb`: x · (1/√Σx²) double math, then CAST AS REAL = Scala's
    *    `.toFloat` — bit-identical.
    */
  private val embCtes: String =
    s"""m AS (
       |  SELECT range AS id,
       |    CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    CASE range % 3 WHEN 0 THEN 256 + range % 128 WHEN 1 THEN 512 + range % 256
       |      ELSE 800 + range % 100 END AS body
       |  FROM range($N)),
       |hs AS (
       |  SELECT id, kind,
       |    list_reduce(
       |      list_prepend([CAST(id * 2654435761 + 1013904223 AS HUGEINT)],
       |        list_transform(range(0, body), x -> [CAST(0 AS HUGEINT)])),
       |      (acc, x) -> list_append(acc,
       |        (acc[-1] * 6364136223846793005 + 1442695040888963407)
       |          % CAST('18446744073709551616' AS HUGEINT))) AS hlist
       |  FROM m),
       |bt AS (
       |  SELECT id, kind,
       |    list_transform(hlist[2:], h ->
       |      CAST(h // 72057594037927936 AS BIGINT)) AS bytes
       |  FROM hs),
       |hist AS (
       |  SELECT id, kind,
       |    list_transform(range(0, 16), k ->
       |      list_sum(list_transform(range(1, len(bytes) + 1), j ->
       |        (CASE WHEN bytes[j] % 16 = k THEN CAST(1.0 AS DOUBLE)
       |              ELSE CAST(0.0 AS DOUBLE) END)
       |        + (CASE WHEN (bytes[j] * 31 + 20 + j) % 16 = k
       |                THEN CAST(0.5 AS DOUBLE)
       |                ELSE CAST(0.0 AS DOUBLE) END)))) AS h
       |  FROM bt),
       |emb AS (
       |  SELECT id, kind,
       |    list_transform(h, x -> CAST(x *
       |      (CAST(1.0 AS DOUBLE) /
       |        sqrt(list_sum(list_transform(h, y -> y * y)))) AS REAL)) AS femb
       |  FROM hist)""".stripMargin

  override def queries: Seq[Query] = Seq(

    // ---- decode: payload bytes → typed metadata, per-kind profile ----
    Query(
      "q_m_decode_profile",
      (s, _) => Multimodal.decodeMeta(Multimodal.syntheticMedia(s, N))
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum("width").as("sum_w"),
          sum("height").as("sum_h"),
          sum("sample_rate").as("sum_rate"),
          sum("n_frames").as("sum_frames"),
          sum("body_bytes").as("sum_body")),
      Some(s"""WITH m AS (
             |  SELECT range AS id,
             |    CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |    CASE range % 3 WHEN 0 THEN 64 + (range % 8) * 16 WHEN 1 THEN 0 ELSE 32 END AS width,
             |    CASE range % 3 WHEN 0 THEN 48 + (range % 5) * 16 WHEN 1 THEN 0 ELSE 24 END AS height,
             |    CASE range % 3 WHEN 1 THEN 16000 ELSE 0 END AS sample_rate,
             |    CASE range % 3 WHEN 0 THEN 1 WHEN 1 THEN 0 ELSE 8 + range % 5 END AS n_frames,
             |    CASE range % 3 WHEN 0 THEN 256 + range % 128 WHEN 1 THEN 512 + range % 256
             |      ELSE 800 + range % 100 END AS body_bytes
             |  FROM range($N))
             |SELECT kind, COUNT(*) AS n,
             |  CAST(SUM(width) AS BIGINT) AS sum_w,
             |  CAST(SUM(height) AS BIGINT) AS sum_h,
             |  CAST(SUM(sample_rate) AS BIGINT) AS sum_rate,
             |  CAST(SUM(n_frames) AS BIGINT) AS sum_frames,
             |  CAST(SUM(body_bytes) AS BIGINT) AS sum_body
             |FROM m GROUP BY kind""".stripMargin),
      doc = "Multimodal decode: binary header parse via mapPartitions; oracle " +
        "replays the fixture's integer math over range() — every header field " +
        "and body length hash-checked per kind"),

    // ---- resize: image payload rewrite, then decode the result ----
    Query(
      "q_m_resize_profile",
      (s, _) => Multimodal.decodeMeta(
          Multimodal.resize(Multimodal.syntheticMedia(s, N), 64, 48))
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("body_bytes")),
      Some(s"""WITH m AS (
             |  SELECT range AS media_id,
             |    CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             |    64 + (range % 8) * 16 AS iw, 48 + (range % 5) * 16 AS ih,
             |    CASE range % 3 WHEN 0 THEN 256 + range % 128 WHEN 1 THEN 512 + range % 256
             |      ELSE 800 + range % 100 END AS body
             |  FROM range($N)),
             |r AS (
             |  SELECT media_id, kind,
             |    GREATEST(1, (iw * ih) // (64 * 48)) AS ratio, body
             |  FROM m)
             |SELECT media_id, kind,
             |  CASE WHEN kind = 'image' THEN 64
             |       WHEN kind = 'audio' THEN 0 ELSE 32 END AS width,
             |  CASE WHEN kind = 'image' THEN 48
             |       WHEN kind = 'audio' THEN 0 ELSE 24 END AS height,
             |  CASE WHEN kind = 'image' THEN (body + ratio - 1) // ratio
             |       ELSE body END AS body_bytes
             |FROM r""".stripMargin),
      doc = "Multimodal resize: header rewrite + area-ratio body subsample " +
        "(images only; audio/video pass through); oracle = ceil-division " +
        "integer replay, per-row hash check"),

    // ---- video frame sampling: explode fan-out ----
    Query(
      "q_m_frame_fanout",
      (s, _) => Multimodal.sampleFrames(Multimodal.syntheticMedia(s, N), 2)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_sampled"),
          sum(length(col("frame"))).as("frame_bytes")),
      Some(s"""WITH v AS (
             |  SELECT range AS media_id, 8 + range % 5 AS n_frames,
             |    800 + range % 100 AS body
             |  FROM range($N) WHERE range % 3 = 2)
             |SELECT media_id,
             |  CAST((n_frames + 1) // 2 AS BIGINT) AS n_sampled,
             |  CAST(((n_frames + 1) // 2) * (body // n_frames) AS BIGINT) AS frame_bytes
             |FROM v""".stripMargin),
      doc = "Multimodal frame sampling: body → n_frames chunks, keep every " +
        "2nd, one row per frame (the caption/embed fan-out); oracle counts " +
        "ceil(n/2) frames of floor(body/n) bytes each"),

    // ---- media near-dup pairs via feature banding ----
    Query(
      "q_m_embed_neardup",
      (s, _) => {
        import s.implicits._
        import graft.functions.VectorExpressions.cosine_sim
        // payloads → embeddings → the SAME banded near-dup skeleton the
        // text/vector modalities use. The base fixture has no duplicate
        // payloads (LCG bodies are id-unique), so plant 25 exact replicas
        // — re-uploaded media, the case a dedup pass exists for; their
        // byte histograms agree exactly, so they collide in every band
        // and survive the 0.999 rerank. Replicas built with COLUMN ops
        // (stays in codegen; a typed filter/map would deserialize every
        // row — VERDICT r3 #3).
        val base = Multimodal.syntheticMedia(s, N).toDF()
        val replicas = base.where(col("media_id") < 25)
          .select((col("media_id") + N).as("media_id"), col("kind"),
            col("payload"))
        val feats = Multimodal
          .extractFeatures(base.unionByName(replicas)
            .as[Multimodal.MediaRow], dim = 16)
          .toDF()
        val banded = VectorSearch.withLshBands(feats, "embedding",
          nBands = 4, bitsPerBand = 8)
        // kind is a third bucket key: pairs never cross modalities
        NearDup.selfPairs(banded, Seq("band", "band_val", "kind"),
            "media_id")((a, b) => Seq(a("media_id").as("media_a"),
            b("media_id").as("media_b"), a("kind").as("kind"),
            (round(cosine_sim(a("embedding"), b("embedding")), 6)
              + lit(0.0)).as("sim")))
          .dropDuplicates("media_a", "media_b")
          .where(col("sim") >= 0.999)
          .groupBy("kind").agg(count(lit(1)).as("n_pairs"))
          .orderBy("kind")
      },
      Some(s"""WITH $embCtes,
              |feats AS (SELECT id AS media_id, kind, femb FROM emb
              |          UNION ALL
              |          SELECT id + $N, kind, femb FROM emb WHERE id < 25),
              |sig AS (SELECT media_id, kind, femb,
              |          ${VectorQueries.sigSql(32, "CAST(femb AS DOUBLE[])")} AS s
              |        FROM feats),
              |bands AS (SELECT media_id, kind, femb, band, (s >> (8*band)) & 255 AS bv
              |          FROM sig, (SELECT unnest(range(0, 4)) AS band)),
              |pairs AS (SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
              |            a.kind AS kind,
              |            ROUND(list_cosine_similarity(CAST(a.femb AS DOUBLE[]),
              |              CAST(b.femb AS DOUBLE[])), 6) + 0.0 AS sim
              |          FROM bands a JOIN bands b
              |            ON a.band = b.band AND a.bv = b.bv
              |               AND a.media_id < b.media_id AND a.kind = b.kind)
              |SELECT kind, COUNT(*) AS n_pairs FROM pairs
              |WHERE sim >= 0.999 GROUP BY kind ORDER BY kind""".stripMargin),
      doc = "multimodal near-dup: stub embeddings -> LSH banding -> cosine " +
        "rerank (same skeleton as text/vector dedup); oracle replays the " +
        "LCG byte stream (HUGEINT mod 2^64 fold), the dyadic-exact " +
        "histogram, the float32 normalize, the signature and the rerank"),

    // ---- feature-extract → LSH band buckets ----
    Query(
      "q_m_embed_bucket_profile",
      (s, _) => {
        import s.implicits._
        val feats = Multimodal
          .extractFeatures(Multimodal.syntheticMedia(s, N), dim = 16)
          .toDF()
        VectorSearch.withLshBands(feats, "embedding", nBands = 4, bitsPerBand = 8)
          .groupBy("band")
          .agg(countDistinct(col("band_val")).as("n_buckets"),
            count(lit(1)).as("n_rows"))
          .orderBy("band")
      },
      Some(s"""WITH $embCtes,
              |sig AS (SELECT id, ${VectorQueries.sigSql(32, "CAST(femb AS DOUBLE[])")} AS s
              |        FROM emb),
              |bands AS (SELECT id, band, (s >> (8*band)) & 255 AS bv
              |          FROM sig, (SELECT unnest(range(0, 4)) AS band))
              |SELECT CAST(band AS INT) AS band,
              |  COUNT(DISTINCT bv) AS n_buckets, COUNT(*) AS n_rows
              |FROM bands GROUP BY band ORDER BY band""".stripMargin),
      doc = "Multimodal feature extraction feeding VectorSearch: byte-histogram " +
        "embedding (stub for a vision encoder) → sign-LSH banding → bucket " +
        "profile; oracle replays the full embed → signature path exactly")
  )
}
