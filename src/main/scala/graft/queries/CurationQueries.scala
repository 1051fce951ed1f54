package graft.queries

import graft.{Query, QueryPack, Tables}
import graft.text.TextAnalysis._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a pretraining data pipeline runs between raw
  * crawl and tokenizer: train/eval DECONTAMINATION (n-gram overlap against
  * a benchmark set), REPETITION signals (the Gopher-style quality gates),
  * PII SCRUBBING (regex redaction), and TEMPERATURE-based source mixing
  * (the multilingual/domain rebalancing rule). All shaped for 100 TB:
  * map-only passes or partial-agg shuffles on bounded keys; the eval side
  * of decontamination is benchmark-sized and broadcast.
  */
object CurationQueries extends QueryPack {

  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "documents")

  /** BPE pretoken length cap. The per-character explode and the merge
    * folds are O(len²) per DISTINCT word — fine for words, pathological
    * for an unbroken 100k-char run (minified JS, base64: one hostile doc
    * held q_t_bpe_apply for 430 s, HostileInputProbe). Production
    * pretokenizers make exactly this cut (WordPiece
    * max_input_chars_per_word, SentencePiece's max piece length): runs
    * over the cap are not words and are skipped by fit AND apply, on
    * both engines. No-op on the graded corpora (max token length 8).
    */
  private val MaxPretokenChars = 1024

  /** Word n-gram column (with duplicates — repetition needs counts). */
  private def grams(n: Int) = {
    val mk = (0 until n).map(o => s"element_at(__toks, i + $o)")
      .mkString("concat_ws(' ', ", ", ", ")")
    when(size(col("__toks")) < n, array().cast("array<string>"))
      .otherwise(expr(
        s"transform(sequence(1, size(__toks) - ${n - 1}), i -> $mk)"))
  }

  private[graft] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** `emailRe` for Java's backtracking matcher: a match may start only
    * where the previous one ended (`\G`) or at a local-part boundary. A
    * leftmost match always starts there anyway (one char earlier in the
    * same local-part run matches too, up to the same end), so counts and
    * replacements are unchanged; the bare pattern retries every offset
    * of a long `@`-less token, quadratic in its length. The DuckDB oracle
    * keeps `emailRe` (RE2 scans in linear time).
    */
  private[graft] val emailScanRe = "(?:\\G|(?<![A-Za-z0-9._%+-]))" + emailRe

  /** Spark-side greedy leftmost-first BPE merge fold: replace adjacent
    * (`a`, `b`) symbol pairs in the array expression `arr` with their
    * concatenation, overlaps resolved leftmost-first (the published
    * algorithm's single-round contract). `a`/`b` are column names in
    * scope (the broadcast winning pair).
    */
  private def bpeFoldExpr(arr: String, a: String, b: String): String =
    s"""aggregate($arr, cast(array() as array<string>), (acc, sy) ->
       |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = $a AND sy = $b
       |  THEN concat(slice(acc, 1, size(acc) - 1), array(concat($a, $b)))
       |  ELSE concat(acc, array(sy)) END)""".stripMargin

  /** DuckDB replay of [[bpeFoldExpr]] — the accumulator is a '|'-joined
    * string (list_reduce's accumulator must be scalar), split back to a
    * list at the end; symbols are [a-z]+ concatenations so '|' is safe.
    * Emitted as ONE line: the fragment embeds in stripMargin oracle
    * templates, where a wrapped line starting with the `||` operator
    * would be eaten as a margin.
    */
  private def bpeMergeSql(listExpr: String, a: String, b: String): String =
    s"list_filter(string_split(list_reduce(list_prepend('', $listExpr), " +
      s"(acc, sy) -> CASE WHEN acc <> '' AND sy = $b AND " +
      s"string_split(acc, '|')[len(string_split(acc, '|'))] = $a " +
      s"THEN array_to_string(string_split(acc, '|')[1:len(string_split(acc, '|'))-1], '|') " +
      s"|| '|' || $a || $b ELSE acc || '|' || sy END), '|'), p -> p <> '')"

  /** Adjacent-pair frequency counts over a (syms, wf) word frame — the
    * shuffle is bounded by the pair vocabulary, never the corpus.
    */
  private def bpePairCounts(w: org.apache.spark.sql.DataFrame) = w
    .where(size(col("syms")) >= 2)
    .select(explode(expr(
      """transform(sequence(1, size(syms) - 1),
        |  i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"""
        .stripMargin)).as("p"), col("wf"))
    .groupBy(col("p.a").as("a"), col("p.b").as("b"))
    .agg(sum("wf").as("freq"))

  /** [[bpeFoldExpr]] with the winning pair inlined as string LITERALS.
    * Symbols are `[a-z]+` concatenations by construction (the training
    * word filter), so plain single-quoting is injection-safe.
    */
  private def bpeFoldLit(arr: String, a: String, b: String): String =
    bpeFoldExpr(arr, s"'$a'", s"'$b'")

  /** The round's winning merge pair — max frequency, ties lexicographic —
    * as a BOUNDED 1-row driver read (the codebook-collect discipline:
    * production BPE trainers hold the merge table driver-side; reading
    * one winner per round is O(rounds), never corpus-sized). Inlining
    * the winner as literals is what keeps each round map-only over the
    * cached vocab instead of a broadcast-exchange cascade — the r11
    * driver bench showed those serial stage walls amplifying 30-37x
    * under host contention (BENCH_NOTES r12).
    */
  private def bpeTopPair(w: org.apache.spark.sql.DataFrame)
      : Option[(String, String, Long)] =
    bpePairCounts(w)
      .orderBy(col("freq").desc, col("a"), col("b")).limit(1)
      .collect().headOption
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("freq")))

  /** Up to two greedy BPE merge rounds over a (syms, wf) word frame: each
    * round's winner (a, b, freq), the second counted over the first's
    * merge — fewer when no pair is left to merge.
    */
  private def bpeRounds(words: org.apache.spark.sql.DataFrame)
      : Seq[(String, String, Long)] =
    bpeTopPair(words).toSeq.flatMap { case r1 @ (a1, b1, _) =>
      r1 +: bpeTopPair(words.select(
        expr(bpeFoldLit("syms", a1, b1)).as("syms"), col("wf"))).toSeq
    }

  /** Oracle twin of [[bpeRounds]] over the symbol CTE `s0`: pair counts
    * `p1`/`p2`, winners `t1`/`t2`, and the round-1 merge `s1`.
    */
  private val bpeRoundCtes =
    s"""p1 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(wf) AS BIGINT) AS freq
       |       FROM s0, unnest(range(1, len(syms))) AS u(i) GROUP BY 1, 2),
       |t1 AS (SELECT a, b, freq FROM p1 ORDER BY freq DESC, a, b LIMIT 1),
       |s1 AS (SELECT ${bpeMergeSql("syms", "t1.a", "t1.b")} AS syms, wf
       |       FROM s0, t1),
       |p2 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(wf) AS BIGINT) AS freq
       |       FROM s1, unnest(range(1, len(syms))) AS u(i) GROUP BY 1, 2),
       |t2 AS (SELECT a, b, freq FROM p2 ORDER BY freq DESC, a, b LIMIT 1)""".stripMargin

  private val numRe = "[0-9]{4,}"

  override def queries: Seq[Query] = Seq(

    Query(
      "q_t_decontaminate",
      (s, dir) => {
        // Train/eval decontamination: a training doc is contaminated if it
        // shares ANY word 3-gram with the benchmark set (fixture: docs
        // 0..9 stand in for the eval benchmark; production swaps in the
        // real benchmark table — same plan). The eval side is
        // benchmark-sized by definition, so it BROADCASTS: the 100 TB
        // train side is one map pass + one partial-agg shuffle on doc_id,
        // never a corpus-square join. n is a parameter; 3 keeps the
        // fixture's planted overlaps visible (real sweeps run 8-13).
        val sh = graft.dedup.NearDup
          .docShingles(docs(s, dir), "doc_id", "text", 3)
        val eval = sh.where(col("doc_id") < 10)
          .select(col("shingle")).distinct()
        sh.where(col("doc_id") >= 10)
          .join(broadcast(eval), Seq("shingle"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("doc_id")
      },
      Some(s"""WITH ${DedupQueries.shingleCtes},
              |ev AS (SELECT DISTINCT shingle FROM d WHERE doc_id < 10)
              |SELECT doc_id, COUNT(*) AS n_shared
              |FROM d JOIN ev USING (shingle)
              |WHERE doc_id >= 10
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "train/eval decontamination: flag training docs sharing any " +
        "word 3-gram with the benchmark set — inverted-index semi-join " +
        "shape, eval side broadcast (benchmark-sized), train side one " +
        "map + one partial-agg shuffle at any corpus size"),

    Query(
      "q_t_repetition",
      (s, dir) => {
        // Gopher-style repetition gate: fraction of 2-gram occurrences
        // claimed by the single most frequent 2-gram, and the duplicate
        // fraction (1 - distinct/total). Two partial-agg shuffles, both
        // keyed on doc_id (+gram) — per-doc state never leaves its
        // aggregation buffer.
        val g = docs(s, dir)
          .withColumn("__toks", split(trim(col("text")), "\\s+"))
          .select(col("doc_id"), explode(grams(2)).as("gram"))
        g.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum("c").as("n_grams"),
            max("c").as("top_c"),
            count(lit(1)).as("n_distinct"))
          .select(col("doc_id"), col("n_grams"),
            (round(col("top_c") / col("n_grams"), 4) + lit(0.0))
              .as("top_gram_frac"),
            (round(lit(1.0) - col("n_distinct") / col("n_grams"), 4)
              + lit(0.0)).as("dup_gram_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(trim(text), '\s+'), tk -> tk <> '') AS toks
             |  FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             |        i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t),
             |pc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2)
             |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
             |  ROUND(MAX(c) * 1.0 / SUM(c), 4) + 0.0 AS top_gram_frac,
             |  ROUND(1.0 - COUNT(*) * 1.0 / SUM(c), 4) + 0.0 AS dup_gram_frac
             |FROM pc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "repetition quality signals (the Gopher-class gates): top " +
        "2-gram occupancy and duplicate 2-gram fraction per doc — " +
        "repetitive machine-generated text scores high on both and gets " +
        "gated before training"),

    Query(
      "q_t_pii_scrub",
      (s, dir) => {
        // PII redaction: emails then long digit runs → typed placeholder
        // tokens, with per-doc redaction counts for the audit trail. The
        // corpus fixture carries no natural PII, so the query PLANTS a
        // deterministic email + numeric ref per doc (pure doc_id
        // arithmetic, replayed in the oracle) and must scrub exactly
        // those. Map-only: one regex pass per pattern inside codegen.
        val aug = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"),
          lit("@example.com ref "), (col("doc_id") * 7919).cast("string"))
        val noEmail = regexp_replace(aug, emailScanRe, "<EMAIL>")
        docs(s, dir).select(
          col("doc_id"),
          regexp_count(aug, lit(emailScanRe)).as("n_emails"),
          regexp_count(noEmail, lit(numRe)).as("n_longnums"),
          regexp_replace(noEmail, numRe, "<NUM>").as("scrubbed"))
          .orderBy("doc_id")
      },
      Some(s"""WITH aug AS (
              |  SELECT doc_id,
              |    text || ' contact user' || CAST(doc_id AS VARCHAR)
              |      || '@example.com ref ' || CAST(doc_id * 7919 AS VARCHAR) AS a
              |  FROM documents),
              |ne AS (SELECT doc_id, a,
              |         regexp_replace(a, '$emailRe', '<EMAIL>', 'g') AS no_email
              |       FROM aug)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(a, '$emailRe')) AS INT) AS n_emails,
              |  CAST(len(regexp_extract_all(no_email, '$numRe')) AS INT) AS n_longnums,
              |  regexp_replace(no_email, '$numRe', '<NUM>', 'g') AS scrubbed
              |FROM ne ORDER BY doc_id""".stripMargin),
      doc = "PII scrubbing: email + long-digit-run redaction to typed " +
        "placeholders with per-doc counts — planted deterministic PII " +
        "(the fixture has none) proves the scrub end-to-end; at 100 TB " +
        "this is one map-only codegen pass, no shuffle"),

    Query(
      "q_t_corpus_diff",
      (s, dir) => {
        // Snapshot diffing — the dataset-versioning op a recipe pipeline
        // runs between crawl drops: which docs are new, which changed
        // content. "Yesterday's" snapshot is simulated deterministically
        // (KeyHash(doc_id) < 0.8·P existed; every 17th doc had a ' v1'
        // body), so the diff is exactly replayable; production swaps in
        // the real previous-snapshot table — same plan. One join on
        // doc_id, content compare by md5 — never a text-by-text diff.
        val d = docs(s, dir)
        val prev = d
          .where(graft.functions.KeyHash.column(col("doc_id"))
            < lit(1717986917L)) // floor(0.8 * (2^31-1))
          .select(col("doc_id"),
            md5(when(pmod(col("doc_id"), lit(17)) === 3,
              concat(col("text"), lit(" v1")))
              .otherwise(col("text"))).as("prev_hash"))
        d.join(prev, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("prev_hash").isNull, lit("added"))
              .when(col("prev_hash") =!= md5(col("text")), lit("changed"))
              .otherwise(lit("unchanged")).as("status"))
          .where(col("status") =!= "unchanged")
          .orderBy("doc_id")
      },
      Some(s"""WITH prev AS (
              |  SELECT doc_id,
              |    md5(CASE WHEN doc_id % 17 = 3 THEN text || ' v1' ELSE text END) AS prev_hash
              |  FROM documents
              |  WHERE ${graft.functions.KeyHash.sql("doc_id")} < 1717986917),
              |s AS (SELECT d.doc_id,
              |        CASE WHEN p.prev_hash IS NULL THEN 'added'
              |             WHEN p.prev_hash <> md5(d.text) THEN 'changed'
              |             ELSE 'unchanged' END AS status
              |      FROM documents d LEFT JOIN prev p USING (doc_id))
              |SELECT doc_id, status FROM s
              |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin),
      doc = "corpus snapshot diff (dataset versioning): added/changed docs " +
        "vs the previous drop by content hash — one equi-join + md5 " +
        "compare, the audit a reproducible data recipe publishes per " +
        "version bump"),

    Query(
      "q_t_pack_efficiency",
      (s, dir) => {
        // The audit face of sequence packing: per (source, shard, pack)
        // doc and token counts + fill ratio against the 256 budget. A doc
        // that straddles a boundary counts in the pack where it STARTS
        // (the greedy-fill contract), so fill_ratio > 1 is expected and
        // honest — the report a packing run ships with. Same
        // (source, KeyHash-shard) keying as q_t_sequence_pack.
        TextQueries.packedDocs(s, dir)
          .withColumn("pack_id", expr("cum_before DIV 256"))
          .groupBy("source", "shard", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").as("pack_tokens"))
          .select(col("source"), col("shard"), col("pack_id"), col("n_docs"),
            col("pack_tokens"),
            (round(col("pack_tokens") / 256.0, 4) + lit(0.0))
              .as("fill_ratio"))
          .orderBy("source", "shard", "pack_id")
      },
      Some(s"""WITH ${TextQueries.packCtes}
             |SELECT source, shard, CAST(cum_before // 256 AS BIGINT) AS pack_id,
             |  COUNT(*) AS n_docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
             |  ROUND(SUM(n_tokens) / 256.0, 4) + 0.0 AS fill_ratio
             |FROM c GROUP BY source, shard, cum_before // 256
             |ORDER BY source, shard, pack_id""".stripMargin),
      doc = "sequence-packing efficiency report: per (source, pack) doc/" +
        "token counts and fill ratio vs the 256 budget — same windowed " +
        "cumsum as q_t_sequence_pack plus one partial-agg shuffle; the " +
        "waste metric that decides whether the budget or the shard " +
        "ordering needs tuning"),

    Query(
      "q_t_bpe_merge_pairs",
      (s, dir) => {
        // The inner loop of BPE tokenizer training: count adjacent
        // character pairs across all word tokens, rank the merge
        // candidates. One explode→explode→partial-agg pipeline: pair
        // counting absorbs map-side, the final top-k is
        // TakeOrderedAndProject — at 100 TB the shuffled key space is the
        // pair vocabulary (bounded), never the corpus.
        val toks = docs(s, dir)
          .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
          .where(col("tok") =!= "" && length(col("tok")) <= MaxPretokenChars)
        val pairs = when(length(col("tok")) < 2,
          array().cast("array<string>"))
          .otherwise(expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        toks.select(explode(pairs).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(20)
      },
      Some(s"""WITH t AS (
             |  SELECT unnest(list_filter(
             |    string_split_regex(trim(text), '\\s+'),
             |    tk -> tk <> '' AND length(tk) <= $MaxPretokenChars)) AS tok
             |  FROM documents),
             |p AS (SELECT unnest(list_transform(range(1, length(tok)),
             |        i -> substr(tok, i, 2))) AS pair
             |      FROM t WHERE length(tok) >= 2)
             |SELECT pair, COUNT(*) AS n FROM p
             |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
      doc = "BPE tokenizer training's inner loop: adjacent character-pair " +
        "counts over word tokens, top merge candidates — map-side partial " +
        "counts bound the shuffle to the pair vocabulary, top-k via " +
        "per-partition heaps (TakeOrderedAndProject)"),

    Query(
      "q_t_bpe_train",
      (s, dir) => {
        // TWO full BPE training rounds, not just the pair count: pick the
        // most frequent adjacent symbol pair (ties lexicographic), merge
        // it corpus-wide with the greedy leftmost-first fold the published
        // algorithm specifies, recount, pick again. Scale shape: the
        // corpus is collapsed ONCE to the distinct-word frequency table
        // (the only corpus-sized shuffle); every round after that is
        // O(|vocab|) — and each round's winner is a 1-ROW bounded driver
        // read inlined as literals (r12; production trainers hold the
        // merge table driver-side), so a round is one job over the cached
        // vocab instead of a broadcast-exchange cascade of serial AQE
        // stage walls (11 jobs -> ~4; the r11 driver bench measured those
        // walls amplifying 37x under host contention). The rounds run
        // under IterScope.noAqe — fixed 32-key vocab shapes, nothing for
        // runtime re-planning to decide (the Lloyd-round discipline).
        graft.ops.IterScope.noAqe(s) {
          val words = graft.CacheScope.retain(
            docs(s, dir)
              .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
              .where(col("tok").rlike("^[a-z]+$") &&
                length(col("tok")) <= MaxPretokenChars)
              .groupBy("tok").agg(count(lit(1)).as("wf"))
              .select(expr(
                "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))")
                .as("syms"), col("wf")))
          val rows = bpeRounds(words).zipWithIndex
            .map { case ((a, b, f), i) => (i + 1, a, b, a + b, f) }
          // the merge table IS the training output — driver-resident by
          // nature (O(rounds) rows), returned as a local frame
          import s.implicits._
          rows.toDF("round", "a", "b", "merged", "freq").orderBy("round")
        }
      },
      Some(s"""WITH tk AS (SELECT unnest(list_filter(
              |         string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS tok
              |       FROM documents),
              |w0 AS (SELECT tok, COUNT(*) AS wf FROM tk
              |       WHERE regexp_matches(tok, '^[a-z]+$$') AND length(tok) <= $MaxPretokenChars GROUP BY 1),
              |s0 AS (SELECT list_transform(range(1, length(tok) + 1),
              |         i -> substr(tok, i, 1)) AS syms, wf FROM w0),
              |$bpeRoundCtes
              |SELECT 1 AS round, a, b, a || b AS merged, freq FROM t1
              |UNION ALL SELECT 2, a, b, a || b, freq FROM t2 ORDER BY round""".stripMargin),
      doc = "BPE training, two full rounds: max-frequency pair (ties " +
        "lexicographic) -> greedy leftmost-first corpus-wide merge " +
        "(aggregate-HOF fold) -> recount; the corpus collapses once to " +
        "the distinct-word frequency table, every round after is " +
        "O(|vocab|) with the winner a 1-row driver read inlined as " +
        "literals — the shape production BPE trainers scale with; the " +
        "oracle replays both rounds including the merge fold"),

    Query(
      "q_t_bpe_apply",
      (s, dir) => {
        // The apply half of BPE (fit/apply pairing, like the quality
        // filter): tokenize every word with the 2 learned merges and
        // report per-source symbol compression — the "how much does this
        // tokenizer save on each feed" audit that decides whether a
        // vocab is worth shipping. Scale shape: the fit reuses the
        // distinct-word collapse (per-(source, word) counts, the only
        // corpus-sized shuffle); the learned pairs are 1-row bounded
        // driver reads inlined as literals and BOTH merge folds are
        // map-only over distinct (source, word) rows — the corpus text
        // is never re-scanned.
        val symsOfTok =
          "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"
        graft.ops.IterScope.noAqe(s) {
          val wordsSrc = graft.CacheScope.retain(
            docs(s, dir)
              .select(col("source"),
                explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
              .where(col("tok").rlike("^[a-z]+$") &&
                length(col("tok")) <= MaxPretokenChars)
              .groupBy("source", "tok").agg(count(lit(1)).as("wf")))
          val words = wordsSrc.groupBy("tok")
            .agg(sum("wf").as("wf"))
            .select(expr(symsOfTok).as("syms"), col("wf"))
          // fit: each round's winner is a 1-row bounded driver read
          // inlined as literals (r12, see q_t_bpe_train) — the returned
          // audit plan is cached-vocab scan -> map-only double fold ->
          // one groupBy(source), not a broadcast cascade (19 jobs -> ~5)
          bpeRounds(words) match {
            case Seq((a1, b1, _), (a2, b2, _)) =>
              wordsSrc
                .select(col("source"), col("wf"),
                  length(col("tok")).as("chars"),
                  size(expr(bpeFoldLit(
                    bpeFoldLit(symsOfTok, a1, b1), a2, b2))).as("nsym"))
                .groupBy("source")
                .agg(sum("wf").as("n_words"),
                  sum(col("chars") * col("wf")).as("n_chars"),
                  sum(col("nsym") * col("wf")).as("n_symbols"),
                  (round(sum(col("chars") * col("wf")) * 1.0
                    / sum(col("nsym") * col("wf")), 4) + lit(0.0))
                    .as("compression"))
                .orderBy("source")
            case _ =>
              // no minable pair in round 1 or 2: the pre-r12 plan
              // (crossJoin with an EMPTY broadcast winner) returned an
              // empty frame — keep that contract, schema-stable
              s.range(0).select(lit("").as("source"), lit(0L).as("n_words"),
                lit(0L).as("n_chars"), lit(0L).as("n_symbols"),
                lit(0.0).as("compression"))
          }
        }
      },
      Some {
        val symsOfTok =
          "list_transform(range(1, length(tok) + 1), i -> substr(tok, i, 1))"
        s"""WITH tks AS (SELECT source, unnest(list_filter(
           |         string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS tok
           |       FROM documents),
           |w0s AS (SELECT source, tok, COUNT(*) AS wf FROM tks
           |       WHERE regexp_matches(tok, '^[a-z]+$$') AND length(tok) <= $MaxPretokenChars GROUP BY 1, 2),
           |w0 AS (SELECT tok, CAST(SUM(wf) AS BIGINT) AS wf FROM w0s GROUP BY 1),
           |s0 AS (SELECT $symsOfTok AS syms, wf FROM w0),
           |$bpeRoundCtes,
           |ap AS (SELECT source, wf, length(tok) AS chars,
           |         len(${bpeMergeSql(
            bpeMergeSql(symsOfTok, "t1.a", "t1.b"), "t2.a", "t2.b")}) AS nsym
           |       FROM w0s, t1, t2)
           |SELECT source, CAST(SUM(wf) AS BIGINT) AS n_words,
           |  CAST(SUM(chars * wf) AS BIGINT) AS n_chars,
           |  CAST(SUM(nsym * wf) AS BIGINT) AS n_symbols,
           |  ROUND(SUM(chars * wf) * 1.0 / SUM(nsym * wf), 4) + 0.0 AS compression
           |FROM ap GROUP BY source ORDER BY source""".stripMargin
      },
      doc = "BPE apply (the fit/apply pairing): every word re-tokenized " +
        "with the 2 learned merges, per-source symbol compression report " +
        "— fit reuses the distinct-word collapse, learned pairs are 1-row " +
        "driver reads inlined as literals, both merge folds map-only over " +
        "distinct (source, word) rows; the corpus text is scanned exactly " +
        "once"),

    Query(
      "q_t_entropy_gate",
      (s, dir) => {
        // Character-entropy spam gate (the CCNet/Gopher-class signal the
        // quality stack lacked): Shannon entropy of each doc's [a-z]
        // character distribution — keyboard mash, repeated-char padding
        // and template boilerplate sit well below natural text (the
        // corpus floor here is ~2.54 nats vs English ≈ 2.8–2.9), so the
        // gate flags the low tail (< 2.8). Determinism: the Σ n·ln n
        // fold runs in CHARACTER order on both engines (array_sort +
        // ordered aggregate = list(… ORDER BY c) + list_reduce), and the
        // final ROUND(·,6) absorbs libm ln ulps (the idf discipline).
        // Scale shape, r14 (guide §2.3/§2.4 — do per-row work map-side,
        // remove the shuffle outright): the alphabet is FIXED (26
        // letters), so each doc's per-letter counts are 26 codegen'd
        // translate()+length() terms on the cleaned string — ZERO
        // exchanges where the explode form shuffled one row per
        // CHARACTER (~|corpus| rows) through a (doc, char) aggregate and
        // a doc-keyed re-aggregate. Bit-identical entropy: the unrolled
        // Σ runs in the same ascending character order as the old
        // array_sort fold (chars are distinct per doc, so struct sort ==
        // char sort), absent letters contribute an exact +0.0 (x + 0.0
        // == x for every non-negative partial sum), and n·ln(n) is the
        // same double expression. Docs with no [a-z] chars produced no
        // explode rows before — the length>0 filter reproduces that.
        val cleaned = regexp_replace(lower(col("text")), "[^a-z]", "")
        val sTerms = ('a' to 'z').map { c =>
          val cnt = (length(col("__az")) -
            length(translate(col("__az"), c.toString, ""))).cast("double")
          when(cnt > 0.0, cnt * log(cnt)).otherwise(lit(0.0))
        }.reduce(_ + _)
        docs(s, dir)
          .select(col("doc_id"), cleaned.as("__az"))
          .where(length(col("__az")) > 0)
          .select(col("doc_id"),
            length(col("__az")).cast("long").as("n_chars_az"),
            sTerms.as("__s"))
          .select(col("doc_id"), col("n_chars_az"),
            (round(log(col("n_chars_az")) - col("__s") / col("n_chars_az"), 6)
              + lit(0.0)).as("entropy"))
          .withColumn("flagged", col("entropy") < 2.8)
          .orderBy("doc_id")
      },
      Some("""WITH ch AS (SELECT doc_id, unnest(list_transform(
             |         range(1, length(regexp_replace(lower(text), '[^a-z]', '', 'g')) + 1),
             |         i -> substr(regexp_replace(lower(text), '[^a-z]', '', 'g'), i, 1))) AS c
             |       FROM documents),
             |cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY 1, 2),
             |agg AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars_az,
             |          list_reduce(list_prepend(0.0, list_transform(
             |            list(n ORDER BY c), v -> v * ln(v))), (a, b) -> a + b) AS s
             |        FROM cnt GROUP BY doc_id)
             |SELECT doc_id, n_chars_az,
             |  ROUND(ln(n_chars_az) - s / n_chars_az, 6) + 0.0 AS entropy,
             |  ROUND(ln(n_chars_az) - s / n_chars_az, 6) + 0.0 < 2.8 AS flagged
             |FROM agg ORDER BY doc_id""".stripMargin),
      doc = "character-entropy spam gate: per-doc Shannon entropy of the " +
        "[a-z] distribution, low-tail flag (< 2.8 nats) — char-ordered " +
        "n·ln n folds on both engines, ROUND absorbing libm ulps; one " +
        "explode + two bounded partial aggs, flags mash/padding/template " +
        "docs the token-level gates miss"),

    Query(
      "q_s_temperature_mix",
      (s, dir) => {
        // Temperature-based source mixing (the multilingual-corpus
        // rebalancing rule): source s gets a token budget share
        // ∝ p_s^α with α = 0.5 (sqrt — IEEE-exact on both engines, unlike
        // libm pow), then keep_rate = min(1, budget_s / tokens_s).
        // Whole computation is ONE plan: per-source token totals (one
        // partial-agg shuffle on ~10 keys), the Σ√p normalizer as a 1-row
        // aggregate broadcast-cross-joined back — no driver-side collect.
        val budget = 100000.0
        // read twice below (normalizer + final projection): retain the
        // ~#sources-row aggregate so the corpus is scanned once
        val bySrc = graft.CacheScope.retain(docs(s, dir)
          .select(col("source"), tokenCount(col("text")).as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("tokens")))
        val tot = bySrc.agg(
          sum("tokens").as("__total"),
          sum(sqrt(col("tokens").cast("double"))).as("__zsqrt"))
        bySrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tokens"),
            (round(col("tokens") / col("__total"), 6) + lit(0.0)).as("share"),
            (round(
              least(lit(1.0),
                (sqrt(col("tokens").cast("double")) / col("__zsqrt"))
                  * lit(budget) / col("tokens")), 6) + lit(0.0))
              .as("keep_rate"))
          .orderBy("source")
      },
      Some("""WITH s AS (
             |  SELECT source,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
             |  FROM documents),
             |b AS (SELECT source, COUNT(*) AS n_docs,
             |        CAST(SUM(n_tokens) AS BIGINT) AS tokens
             |      FROM s GROUP BY source),
             |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total,
             |          SUM(sqrt(CAST(tokens AS DOUBLE))) AS zsqrt FROM b)
             |SELECT source, n_docs, tokens,
             |  ROUND(tokens * 1.0 / total, 6) + 0.0 AS share,
             |  ROUND(LEAST(1.0, (sqrt(CAST(tokens AS DOUBLE)) / zsqrt)
             |    * 100000.0 / tokens), 6) + 0.0 AS keep_rate
             |FROM b, tot ORDER BY source""".stripMargin),
      doc = "temperature-based source mix (α = 0.5): per-source token " +
        "budget ∝ √share, keep_rate = min(1, budget/tokens) — the domain " +
        "rebalancing recipe computed as one plan (sqrt not pow: IEEE-" +
        "exact on both engines); feeds KeyHash sampling for the actual cut"),

    Query(
      "q_t_token_budget",
      (s, dir) => {
        // Quality-greedy selection under a token budget: per source, rank
        // docs by quality (rounded BEFORE ranking so both engines order
        // identical doubles; ties by id) and keep the prefix whose
        // running token total fits 2000 tokens — "spend the budget on the
        // best text first", the recipe cut after the mix decides each
        // source's budget. One window per source partition; the rank
        // order means a kept doc can never be displaced by a later one —
        // greedy = deterministic.
        val w = Window.partitionBy("source")
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir)
          .select(col("doc_id"), col("source"),
            (round(qualityScore("text"), 4) + lit(0.0)).as("quality"),
            tokenCount(col("text")).as("n_tokens"))
          .withColumn("cum_tokens", sum("n_tokens").over(w).cast("long"))
          .where(col("cum_tokens") <= 2000)
          .select("source", "doc_id", "quality", "cum_tokens")
      },
      Some(s"""WITH q AS (SELECT doc_id, source,
              |         ROUND(${TextQueries.qualityExprSql}, 4) + 0.0 AS quality,
              |         ${TextQueries.nTokSql} AS n_tokens
              |       FROM documents),
              |c AS (SELECT source, doc_id, quality,
              |        CAST(SUM(n_tokens) OVER (PARTITION BY source
              |          ORDER BY quality DESC, doc_id
              |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              |      FROM q)
              |SELECT source, doc_id, quality, cum_tokens
              |FROM c WHERE cum_tokens <= 2000""".stripMargin),
      doc = "token-budget corpus selection: per source, rank by quality " +
        "(rounded before ranking — engine-stable order, ties by id) and " +
        "keep the greedy prefix whose running token total fits the " +
        "budget; one window per source partition, the per-source cut a " +
        "data recipe applies after the mix sets budgets"),

    Query(
      "q_t_dsir_select",
      (s, dir) => {
        import graft.functions.RollingHash.rolling_hash
        // DSIR-style importance selection: score every raw doc by how
        // target-like its hashed n-gram profile is — the log-likelihood
        // ratio between a target-domain unigram model over hashed word
        // 2-gram features and the raw-corpus model (add-one smoothing
        // over B buckets). Target here = the en slice (production swaps
        // in the real target corpus — same plan). Feature hashing bounds
        // EVERY shuffle key space to B = 1024 buckets regardless of
        // corpus size; the bucket log-ratio table is B rows, broadcast.
        // The gram explode is scanned once (retained): bucket counts for
        // target/raw and the per-doc profile all derive from it.
        val B = 1024L
        val h = graft.CacheScope.retain(
          docs(s, dir)
            .withColumn("__toks", split(trim(col("text")), "\\s+"))
            .select(col("doc_id"), col("lang"), explode(grams(2)).as("gram"))
            .select(col("doc_id"), col("lang"),
              pmod(rolling_hash(col("gram")), lit(B)).as("bucket")))
        // r14 optimization (guide §2.4): the target (ct) and raw (cr)
        // bucket counts are ONE conditional-count pass over the retained
        // gram frame instead of two (count(when lang='en') ≡ the old
        // ct-left-join's COALESCE(c_t, 0): a bucket with no en rows counts
        // 0 either way); the B-row result is retained so the totals and
        // the log-ratio table read 1024 cached rows instead of re-scanning
        // the corpus-sized gram cache — 5 gram-cache passes → 2. The
        // totals fold into ONE agg; nullif(n_t, 0) reproduces the old
        // empty-target-slice null exactly (sum over the empty ct was
        // NULL), so the degenerate no-en corpus keeps its oracle-matched
        // all-null scores.
        val bc = graft.CacheScope.retain(
          h.groupBy("bucket").agg(
            count(lit(1)).as("c_r"),
            count(when(col("lang") === "en", lit(1))).as("c_t")))
        val tot = bc.agg(nullif(sum("c_t"), lit(0L)).as("n_t"),
          sum("c_r").as("n_r"))
        // Engine-exact score: the log-ratio is quantized to integer
        // MICRO-units (floor(x·1e6 + .5) — away-from-zero-consistent on
        // both engines), so the per-doc Σ c·lr is exact long arithmetic.
        // A double Σ here is summation-ORDER-dependent — Spark's partial
        // aggregation order varies run to run, and a score landing on a
        // round-4 boundary flipped its last digit against the oracle
        // (caught in round 5's full sweep).
        val lr = bc.crossJoin(broadcast(tot))
          .select(col("bucket"),
            floor(log(
              ((col("c_t") + 1L) * (col("n_r") + B))
                .cast("double") /
              ((col("c_r") + 1L) * (col("n_t") + B)).cast("double"))
              * 1e6 + 0.5).cast("long").as("lr6"))
        // The round-to-4 happens in INTEGER micro-units too (half away
        // from zero, positive-operand div only): a Σ landing exactly on a
        // .00005 boundary is a tie Spark (HALF_UP over the shortest
        // decimal repr) and DuckDB (binary-value rounding) break
        // differently — one cell did at sf0.1. Integer-rounding first and
        // dividing the resulting 4-decimal integer by 10000.0 gives both
        // engines the same correctly-rounded double, boundary or not.
        // r14 optimization (guide §2.4): score in ONE doc_id shuffle — the
        // broadcast log-ratio join moves BELOW the aggregation (map-side
        // hash join on the gram rows; every h bucket exists in lr, so the
        // inner join keeps every row), and the old two-level
        // (doc_id, bucket) → doc_id aggregate collapses to one partial-agg
        // pass: Σ_buckets c·lr6 ≡ Σ_rows lr6 exactly (integer micro-unit
        // sums — associative, order-free), n_feat ≡ the plain row count.
        // 2 exchanges → 1, and the shuffle carries per-doc partials either
        // way.
        h.join(broadcast(lr), "bucket")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_feat"),
            sum(col("lr6")).as("__s6"))
          .withColumn("__r4", expr(
            "CASE WHEN __s6 >= 0 THEN (__s6 + 50) div 100 " +
              "ELSE -((-__s6 + 50) div 100) END"))
          .select(col("doc_id"), col("n_feat"),
            (col("__r4").cast("double") / lit(10000.0) + lit(0.0))
              .as("dsir_score"),
            (col("__s6") > 0L).as("selected"))
        // no ORDER BY — corpus-sized output, driver sorts before hashing
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, lang, list_filter(
              |    string_split_regex(trim(text), '\\s+'), tk -> tk <> '') AS toks
              |  FROM documents),
              |g AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(toks)),
              |        i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t),
              |h AS (SELECT doc_id, lang,
              |        ${DedupQueries.foldSql("gram")} % 1024 AS bucket FROM g),
              |ct AS (SELECT bucket, COUNT(*) AS c_t FROM h WHERE lang = 'en' GROUP BY bucket),
              |cr AS (SELECT bucket, COUNT(*) AS c_r FROM h GROUP BY bucket),
              |nt AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t FROM ct),
              |nr AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r FROM cr),
              |lr AS (SELECT cr.bucket,
              |        CAST(FLOOR(ln(CAST((COALESCE(ct.c_t, 0) + 1) * (n_r + 1024) AS DOUBLE)
              |               / CAST((cr.c_r + 1) * (n_t + 1024) AS DOUBLE)) * 1000000 + 0.5)
              |          AS BIGINT) AS lr6
              |      FROM cr LEFT JOIN ct USING (bucket), nt, nr),
              |dbc AS (SELECT doc_id, bucket, COUNT(*) AS c FROM h GROUP BY 1, 2),
              |sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feat,
              |         CAST(SUM(c * lr6) AS BIGINT) AS s6
              |       FROM dbc JOIN lr USING (bucket) GROUP BY doc_id)
              |SELECT doc_id, n_feat,
              |  (CASE WHEN s6 >= 0 THEN (s6 + 50) // 100
              |        ELSE -((-s6 + 50) // 100) END) / 10000.0 + 0.0
              |    AS dsir_score,
              |  s6 > 0 AS selected
              |FROM sc""".stripMargin),
      doc = "DSIR-style importance selection: log-likelihood ratio between " +
        "a target-domain model and the raw-corpus model over hashed word " +
        "2-gram features (add-one smoothing, B = 1024 buckets) — feature " +
        "hashing bounds every shuffle to B keys at any corpus size, the " +
        "log-ratio table broadcasts, one retained gram pass feeds fit " +
        "and score; positive score = more target-like than raw"),

    Query(
      "q_t_quality_calibrated",
      (s, dir) => {
        // Per-source quality calibration: raw quality scores are not
        // comparable across sources (a crawl feed's punctuation profile
        // shifts the whole distribution), so a recipe gates on the
        // WITHIN-SOURCE percentile, not the raw score. percent_rank over
        // (rounded quality, doc_id) — rounded BEFORE ranking so both
        // engines order identical doubles, doc_id tiebreak makes every
        // rank unique; exact rational output, no float noise. One window
        // per source partition — the same shuffle the per-source cut
        // already pays.
        val w = Window.partitionBy("source")
          .orderBy(col("quality").asc, col("doc_id").asc)
        docs(s, dir)
          .select(col("doc_id"), col("source"),
            (round(qualityScore("text"), 4) + lit(0.0)).as("quality"))
          .withColumn("q_cal",
            round(percent_rank().over(w), 6) + lit(0.0))
          .select(col("doc_id"), col("source"), col("quality"), col("q_cal"),
            (col("q_cal") >= 0.5).as("keep"))
        // no ORDER BY — corpus-sized output, driver sorts before hashing
      },
      Some(s"""WITH q AS (SELECT doc_id, source,
              |         ROUND(${TextQueries.qualityExprSql}, 4) + 0.0 AS quality
              |       FROM documents)
              |SELECT doc_id, source, quality,
              |  ROUND(percent_rank() OVER (PARTITION BY source
              |    ORDER BY quality ASC, doc_id ASC), 6) + 0.0 AS q_cal,
              |  ROUND(percent_rank() OVER (PARTITION BY source
              |    ORDER BY quality ASC, doc_id ASC), 6) + 0.0 >= 0.5 AS keep
              |FROM q""".stripMargin),
      doc = "per-source quality calibration: within-source percent_rank of " +
        "the (rounded) quality score — gates on the source-relative " +
        "percentile instead of the raw score, so one feed's distribution " +
        "shift can't starve or flood the mix; one window per source " +
        "partition, exact rational output"),

    Query(
      "q_s_epoch_schedule",
      (s, dir) => {
        // Data-repetition scheduling: when the training token budget
        // exceeds a source's unique tokens, the recipe REPEATS the source
        // for whole epochs (capped at 4 — repeating data beyond a few
        // epochs stops helping) plus a sampled partial epoch for the
        // remainder. Per-source budget here is an equal split of a fixed
        // total (production plugs in the mix's output); the whole
        // schedule is one partial-agg pass + O(#sources) arithmetic —
        // integer epochs and a ROUND()ed partial rate are engine-exact.
        val budget = 50000.0
        docs(s, dir)
          .select(col("source"), tokenCount(col("text")).as("n_tokens"))
          .groupBy("source")
          .agg(sum(col("n_tokens").cast("long")).as("tokens"))
          .select(col("source"), col("tokens"),
            least(floor(lit(budget) / 20.0 / col("tokens")), lit(4.0))
              .cast("long").as("full_epochs"))
          .withColumn("partial_rate",
            round(when(col("full_epochs") >= 4, lit(0.0))
              .otherwise(lit(budget) / 20.0 / col("tokens")
                - col("full_epochs")), 6) + lit(0.0))
          .withColumn("sched_tokens",
            (col("full_epochs") + col("partial_rate")) * col("tokens"))
          .select(col("source"), col("tokens"), col("full_epochs"),
            col("partial_rate"),
            (round(col("sched_tokens"), 2) + lit(0.0)).as("sched_tokens"))
          .orderBy("source")
      },
      Some("""WITH s AS (
             |  SELECT source,
             |    CASE WHEN length(trim(text)) = 0 THEN 0
             |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
             |  FROM documents),
             |b AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tokens
             |      FROM s GROUP BY source),
             |f AS (SELECT source, tokens,
             |        CAST(LEAST(FLOOR(50000.0 / 20.0 / tokens), 4.0) AS BIGINT) AS full_epochs
             |      FROM b),
             |p AS (SELECT source, tokens, full_epochs,
             |        ROUND(CASE WHEN full_epochs >= 4 THEN 0.0
             |              ELSE 50000.0 / 20.0 / tokens - full_epochs END, 6) + 0.0
             |          AS partial_rate
             |      FROM f)
             |SELECT source, tokens, full_epochs, partial_rate,
             |  ROUND((full_epochs + partial_rate) * tokens, 2) + 0.0 AS sched_tokens
             |FROM p ORDER BY source""".stripMargin),
      doc = "data-repetition epoch schedule: when the token budget exceeds " +
        "a source's unique tokens, repeat it for whole epochs (capped at " +
        "4) plus a sampled partial epoch — the repeat-vs-sample recipe " +
        "decision as one partial-agg pass + O(#sources) arithmetic"),

    Query(
      "q_t_bloom_decontaminate",
      (s, dir) => {
        // Decontamination behind a BLOOM prefilter — the shape that wins
        // when the benchmark set outgrows a broadcast hash join: the eval
        // side collapses to a fixed-size bit array (here 64 KB for an
        // expected 50k n-grams; a real 10M-gram benchmark fits ~12 MB at
        // 1% FP) built by ONE aggregation and shipped as a scalar, and
        // the 100 TB train side pays a map-only might_contain before
        // anything shuffles. Bloom false positives cannot leak into the
        // result: the IN-subquery (planned as a broadcast semi join)
        // exact-verifies the survivors, so output is identical to
        // q_t_decontaminate — the prefilter only cuts the join's input
        // volume. Uses Spark's own BloomFilterAggregate/MightContain
        // (surfaced via GraftExtensions); scalar subquery keeps the whole
        // thing one declarative plan, no driver-side index build.
        graft.Tables.ensureRegistered(s, dir)
        graft.dedup.NearDup
          .docShingles(docs(s, dir), "doc_id", "text", 3)
          .createOrReplaceTempView("__graft_decon_sh")
        s.sql("""
          SELECT doc_id, COUNT(*) AS n_shared
          FROM __graft_decon_sh t
          WHERE t.doc_id >= 10
            AND might_contain(
                  (SELECT bloom_filter_agg(xxhash64(shingle), 50000L, 524288L)
                   FROM (SELECT DISTINCT shingle FROM __graft_decon_sh
                         WHERE doc_id < 10)),
                  xxhash64(t.shingle))
            AND t.shingle IN (SELECT shingle FROM __graft_decon_sh
                              WHERE doc_id < 10)
          GROUP BY doc_id ORDER BY doc_id""")
      },
      // result-identical to q_t_decontaminate by construction (the bloom
      // is a pure prefilter); the oracle is the same exact-join replay
      Some(s"""WITH ${DedupQueries.shingleCtes},
              |ev AS (SELECT DISTINCT shingle FROM d WHERE doc_id < 10)
              |SELECT doc_id, COUNT(*) AS n_shared
              |FROM d JOIN ev USING (shingle)
              |WHERE doc_id >= 10
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "decontamination behind a bloom prefilter: eval n-grams " +
        "collapse to a fixed-size bit array (one aggregation, shipped as " +
        "a scalar), train side pays a map-only might_contain before any " +
        "shuffle, exact semi-join verify of survivors only — " +
        "result-identical to q_t_decontaminate, but the join input is cut " +
        "to near-matches; the shape for benchmark sets too big to " +
        "broadcast-join raw"),

    Query(
      "q_t_length_drift",
      (s, dir) => {
        // Distribution-drift monitor (two-sample KS over binned ECDFs):
        // per source, compare the doc-length distribution of two corpus
        // snapshots — here two deterministic KeyHash halves standing in
        // for yesterday/today; production swaps in the real snapshot tag,
        // same plan. Exact KS needs a global per-source sort; the binned
        // variant (20 fixed-width bins) is one partial-agg shuffle on
        // (source, bin) + two window passes over O(#sources·bins) rows —
        // the 100 TB drift alarm that re-tunes sampling/quality gates
        // when a feed's content shifts. Integer bin math and long cumsums
        // are engine-exact; the CDF divide is nullif-guarded (an empty
        // half reports null drift, not a crash).
        val wc = Window.partitionBy("source").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("source")
        docs(s, dir)
          .select(col("source"),
            pmod(graft.functions.KeyHash.column(col("doc_id")), lit(2L))
              .as("half"),
            least(expr("n_chars DIV 32"), lit(19L)).as("bin"))
          .groupBy("source", "bin")
          .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
          .withColumn("gap", round(abs(
            sum("n_a").over(wc) / nullif(sum("n_a").over(wt), lit(0L))
              - sum("n_b").over(wc) / nullif(sum("n_b").over(wt), lit(0L))),
            6))
          .groupBy("source")
          .agg(sum("n_a").as("n_a"), sum("n_b").as("n_b"),
            (max("gap") + lit(0.0)).as("ks_stat"))
          .select(col("source"), col("n_a"), col("n_b"), col("ks_stat"),
            (col("ks_stat") > 0.2).as("drifted"))
          .orderBy("source")
      },
      Some(s"""WITH h AS (
              |  SELECT source,
              |    ${graft.functions.KeyHash.sql("doc_id")} % 2 AS half,
              |    LEAST(n_chars // 32, 19) AS bin
              |  FROM documents),
              |b AS (SELECT source, bin,
              |        CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
              |        CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
              |      FROM h GROUP BY source, bin),
              |c AS (SELECT source, n_a, n_b,
              |        ROUND(ABS(
              |          SUM(n_a) OVER (PARTITION BY source ORDER BY bin
              |            ROWS UNBOUNDED PRECEDING) * 1.0
              |            / NULLIF(SUM(n_a) OVER (PARTITION BY source), 0)
              |          - SUM(n_b) OVER (PARTITION BY source ORDER BY bin
              |            ROWS UNBOUNDED PRECEDING) * 1.0
              |            / NULLIF(SUM(n_b) OVER (PARTITION BY source), 0)), 6) AS gap
              |      FROM b)
              |SELECT source, CAST(SUM(n_a) AS BIGINT) AS n_a,
              |  CAST(SUM(n_b) AS BIGINT) AS n_b,
              |  MAX(gap) + 0.0 AS ks_stat,
              |  MAX(gap) + 0.0 > 0.2 AS drifted
              |FROM c GROUP BY source ORDER BY source""".stripMargin),
      doc = "distribution-drift monitor: per-source two-sample KS over " +
        "binned length ECDFs of two snapshot halves — one partial-agg " +
        "shuffle on (source, bin) + window passes over O(#sources·bins) " +
        "rows, no global sort; the alarm that re-tunes sampling and " +
        "quality gates when a feed's content shifts"),

    Query(
      "q_t_quality_filter_fit",
      (s, dir) => {
        import s.implicits._
        // TRAINED quality filter, fit half (the CCNet/GPT-3 recipe: fit
        // a linear classifier on weak labels). Weak label: a fixed
        // editorial list of "curated" sources (production swaps in
        // wiki-vs-crawl — same plan). See [[qfFit]] for the shape and
        // determinism discipline; [[qfFitted]] for the one-fit-per-scope
        // memo all three consumers share.
        val (_, _, rows, _) = qfFitted(s, dir)
        rows.toDF("step", "w0", "w1", "w2", "w3", "log_loss", "train_acc")
          .select(col("step"),
            (round(col("w0"), 6) + lit(0.0)).as("w0"),
            (round(col("w1"), 6) + lit(0.0)).as("w1"),
            (round(col("w2"), 6) + lit(0.0)).as("w2"),
            (round(col("w3"), 6) + lit(0.0)).as("w3"),
            (round(col("log_loss"), 4) + lit(0.0)).as("log_loss"),
            (round(col("train_acc"), 4) + lit(0.0)).as("train_acc"))
          .orderBy("step")
      },
      Some(s"""WITH $qfCtePrefix
              |${qfStepSelect(1)}
              |UNION ALL
              |${qfStepSelect(2)}
              |UNION ALL
              |${qfStepSelect(3)}
              |ORDER BY step""".stripMargin),
      doc = "trained quality filter (CCNet recipe), fit: logistic " +
        "regression on weak source labels — min-max centered features " +
        "(order-free exact standardizer), 3 unrolled batch-GD steps, one " +
        "partial-agg corpus pass each; per-doc gradient AND loss " +
        "contributions quantized to integer micro-units (the DSIR " +
        "discipline) so every sum is order-free exact; oracle replays " +
        "weights, log-loss (monotonically decreasing) and accuracy"),

    Query(
      "q_t_quality_filter_apply",
      (s, dir) => {
        // Apply half: the shared fit's step-3 weights ([[qfFitted]] —
        // byte-identical to a refit by construction), then score EVERY
        // doc and emit the gate decision. At 100 TB the weights are a
        // 4-double broadcast and scoring is one map-only codegen pass —
        // the shape of every model-based quality gate in production.
        val (feats, _, _, w) = qfFitted(s, dir)
        val z = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
        feats.select(col("doc_id"),
          (round(lit(1.0) / (lit(1.0) + exp(-z)), 6) + lit(0.0)).as("score"),
          (z > lit(0.0)).as("keep"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $qfCtePrefix
              |SELECT f.doc_id,
              |  ROUND(1.0 / (1.0 + exp(-($qfZExpr))), 6) + 0.0 AS score,
              |  ($qfZExpr > 0.0) AS keep
              |FROM f, wt3 w ORDER BY f.doc_id""".stripMargin),
      doc = "trained quality filter, apply: every doc scored by the " +
        "fitted classifier (sigmoid + gate flag) — the weights broadcast " +
        "as 4 doubles, scoring is map-only codegen; fit+apply in one " +
        "deterministic plan pair, oracle replays the full fit then scores"),

    Query(
      "q_t_quality_filter_calibration",
      (s, dir) => {
        // The eval loop for the trained filter: a reliability diagram —
        // predicted probability (10 fixed bins) vs actual weak-label
        // rate per bin, with the per-bin calibration gap. A filter whose
        // scores aren't calibrated can't be thresholded meaningfully;
        // this is the report that decides the gate's cutoff. Determinism:
        // scores are the already-quantized apply scores; the per-bin
        // mean is float32-quantized (the Lloyd discipline) and the
        // positive rate is an exact integer ratio. One map pass over the
        // retained feature frame + a 10-key partial agg.
        val (feats, _, _, w) = qfFitted(s, dir)
        val z = lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3")
        val scored = feats
          .select(col("y"),
            (round(lit(1.0) / (lit(1.0) + exp(-z)), 6) + lit(0.0)).as("score"))
        // range-adaptive deciles (min/max are order-free exact, rounded,
        // broadcast): absolute [0,1] bins collapse to one bin when a
        // weak-label fit clusters its scores — the diagram must resolve
        // the OBSERVED range to be a usable cutoff report
        val rng = broadcast(scored.agg(
          (round(min("score"), 6) + lit(0.0)).as("smin"),
          (round(max("score"), 6) + lit(0.0)).as("smax")))
        scored.crossJoin(rng)
          .select(col("y"), col("score"),
            least(floor((col("score") - col("smin"))
              / (col("smax") - col("smin") + lit(1e-9)) * 10), lit(9L))
              .cast("int").as("bin"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            (round(avg("score").cast("float").cast("double"), 4) + lit(0.0))
              .as("mean_score"),
            (round(sum("y") * lit(1.0) / count(lit(1)), 4) + lit(0.0))
              .as("pos_rate"))
          .withColumn("gap",
            round(abs(col("mean_score") - col("pos_rate")), 4) + lit(0.0))
          .orderBy("bin")
      },
      Some(s"""WITH $qfCtePrefix,
              |sc AS (SELECT f.y,
              |         ROUND(1.0 / (1.0 + exp(-($qfZExpr))), 6) + 0.0 AS score
              |       FROM f, wt3 w),
              |rng AS (SELECT ROUND(MIN(score), 6) + 0.0 AS smin,
              |          ROUND(MAX(score), 6) + 0.0 AS smax FROM sc),
              |bb AS (SELECT y, score,
              |         CAST(LEAST(floor((score - smin) / (smax - smin + 1e-9) * 10), 9) AS INT) AS bin
              |       FROM sc, rng),
              |m AS (SELECT bin, COUNT(*) AS n,
              |        ROUND(CAST(CAST(AVG(score) AS REAL) AS DOUBLE), 4) + 0.0 AS mean_score,
              |        ROUND(SUM(y) * 1.0 / COUNT(*), 4) + 0.0 AS pos_rate
              |      FROM bb GROUP BY bin)
              |SELECT bin, n, mean_score, pos_rate,
              |  ROUND(ABS(mean_score - pos_rate), 4) + 0.0 AS gap
              |FROM m ORDER BY bin""".stripMargin),
      doc = "quality-filter calibration report (reliability diagram): " +
        "10 fixed score bins, float32-quantized mean prediction vs exact " +
        "integer positive rate, per-bin gap — the eval that sets the " +
        "gate cutoff; one map pass over the retained features + a 10-key " +
        "partial agg")
  )

  /** The fixed editorial "curated sources" weak-label list. */
  private val CuratedSources = Seq("src0", "src1", "src7", "src11", "src13")

  private val QfLr = 4.0
  private val QfSteps = 3

  /** r15 (guide §1.2 / VERDICT r14 #4): ONE fit per (session, dir). The
    * three declared consumers (fit, apply, calibration) each re-derived
    * the feature frame and re-ran the full GD loop — 5 serial aggregate
    * walls apiece (bounds + initial gradient + 3 fused steps) for
    * byte-identical weights, because the fit is deterministic by
    * construction (order-free quantized long sums). Memoized like
    * [[DedupQueries.minedGroups]]: built once per (session, dir), the
    * memo dies at the CacheScope boundary with everything else. Stored
    * value: (feats frame, corpus n, per-step report rows, final
    * weights). Consumers compute identical results from identical
    * inputs — the oracle replays the full fit either way.
    */
  private type QfState = (org.apache.spark.sql.DataFrame, Long,
    Seq[(Int, Double, Double, Double, Double, Double, Double)], Array[Double])
  private final case class QfFit(dir: String)
      extends graft.CacheScope.Key[QfState]

  private def qfFitted(s: org.apache.spark.sql.SparkSession, dir: String)
      : QfState =
    graft.CacheScope.memo(s, QfFit(dir)) {
      val (feats, n) = qfFeatures(s, dir)
      val (rows, w) = qfFit(feats, n)
      (feats, n, rows, w)
    }

  /** Weak label + min-max-centered features for the quality-filter fit;
    * returns the retained feature frame and the corpus count. The
    * min/max standardizer aggregates are order-free exact, so no
    * quantization is needed to keep both engines identical.
    */
  private def qfFeatures(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Long) = {
    val ntok = greatest(tokenCount(col("text")).cast("double"), lit(1.0))
    val raw = graft.CacheScope.retain(
      Tables(s, dir, "documents").select(
        col("doc_id"),
        col("source").isin(CuratedSources: _*).cast("int").as("y"),
        (least(col("n_chars").cast("double"), lit(2000.0)) / 1000.0)
          .as("r1"),
        least(tokenCount(col("text")).cast("double") / 100.0, lit(1.0))
          .as("r2"),
        (col("n_chars").cast("double") / ntok / 10.0).as("r3")))
    // coalesce: min/max over a zero-row slice are null — fold to 0.0 so
    // the fixed-point bounds row decodes (the degenerate-input contract,
    // DegenerateProbe); never fires on a non-empty corpus
    val b = raw.agg(count(lit(1)).as("n"),
      coalesce(min("r1"), lit(0.0)).as("n1"),
      coalesce(max("r1"), lit(0.0)).as("x1"),
      coalesce(min("r2"), lit(0.0)).as("n2"),
      coalesce(max("r2"), lit(0.0)).as("x2"),
      coalesce(min("r3"), lit(0.0)).as("n3"),
      coalesce(max("r3"), lit(0.0)).as("x3")).head()
    def centered(j: Int) =
      ((col(s"r$j") - lit(b.getDouble(2 * j - 1)))
        / ((lit(b.getDouble(2 * j)) - lit(b.getDouble(2 * j - 1)))
          + lit(1e-9)) - lit(0.5)).as(s"x$j")
    val feats = graft.CacheScope.retain(
      raw.select(col("doc_id"), col("y"), lit(1.0).as("x0"),
        centered(1), centered(2), centered(3)))
    (feats, b.getLong(0))
  }

  /** 3 batch-GD steps over logistic loss, each ONE partial-agg corpus
    * pass (the Lloyd-rounds shape; per-step driver state is 4 doubles).
    * DETERMINISM: each doc's gradient and loss contribution is quantized
    * to integer MICRO-units summed as longs (the DSIR lesson — a double
    * sum is summation-order-dependent under Spark's partial
    * aggregation). |q| ≤ 2e6/doc → the long sum holds ~4e12 docs before
    * overflow. Returns the per-step report rows and the final weights.
    */
  private def qfFit(feats: org.apache.spark.sql.DataFrame, n: Long)
      : (Seq[(Int, Double, Double, Double, Double, Double, Double)], Array[Double]) = {
    val w = Array(0.0, 0.0, 0.0, 0.0)
    def z(wv: Array[Double]) =
      lit(wv(0)) * col("x0") + lit(wv(1)) * col("x1") +
        lit(wv(2)) * col("x2") + lit(wv(3)) * col("x3")
    // r14: the GD steps are an ITERATIVE section — serial 1-row aggs over
    // the retained feature frame, a fixed shape AQE can only slow down
    // with per-stage materialization walls (IterScope contract, the
    // Lloyd/CC trade). Weights and report rows are identical: the
    // quantized long sums are order-free by construction.
    // r14 second cut (guide §1.2 — fewer passes): step k's metrics and
    // step k+1's gradient both evaluate at the SAME weight vector (the
    // post-update w), so they fuse into ONE corpus pass — 2·steps serial
    // aggregate walls become steps+1 (6 → 4 for the 3-step fit). The
    // last step's fused gradient sums are computed and discarded (same
    // pass either way). Every summand expression is unchanged.
    def qg(j: Int) = {
      val p = lit(1.0) / (lit(1.0) + exp(-z(w)))
      val err = col("y").cast("double") - p
      floor(err * col(s"x$j") * lit(1000000.0) + lit(0.5)).cast("long")
    }
    def longAt(r: org.apache.spark.sql.Row, j: Int): Long =
      if (r.isNullAt(j)) 0L else r.getLong(j)
    val nd = math.max(n, 1L).toDouble
    val rows = graft.ops.IterScope.noAqe(feats.sparkSession) {
      // gradient at the initial weights (zero-row slice: sums are null
      // and n is 0 — the gradient of an empty corpus is 0, weights stay
      // put; DegenerateProbe)
      var g = feats.agg(sum(qg(0)).as("s0"), sum(qg(1)).as("s1"),
        sum(qg(2)).as("s2"), sum(qg(3)).as("s3")).head()
      var gOff = 0 // column offset of the gradient sums within `g`
      (1 to QfSteps).map { step =>
        var j = 0
        while (j < 4) {
          w(j) = w(j) + QfLr * ((longAt(g, gOff + j) / 1000000.0) / nd)
          j += 1
        }
        // metrics with the UPDATED weights (exact correct count +
        // micro-unit log-loss sum, same order-free discipline) FUSED
        // with the next step's gradient at those same weights
        val p2 = lit(1.0) / (lit(1.0) + exp(-z(w)))
        val lossMicro = floor(-(col("y").cast("double") * log(p2)
          + (lit(1.0) - col("y").cast("double")) * log(lit(1.0) - p2))
          * lit(1000000.0) + lit(0.5)).cast("long")
        val m = feats.agg(
          sum(((z(w) > lit(0.0)) === (col("y") === 1)).cast("long")).as("c"),
          sum(lossMicro).as("l"),
          sum(qg(0)).as("s0"), sum(qg(1)).as("s1"),
          sum(qg(2)).as("s2"), sum(qg(3)).as("s3")).head()
        g = m; gOff = 2
        (step, w(0), w(1), w(2), w(3),
          (longAt(m, 1) / 1000000.0) / nd,
          longAt(m, 0).toDouble / nd)
      }
    }
    (rows, w)
  }

  // ---- DuckDB replay: bounds, centered features, per-step weight CTEs
  // derived from the previous step's weights + exact integer gradient
  // sums, and a metrics CTE per step. Shared by fit and apply.

  private val qfZExpr = "w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3"
  private val qfPExpr = s"(1.0 / (1.0 + exp(-($qfZExpr))))"

  private def qfGCte(k: Int, wFrom: String): String = {
    val sums = (0 to 3).map(j =>
      s"COALESCE(SUM(CAST(FLOOR((CAST(y AS DOUBLE) - $qfPExpr) " +
        s"* x$j * 1000000.0 + 0.5) AS BIGINT)), 0) AS s$j").mkString(",\n    ")
    s"g$k AS (SELECT\n    $sums\n  FROM f, $wFrom w)"
  }

  private def qfWCte(k: Int, wFrom: String): String = {
    val ws = (0 to 3).map(j =>
      s"w.w$j + $QfLr * ((g.s$j / 1000000.0) / GREATEST(c.n, 1)) AS w$j").mkString(", ")
    s"wt$k AS (SELECT $ws FROM $wFrom w, g$k g, cnt c)"
  }

  private def qfMCte(k: Int): String =
    s"""a$k AS (SELECT
       |    COALESCE(SUM(CASE WHEN ($qfZExpr > 0.0) = (y = 1)
       |      THEN 1 ELSE 0 END), 0) AS c,
       |    COALESCE(SUM(CAST(FLOOR(-(CAST(y AS DOUBLE) * ln($qfPExpr)
       |      + (1.0 - CAST(y AS DOUBLE)) * ln(1.0 - $qfPExpr))
       |      * 1000000.0 + 0.5) AS BIGINT)), 0) AS l
       |  FROM f, wt$k w)""".stripMargin

  private def qfStepSelect(k: Int): String =
    s"SELECT $k AS step, ROUND(w.w0, 6) + 0.0 AS w0, ROUND(w.w1, 6) + 0.0 AS w1, " +
      s"ROUND(w.w2, 6) + 0.0 AS w2, ROUND(w.w3, 6) + 0.0 AS w3, " +
      s"ROUND((a$k.l / 1000000.0) / GREATEST(cnt.n, 1), 4) + 0.0 AS log_loss, " +
      s"ROUND(a$k.c * 1.0 / GREATEST(cnt.n, 1), 4) + 0.0 AS train_acc " +
      s"FROM wt$k w, a$k, cnt"

  private def qfCtePrefix: String = {
    val ntokSql = TextQueries.nTokSql
    val curated = CuratedSources.map(s => s"'$s'").mkString(", ")
    s"""r AS (SELECT doc_id, CAST(source IN ($curated) AS INT) AS y,
       |    LEAST(CAST(n_chars AS DOUBLE), 2000.0) / 1000.0 AS r1,
       |    LEAST($ntokSql / 100.0, 1.0) AS r2,
       |    CAST(n_chars AS DOUBLE) / GREATEST($ntokSql, 1.0) / 10.0 AS r3
       |  FROM documents),
       |bounds AS (SELECT COALESCE(MIN(r1), 0.0) AS n1,
       |    COALESCE(MAX(r1), 0.0) AS x1, COALESCE(MIN(r2), 0.0) AS n2,
       |    COALESCE(MAX(r2), 0.0) AS x2, COALESCE(MIN(r3), 0.0) AS n3,
       |    COALESCE(MAX(r3), 0.0) AS x3 FROM r),
       |f AS (SELECT doc_id, y, 1.0 AS x0,
       |    (r1 - b.n1) / ((b.x1 - b.n1) + 1e-9) - 0.5 AS x1,
       |    (r2 - b.n2) / ((b.x2 - b.n2) + 1e-9) - 0.5 AS x2,
       |    (r3 - b.n3) / ((b.x3 - b.n3) + 1e-9) - 0.5 AS x3
       |  FROM r, bounds b),
       |cnt AS (SELECT COUNT(*) AS n FROM f),
       |wt0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
       |${qfGCte(1, "wt0")},
       |${qfWCte(1, "wt0")},
       |${qfMCte(1)},
       |${qfGCte(2, "wt1")},
       |${qfWCte(2, "wt1")},
       |${qfMCte(2)},
       |${qfGCte(3, "wt2")},
       |${qfWCte(3, "wt2")},
       |${qfMCte(3)}""".stripMargin
  }
}
