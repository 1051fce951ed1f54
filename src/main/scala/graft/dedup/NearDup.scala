package graft.dedup

import graft.functions.TextHashes.{min_hash_signature, sim_hash, P}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over a document corpus — the four standard
  * methods, each shaped so no step is ever all-pairs:
  *
  *  - exact n-gram Jaccard: inverted shingle index self-join — pairs are
  *    generated only for docs sharing a shingle, grouped map-side;
  *  - MinHash + LSH banding: signature (map-only codegen'd expression) →
  *    band buckets → candidates from bucket join → exact-Jaccard verify of
  *    candidates only;
  *  - SimHash: 31-bit fingerprint → 8-bit band buckets → Hamming verify;
  *  - embedding-cosine near-dup lives in [[graft.vector.VectorSearch]]
  *    (same banding skeleton over LSH signatures).
  *
  * At 100 TB the only shuffles are on (shingle), (band, band_val) and the
  * candidate pair keys — cardinality O(corpus), never O(corpus²). Skew note:
  * a shingle shared by k docs emits k(k−1)/2 pairs; production runs cap
  * per-shingle fan-out by dropping ultra-common shingles (stop-shingles),
  * exactly like dropping stopwords — expose `maxDocsPerShingle` for that.
  */
object NearDup {

  /** The map side alone: per-doc shingles exploded, BEFORE the distinct —
    * duplicates within a doc still present. Probe/decomposition surface
    * (SCALE.md "shingle_map" vs "shingle_index"); production callers want
    * [[docShingles]].
    */
  def docShinglesRaw(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val shingles = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(expr(
        s"transform(sequence(1, size(__toks) - ${n - 1}), i -> " +
          (0 until n).map(o => s"element_at(__toks, i + $o)")
            .mkString("concat_ws(' ', ", ", ", ")") + ")"))
    docs
      .withColumn("__toks", toks)
      .select(col(idCol), explode(shingles).as("shingle"))
  }

  /** (doc_id, shingle-string) pairs, distinct per doc: word n-grams joined
    * by single spaces. Shingles as strings (not hashes) so exact-Jaccard
    * equality is engine-independent.
    */
  def docShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDocsPerShingle: Option[Int] = None): DataFrame = {
    // ONE exchange, keyed the way every downstream hop wants the index:
    // repartition by `shingle` BEFORE the distinct. HashPartitioning on a
    // subset of the group keys satisfies the distinct's clustering, so no
    // second exchange is planned — and the df aggregate, the freq
    // join-back, and the inverted-index SELF-JOIN (all keyed on shingle)
    // then run exchange-free off the cached index. The previous
    // (doc_id, shingle) distinct layout satisfied none of them: the
    // boilerplate/jaccard family re-shuffled the full string index 1-2
    // more times (measured: the shuffle side is 70% of the index build
    // at 100x — SCALE.md "shingle_map vs shingle_index"). Skew note: a
    // mega-hot shingle now concentrates its index rows in one partition
    // at the distinct too (previously only at the downstream shingle
    // hops); within-doc duplicate shingles are <0.2% of raw rows, so
    // shipping raw pairs instead of partial-deduped ones costs nothing.
    // Measured and REVERTED: additionally sorting the cached index by
    // (shingle, id) at build time ("pay the SMJ sort once") was net
    // negative at the 100x probe — every consumer pays the ~9.5 s build
    // sort through the shared retained index (bloom_decontaminate, which
    // never sort-merge-joins, went 15.2 → 26.1 s) and the SMJ consumers
    // re-sorted anyway. SCALE.md "r9h".
    val d0 = docShinglesRaw(docs, idCol, textCol, n)
      .repartition(col("shingle"))
      .distinct()
    val capped = maxDocsPerShingle match {
      case None => d0
      case Some(cap) =>
        // the cap reads the index twice (hot-shingle agg + main side):
        // one tokenize/explode/distinct pass, not two
        val d = graft.CacheScope.retain(d0)
        val hot = d.groupBy("shingle").count().where(col("count") > cap)
        d.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
    // consumed 3x downstream (both join sides + set sizes): one explode
    // pass instead of three; released by the run harness via CacheScope
    graft.CacheScope.retain(capped)
  }

  /** Exact pairwise n-gram Jaccard ≥ threshold via the inverted index. */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDocsPerShingle: Option[Int] = None): DataFrame = {
    val d = docShingles(docs, idCol, textCol, n, maxDocsPerShingle)
    jaccardOfPairs(d, shingleOverlap(d, idCol), idCol, "doc_a", "doc_b",
      threshold)
  }

  /** The pair-mining policy every miner here shares: a pair exists only
    * between two rows of `df` with equal `keys` (a shingle, a band
    * bucket, a k-means cell, a fingerprint) and is emitted once, with the
    * lower `idCol` first. `df` is aliased `a`/`b`; `out` projects each
    * pair from the two sides' column resolvers.
    */
  private[graft] def selfPairs(df: DataFrame, keys: Seq[String],
      idCol: String)(out: (String => Column, String => Column) => Seq[Column])
      : DataFrame = {
    val a = (c: String) => col(s"a.$c")
    val b = (c: String) => col(s"b.$c")
    df.alias("a").join(df.alias("b"),
        keys.map(k => a(k) === b(k)).reduce(_ && _) && a(idCol) < b(idCol))
      .select(out(a, b): _*)
  }

  /** The hot-bucket star split: each row of `df` tagged with its bucket's
    * member count `__n` and min id `__rep`, split into cold rows (buckets
    * of at most `cap` members) and hot rows. Callers pair the cold rows
    * with [[selfPairs]] and star the hot ones through `__rep`.
    * `broadcastStats`: one stats row per bucket is small for k-means
    * cells, corpus-sized for band buckets.
    */
  private[graft] def splitHot(df: DataFrame, keys: Seq[String], idCol: String,
      cap: Int, broadcastStats: Boolean): (DataFrame, DataFrame) = {
    val stats = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), min(col(idCol)).as("__rep"))
    val tagged = df.join(if (broadcastStats) broadcast(stats) else stats, keys)
    (tagged.where(col("__n") <= cap), tagged.where(col("__n") > cap))
  }

  /** |A∩B| as `n_common` for each candidate pair (`aCol`, `bCol`) of
    * `cand`, counted over the shingle index `d`.
    */
  private def sharedShingleCount(cand: DataFrame, d: DataFrame,
      idCol: String, aCol: String, bCol: String): DataFrame =
    cand
      .join(d.alias("da"), col(aCol) === col(s"da.$idCol"))
      .join(d.alias("db"), col(bCol) === col(s"db.$idCol") &&
        col("da.shingle") === col("db.shingle"))
      .groupBy(aCol, bCol).agg(count(lit(1)).as("n_common"))

  /** (doc_a, doc_b, n_common) for every doc pair sharing a shingle of `d`. */
  private def shingleOverlap(d: DataFrame, idCol: String): DataFrame =
    // groups on the two sides' own id columns: renaming them in the
    // projection first would put an extra rename below the aggregate
    selfPairs(d, Seq("shingle"), idCol)((a, b) => Seq(a(idCol), b(idCol)))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))

  /** Exact Jaccard ≥ t with PREFIX FILTERING (PPJoin-style) — same result
    * set as [[exactJaccardPairs]], far fewer candidate pairs:
    *
    *  - global shingle order = ascending document frequency (rarest
    *    first), ties by shingle text;
    *  - each doc indexes only its first `|x| − ceil(t·|x|) + 1` shingles
    *    in that order. Pigeonhole: a pair with J ≥ t must share at least
    *    one prefix shingle of BOTH docs, because J ≥ t ⇒
    *    c ≥ t/(1+t)·(nₐ+n_b) ≥ t·min(nₐ,n_b) > skipped-suffix size;
    *  - the length filter `t·nₐ ≤ n_b ≤ nₐ/t` prunes size-incompatible
    *    pairs before verification;
    *  - full exact-intersection verify of surviving candidates only.
    *
    * WHEN THIS WINS (measured, ScaleProbe r9): prefix filtering prunes
    * candidate pairs that can't reach t — i.e. FALSE positives induced by
    * common shingles between mostly-dissimilar docs. On a corpus where
    * the candidates are mostly TRUE pairs it can prune nothing, and its
    * extra passes (per-doc rank window, candidate distinct, two verify
    * re-joins) compound: 10x dup-heavy replica corpus = 279 s / 35.1x vs
    * the plain index's 45.8 s / 16.3x (benign 1x corpus: 7.9 s vs ~3 s —
    * plain wins there too). The measured switches for dup-heavy inputs
    * are `maxDocsPerShingle` (5.3 s / 2.2x, at 78.8% pair recall on that
    * corpus) or SimHash hamming verify (4.0 s at the same pair volume).
    * Reach for this path only on the specific adversary it targets:
    * high-df shingles shared across genuinely dissimilar docs.
    */
  def exactJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val d = docShingles(docs, idCol, textCol, n)
    val sizes = d.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    // global rarity order: document frequency asc, shingle text asc
    val freq = d.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("shingle"))
    val prefix = d
      .join(freq, "shingle")
      .join(sizes, idCol)
      .withColumn("__rk", row_number().over(rankW))
      .where(col("__rk") <=
        col("n_sh") - ceil(col("n_sh") * threshold) + lit(1))
      .select(col(idCol), col("shingle"), col("n_sh"))
    val cand = prefix.alias("a").join(prefix.alias("b"),
        col("a.shingle") === col("b.shingle") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          col("b.n_sh") >= ceil(col("a.n_sh") * threshold) &&
          col("a.n_sh") >= ceil(col("b.n_sh") * threshold))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
    jaccardOfPairs(d, sharedShingleCount(cand, d, idCol, "doc_a", "doc_b"),
      idCol, "doc_a", "doc_b", threshold)
  }

  /** (id, band, band_val) MinHash band buckets — the PERSISTED index shape:
    * an ingest pipeline computes this once per corpus (one codegen map
    * pass), writes it partitioned by (band, band_val mod nBuckets), and
    * every later delta batch probes it without touching corpus text.
    */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val r = k / bands
    val sig = docs.select(col(idCol),
      min_hash_signature(col(textCol), n, k).as("__sig"))
    // band value: left fold (v·8191 + mh) mod P over the band's r values —
    // integer-exact, replayable in SQL
    sig
      .select(col(idCol), explode(sequence(lit(0), lit(bands - 1))).as("band"),
        col("__sig"))
      .withColumn("band_val", expr(
        s"aggregate(slice(__sig, band * $r + 1, $r), 0L, (a, x) -> (a * 8191 + x) % $P)"))
      .drop("__sig")
  }

  /** Within-index banded candidate pairs + the probe-row set + the star
    * edges, shared by [[minhashLshPairs]] and [[incrementalDedup]]'s
    * within-batch side.
    *
    * Uncapped (`cap` = None): all id<id pairs per (band, band_val) bucket,
    * and every signature row probes other indexes. Capped: buckets over
    * `cap` members emit only (rep, member) star pairs through the min-id
    * representative — O(k) instead of k(k−1)/2 — and only the
    * representative probes other indexes. See [[incrementalDedup]]'s
    * maxDocsPerBand doc for the OOM measurement and the completeness
    * trade (a false-positive hot bucket whose members dup each other but
    * not the representative loses those pairs — and, downstream, can
    * split a CC group).
    *
    * Returns (pairs as (__lo, __hi) with __lo < __hi, probe rows as
    * (idCol, band, band_val), star edges as the (__lo=rep, __hi=member)
    * subset of the pairs — empty when uncapped). The star edges let
    * [[incrementalDedup]] route hot-bucket members to the corpus docs
    * their representative matched (the rep-mediated corpus verify).
    */
  private def bandedSelfCandidates(sig: DataFrame, idCol: String,
      cap: Option[Int]): (DataFrame, DataFrame, DataFrame) = {
    val bucket = Seq("band", "band_val")
    def pairs(df: DataFrame) = selfPairs(df, bucket, idCol)((a, b) =>
      Seq(a(idCol).as("__lo"), b(idCol).as("__hi")))
    cap match {
      case None =>
        val p = pairs(sig)
        (p, sig, p.limit(0))
      case Some(c) =>
        // one stats row per band bucket: corpus-sized, so not broadcast
        val (cold, hot) = splitHot(sig, bucket, idCol, c,
          broadcastStats = false)
        // rep = min id in the bucket, so __lo = rep < member always holds
        val star = hot.where(col(idCol) =!= col("__rep"))
          .select(col("__rep").as("__lo"), col(idCol).as("__hi"))
        val probe = cold.select(col(idCol), col("band"), col("band_val"))
          .unionByName(hot.where(col(idCol) === col("__rep"))
            .select(col(idCol), col("band"), col("band_val")))
        (pairs(cold).unionByName(star), probe, star)
    }
  }

  /** MinHash signatures + banded candidate pairs, then exact verify.
    * `maxDocsPerBand` is the hot-bucket star cap — same knob, same OOM
    * rationale, same completeness trade as [[incrementalDedup]]'s
    * (this miner feeds CC group collapse, where star edges preserve
    * bucket connectivity as long as members verify against the
    * representative). Default None = every pair, the oracle contract.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double,
      maxDocsPerBand: Option[Int] = None): DataFrame = {
    val banded = bandedSignatures(docs, idCol, textCol, n, k, bands)
    val cand = bandedSelfCandidates(banded, idCol, maxDocsPerBand)._1
      .select(col("__lo").as("doc_a"), col("__hi").as("doc_b"))
      .distinct()
    val d = docShingles(docs, idCol, textCol, n)
    jaccardOfPairs(d, sharedShingleCount(cand, d, idCol, "doc_a", "doc_b"),
      idCol, "doc_a", "doc_b", threshold)
  }

  /** INCREMENTAL ingest dedup — the production shape: a new crawl batch
    * (`delta`) is checked against an EXISTING corpus without ever mining
    * corpus×corpus pairs. Flags each delta doc that near-dups a corpus doc
    * or an earlier delta doc (the within-batch survivor is the smaller id).
    *
    * Scale shape, in order:
    *  1. band signatures of both sides ([[bandedSignatures]] — for the
    *     corpus this is the persisted index in production, re-derived here);
    *  2. candidate mining: the corpus index is probed with the BROADCAST
    *     delta index (a crawl increment is small next to a 100 TB corpus),
    *     so the corpus side is never shuffled; within-batch candidates are
    *     a delta-only self-join;
    *  3. exact-Jaccard verify touches only CANDIDATE docs: a semi-join
    *     prunes the doc universe to candidate ids BEFORE tokenizing —
    *     verify cost is O(candidates), not O(corpus).
    *
    * Output: (new_doc, dup_of, jaccard) for every verified duplicate, where
    * `new_doc` is always from the delta.
    *
    * `maxDocsPerBand` is the within-batch hot-bucket guard — the analog of
    * [[exactJaccardPairs]]' stop-shingle cap, and like it NOT optional at
    * scale on dup-heavy batches: a template page crawled 100k× lands its
    * copies in ONE delta band bucket, and the uncapped a<b self-join emits
    * k(k−1)/2 candidate rows (measured: OOMs an 8 GiB local[32] run at
    * ~100-member buckets × 5k buckets — SCALE.md, 100× leg). With the cap,
    * buckets over `cap` members pair each member against the bucket
    * representative (min id) ONLY — O(k) pairs — and the representative
    * alone carries the bucket's corpus-index probe; members are
    * additionally verified against every corpus doc their representative
    * band-matched (the rep-mediated corpus verify — exact-Jaccard gated,
    * so it adds recall, never false positives). What the cap still LOSES,
    * precisely (ADVICE r9):
    *  - within-bucket pair completeness: x↔y in a hot bucket is reported
    *    only through the representative, so a false-positive bucket whose
    *    members dup each other but not the representative can pass (and,
    *    downstream, split a CC group);
    *  - corpus-probe recall: a member's OWN bands never probe the corpus,
    *    so a member duplicating a corpus doc that its representative does
    *    NOT band-match is admitted unchecked.
    * Corpus-side buckets need no cap by induction: a gated ingest never
    * admits the duplicates that would make one hot. Default None = exact
    * (every pair mined, every row probes), the oracle-checked contract.
    */
  def incrementalDedup(corpus: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, n: Int, k: Int, bands: Int,
      threshold: Double, maxDocsPerBand: Option[Int] = None): DataFrame = {
    val sigC = bandedSignatures(corpus, idCol, textCol, n, k, bands)
    val sigD = bandedSignatures(delta, idCol, textCol, n, k, bands)
    // within-batch candidates + which delta rows probe the corpus index
    // (uncapped: all a<b pairs, every row probes; capped: hot buckets
    // star through the min-id rep, which alone carries the corpus probe).
    // The smaller id survives, so __lo is the dup_of side.
    val (batchPairs, probeD, starD) =
      bandedSelfCandidates(sigD, idCol, maxDocsPerBand)
    val candBatch = batchPairs
      .select(col("__hi").as("new_doc"), col("__lo").as("dup_of"))
    val candCorpus = sigC.alias("c").join(broadcast(probeD).alias("nw"),
        col("c.band") === col("nw.band") &&
          col("c.band_val") === col("nw.band_val"))
      .select(col(s"nw.$idCol").as("new_doc"), col(s"c.$idCol").as("dup_of"))
    // rep-mediated corpus verify (ADVICE r9): a hot-bucket member's own
    // bands never probe the corpus under the cap, so route each member to
    // the corpus docs its REPRESENTATIVE band-matched — O(star edges ×
    // rep's corpus matches) extra candidates, all exact-verified below,
    // so recall improves with zero false positives. The residual loss is
    // documented on maxDocsPerBand: a member duplicating a corpus doc the
    // rep does NOT band-match is still admitted unchecked.
    val candMemberViaRep = candCorpus.alias("rc")
      .join(starD.alias("st"), col("rc.new_doc") === col("st.__lo"))
      .select(col("st.__hi").as("new_doc"), col("rc.dup_of"))
    val cand = candCorpus.unionByName(candBatch)
      .unionByName(candMemberViaRep).distinct()
    val candIds = cand.select(col("new_doc").as(idCol))
      .unionByName(cand.select(col("dup_of").as(idCol))).distinct()
    val universe = corpus.select(col(idCol), col(textCol))
      .unionByName(delta.select(col(idCol), col(textCol)))
    val d = docShingles(universe.join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, n)
    jaccardOfPairs(d, sharedShingleCount(cand, d, idCol, "new_doc", "dup_of"),
      idCol, "new_doc", "dup_of", threshold)
  }

  /** INCREMENTAL winnowing — the substring-level twin of
    * [[incrementalDedup]]: a new batch (`delta`) is probed against an
    * existing corpus's winnow fingerprint index without ever mining
    * corpus×corpus pairs. In production the corpus side IS the persisted
    * index (fingerprints + document frequency); here it is re-derived.
    *
    * Scale shape:
    *  1. one O(n) codegen fingerprint pass per side;
    *  2. the STOP list is TOTAL df (corpus + delta) > `stopDf` — corpus
    *     df is free in production (stored with the persisted index), the
    *     delta df is one groupBy over the small batch. Counting the
    *     delta side matters: a template fingerprint arriving 1000× in
    *     one crawl batch would otherwise fan k²/2 pairs through the
    *     within-batch self-join (measured 88× at 10× on the replica
    *     corpus with a corpus-only stop list; 2-3× with total df);
    *  3. the corpus index is probed with the BROADCAST delta
    *     fingerprints, so the corpus is never shuffled; within-batch
    *     pairs are a delta-only self-join. Per-batch cost is
    *     O(delta + matches), the ingest-gate contract.
    *
    * Output: (new_doc, dup_of, n_shared) with `new_doc` from the delta
    * and `n_shared ≥ minShared` shared fingerprints (≥ 3 gates out
    * single-phrase coincidence, the q_d_winnow_pairs convention).
    */
  def incrementalWinnow(corpus: DataFrame, delta: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, minShared: Long,
      stopDf: Long): DataFrame =
    winnowPipeline(corpus, delta, idCol, textCol, k, w, minShared, stopDf)(
      identity)._3

  /** The gate's pipeline, shared by [[incrementalWinnow]] and
    * [[incrementalWinnowGated]]: returns the batch fingerprints, the stop
    * list and the candidate pairs. `pin` wraps the batch fingerprints and
    * the stop list: identity for the ungated form, a persist for the gated
    * form, whose report reads both again.
    */
  private def winnowPipeline(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, k: Int, w: Int, minShared: Long,
      stopDf: Long)(pin: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.TextHashes.winnow_fingerprints
    def fps(df: DataFrame) = df.select(col(idCol),
      explode(winnow_fingerprints(col(textCol), k, w)).as("fp"))
    // fpC/fpD/hot are each referenced by several joins, but deliberately
    // NOT CacheScope-retained: the repeated subtrees are IDENTICAL, so
    // Spark's ReusedExchange dedups them at execution — measured on the
    // 10× replica corpus, retaining these (and incrementalDedup's cand/
    // shingle frames) made the gates 2-5× SLOWER (forced materialization
    // of large candidate frames vs free exchange reuse). Caching earns
    // its keep only when the reused subtree is NOT plan-identical
    // across references (docShingles' capped index, the CC pair list).
    val fpC = fps(corpus)
    val fpD = pin(fps(delta))
    val hot = pin(fpC.unionByName(fpD).groupBy("fp")
      .agg(count(lit(1)).as("df"))
      .where(col("df") > stopDf).select("fp"))
    val coldC = fpC.join(broadcast(hot), Seq("fp"), "left_anti")
    val coldD = fpD.join(broadcast(hot), Seq("fp"), "left_anti")
    val candCorpus = coldC.alias("c")
      .join(broadcast(coldD).alias("nw"), col("c.fp") === col("nw.fp"))
      .select(col(s"nw.$idCol").as("new_doc"), col(s"c.$idCol").as("dup_of"))
    val candBatch = selfPairs(coldD, Seq("fp"), idCol)((a, b) =>
      Seq(b(idCol).as("new_doc"), a(idCol).as("dup_of")))
    val pairs = candCorpus.unionByName(candBatch)
      .groupBy("new_doc", "dup_of")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    (fpD, hot, pairs)
  }

  /** Per-batch winnow-gate suppression metrics (VERDICT r10 #2): what the
    * stop list did to THIS batch. `stopFrac` is the fraction of the
    * batch's fingerprint occurrences that crossed the total-df stop list —
    * the recall-collapse signal: at ≥100 replicas EVERY fingerprint
    * crosses (r10b: mined rows 18 744 → 0), which is the gate's designed
    * template-text behavior but must alert, not pass silently.
    */
  final case class WinnowGateMetrics(fpSeen: Long, fpStopped: Long,
      stopFrac: Double, pairsMined: Long)

  /** [[incrementalWinnow]] with suppression metrics — the observable form
    * a production foreachBatch ingest loop runs (VERDICT r10 #2). Same
    * pipeline, same output rows (StreamingSpec pins gated == ungated);
    * additionally returns [[WinnowGateMetrics]] for the batch.
    *
    * Why a computed 1-row report instead of a `Dataset.observe` node on
    * the output plan: the suppression signal counts fingerprints the stop
    * list REMOVES from the plan — a CollectMetrics node over the flowing
    * output can never see them. The report still costs no extra corpus
    * scan: it reads only the batch's fingerprints and the stop list, both
    * materialized here once (fpD is O(delta) by the gate's batch
    * contract; the stop list is the hot-template set, small by
    * construction) and dropped before returning — unlike the
    * corpus-sized frames the ungated form deliberately leaves to
    * ReusedExchange. The verdict frame is eagerly materialized and
    * retained (the per-batch production posture the winnow query already
    * uses); CacheScope.release at the caller's batch boundary frees it.
    */
  def incrementalWinnowGated(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, k: Int, w: Int, minShared: Long,
      stopDf: Long): (DataFrame, WinnowGateMetrics) = {
    import org.apache.spark.storage.StorageLevel
    val (fpD, hot, pairs) = winnowPipeline(corpus, delta, idCol, textCol,
      k, w, minShared, stopDf)(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      val out = graft.CacheScope.retain(pairs)
      val pairsMined = out.count()
      val r = fpD
        .join(broadcast(hot.withColumn("__stop", lit(1L))), Seq("fp"), "left")
        .agg(count(lit(1)).as("seen"),
          coalesce(sum(col("__stop")), lit(0L)).as("stopped"))
        .head()
      val seen = r.getLong(0); val stopped = r.getLong(1)
      val frac = if (seen == 0L) 0.0
        else math.round(stopped.toDouble / seen * 1e6) / 1e6
      (out, WinnowGateMetrics(seen, stopped, frac, pairsMined))
    } finally {
      fpD.unpersist()
      hot.unpersist()
    }
  }

  /** Containment near-dup pairs: |A∩B|/|A| and |A∩B|/|B| per candidate
    * pair, kept when EITHER direction ≥ threshold. Containment catches
    * what symmetric Jaccard misses — a document embedded inside a larger
    * one (quotes, boilerplate wrappers, page-plus-chrome crawls) has high
    * containment of the smaller side but low Jaccard when the sizes
    * differ. Same inverted-index shape as [[exactJaccardPairs]]: pairs
    * exist only for docs sharing a shingle, never all-pairs — and the
    * same `maxDocsPerShingle` stop-shingle cap, which is NOT optional at
    * scale here: a replica-heavy corpus fans every hot shingle into
    * k(k−1)/2 candidate pairs (measured 19.7× at 10× data uncapped vs
    * ~2× capped on the adversarial replica corpus, SCALE.md).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDocsPerShingle: Option[Int] = None): DataFrame = {
    val d = docShingles(docs, idCol, textCol, n, maxDocsPerShingle)
    val sizes = d.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    shingleOverlap(d, idCol)
      .join(sizes.select(col(idCol).as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (round(col("n_common") / col("n_a"), 4) + lit(0.0)).as("cont_a"),
        (round(col("n_common") / col("n_b"), 4) + lit(0.0)).as("cont_b"))
      .where(greatest(col("cont_a"), col("cont_b")) >= threshold)
  }

  /** Shared tail: |A∩B| of the (`aCol`, `bCol`) pairs in `inter` →
    * Jaccard with per-doc set sizes, thresholded.
    */
  private def jaccardOfPairs(d: DataFrame, inter: DataFrame, idCol: String,
      aCol: String, bCol: String, threshold: Double): DataFrame = {
    val sizes = d.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.select(col(idCol).as(aCol), col("n_sh").as("n_a")), aCol)
      .join(sizes.select(col(idCol).as(bCol), col("n_sh").as("n_b")), bCol)
      .select(col(aCol), col(bCol),
        round(col("n_common") / (col("n_a") + col("n_b") - col("n_common")), 4)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected near-dup pair list — the step
    * that turns pairwise matches into DUPLICATE GROUPS so a corpus can be
    * collapsed to one canonical doc per group (pairs alone over-delete:
    * a≈b and b≈c must land in ONE group even when a≉c directly).
    *
    * Iterative min-label propagation WITH pointer jumping: every node
    * starts labeled with its own id; each round takes the min of (its
    * label, its neighbors' labels, its label's label). Neighbor-min alone
    * needs diameter rounds; the label-of-label jump doubles the reach per
    * round, so chains converge in O(log diameter) rounds (near-dup
    * clusters are near-cliques anyway: 2-3 rounds); `maxIter` bounds
    * pathology. Each round is two bounded shuffles (edge key + label
    * key) — never materializes anything super-linear in |edges|.
    *
    * Output: (node, group_id) for every node appearing in ≥1 pair;
    * group_id = min node id of the component. Deterministic.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    // Materialize the pair list ONCE: the symmetric union below reads it
    // twice (loop path), and upstream miners (inverted-index joins) are
    // far too expensive to evaluate per reference (measured 2x60s+ at 10x
    // scale).
    val p = graft.CacheScope.retain(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    // r14 (guide §3.1/§5 — collect the side that FITS, loop over the one
    // that doesn't): a dedup pair list is the heavily-filtered residue of
    // the mining stage — orders of magnitude smaller than the corpus —
    // and the label-propagation loop pays ~2 serial driver-wall jobs per
    // round regardless of size. Up to [[MaxDriverEdges]] pairs, collect
    // the pairs and run union-find on the driver: the SAME memory class
    // as a broadcast-join build side (≲200 MB transient vs Spark's own
    // 8 GB broadcast cap), one collect job instead of O(log diameter)
    // join/checkpoint rounds, and the result is the identical unique
    // fixpoint (group_id = component min). Above it — the genuine 100 TB
    // posture, where the pair list itself is distributed-scale — the
    // loop runs. r15 (VERDICT r14 watch-item): the gate is a
    // LIMIT-(max+1) collect, not a separate count — on the driver path
    // the collected rows ARE union-find's input (one job instead of
    // count + collect), and the collect stays bounded by construction on
    // the loop path (max+1 rows tops, then discarded).
    val integralIds = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      Seq(p.schema("src").dataType, p.schema("dst").dataType).forall {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    val collected =
      if (!integralIds) None
      else {
        import p.sparkSession.implicits._
        Some(p.select(col("src").cast("long"), col("dst").cast("long"))
          .limit(MaxDriverEdges + 1).as[(Long, Long)].collect())
          .filter(_.length <= MaxDriverEdges)
      }
    collected match {
      case Some(arr) =>
        driverUnionFind(p.sparkSession, arr, p.schema("src").dataType)
      case None => labelPropagation(p, maxIter)
    }
  }

  /** Largest pair list [[connectedComponents]] collapses on the driver. */
  private val MaxDriverEdges = 2000000

  /** Distributed CC over the (src, dst) pair list `p`: the min-label
    * propagation loop with pointer jumping that [[connectedComponents]]
    * runs above [[MaxDriverEdges]] pairs.
    */
  private[graft] def labelPropagation(p: DataFrame, maxIter: Int)
      : DataFrame = {
    val edges = graft.CacheScope.retain(
      p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    // Each round references `labels` twice (join side + carry-through), so
    // the logical plan would DOUBLE per round without lineage truncation —
    // localCheckpoint restarts the plan from a LogicalRDD leaf (on a
    // cluster with failure-tolerance needs, swap for reliable
    // checkpoint(); same contract). LAZY (eager=false): the convergence
    // isEmpty below is already a per-round action, so it both computes
    // and persists the round in ONE job instead of eager's
    // checkpoint-wall + re-scan pair (VERDICT r7 #3 — under a contended
    // host each extra serial wall pays the contention tax).
    // Materialize the edge cache under AQE FIRST: the upstream pair MINER
    // is a one-shot analytic plan that genuinely benefits from runtime
    // coalescing (measured: folding it into the loop's first non-AQE
    // action cost q_d_dedup_groups +35% on the same host). That guarantee
    // holds for callers OUTSIDE an enclosing IterScope (q_d_dedup_groups,
    // q_d_group_stats, ...); when this runs inside q_d_pagerank_canonical's
    // outer IterScope.noAqe the count below executes with AQE already off —
    // deliberate there (BENCH_NOTES r10a: the whole cascade trades AQE for
    // one pipelined job chain), not a contradiction of this comment
    // (ADVICE r10). THEN run the
    // loop's convergence checks with AQE off (IterScope): adaptive
    // execution would split each tiny round into 3-6 stage-
    // materialization jobs, i.e. serial driver walls that pay the
    // contention tax on a busy host (r9 verdict item 4: the CC consumers
    // were the surface's most action-serialized queries). The rounds run
    // on a fixed node-keyed 32-partition shape — there is nothing for
    // runtime re-planning to decide. The frame RETURNED to the caller is
    // consumed outside the scope, with AQE on.
    edges.count()
    graft.ops.IterScope.noAqe(p.sparkSession) {
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("group_id", col("node"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("group_id")), "dst")
        .groupBy(col("src").as("node")).agg(min(col("group_id")).as("nbr_min"))
      // pointer jump: label(label(v)) — follows one hop up the label tree
      val jump = labels
        .join(labels.select(col("node").as("group_id"),
          col("group_id").as("jump_min")), Seq("group_id"), "left")
        .select(col("node"), col("jump_min"))
      // prior rounds' checkpoint blocks become unreachable when `labels`
      // is rebound below; Spark's ContextCleaner reclaims them via GC —
      // no manual unpersist (which would delete a truncated lineage's
      // only copy if misordered)
      val next = labels.join(nbrMin, Seq("node"), "left")
        .join(jump, Seq("node"), "left")
        .select(col("node"), col("group_id").as("old_id"),
          least(col("group_id"),
            least(coalesce(col("nbr_min"), col("group_id")),
              coalesce(col("jump_min"), col("group_id"))))
            .as("group_id"))
        .localCheckpoint(false)
      converged = next.where(col("group_id") =!= col("old_id")).isEmpty
      labels = next.select("node", "group_id")
      iter += 1
    }
    // Unconverged labels are not "approximately right" — they split groups
    // that should merge, which a dedup pass turns into kept duplicates.
    // Fail LOUD; silence here is the sf0.01-green/sf100-wrong trap.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "graph diameter exceeds the bound; raise maxIter or tighten the " +
        "pair threshold feeding this collapse")
    labels
    }
  }

  /** Bounded-size CC: union-find over the collected pair list (at most
    * [[MaxDriverEdges]] pairs, in [[connectedComponents]]). Union
    * attaches the larger root under the smaller with path halving, so
    * every root — and therefore every label — is the component MINIMUM:
    * the same unique fixpoint min-label propagation converges to,
    * independent of pair order. Output dtype is restored to the input id
    * dtype so consumers see the loop path's exact schema.
    */
  private[graft] def driverUnionFind(spark: org.apache.spark.sql.SparkSession,
      arr: Array[(Long, Long)],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    arr.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val out = parent.keys.toArray.sorted.map(n => (n, find(n))).toSeq
    out.toDF("node", "group_id")
      .select(col("node").cast(idType).as("node"),
        col("group_id").cast(idType).as("group_id"))
  }

  /** SimHash near-dup pairs: `bitsPerBand`-bit band buckets on the 31-bit
    * fingerprint, Hamming-distance verify of bucket-mates only.
    *
    * RECALL CONTRACT (pigeonhole): `nBands` bands guarantee a shared band
    * for every pair within Hamming distance `nBands − 1`; pairs farther
    * apart whose differing bits land in distinct bands can be missed. So
    * callers needing exact recall at distance d must pass
    * `nBands ≥ d + 1` (and `nBands · bitsPerBand ≥ 31` so every
    * fingerprint bit is covered by some band). The 4×8 default gives
    * guaranteed recall to distance 3 — the classic space/recall point;
    * the 7×5 shape below it guarantees distance 6.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, nBands: Int = 4, bitsPerBand: Int = 8): DataFrame = {
    require(nBands * bitsPerBand >= 31,
      s"bands must cover the 31-bit fingerprint ($nBands x $bitsPerBand < 31)")
    val mask = (1L << bitsPerBand) - 1
    val sig = docs.select(col(idCol), sim_hash(col(textCol)).as("simhash"))
    val banded = sig.select(col(idCol), col("simhash"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("band_val",
        expr(s"(simhash >> ($bitsPerBand * band)) & $mask"))
    selfPairs(banded, Seq("band", "band_val"), idCol)((a, b) =>
        Seq(a(idCol).as("doc_a"), b(idCol).as("doc_b"),
          bit_count(a("simhash") bitwiseXOR b("simhash")).as("hamming")))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
