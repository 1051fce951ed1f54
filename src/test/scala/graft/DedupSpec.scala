package graft

import graft.dedup.NearDup
import graft.functions.TextHashes
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank tonight"), // near-dup of 0
    (2L, "completely different words describing a very unrelated subject matter entirely here now"),
    (3L, "another document with its own unique content that shares nothing with others at all"),
    (4L, "the quick brown fox jumps over the lazy dog near the old river bank today") // exact dup of 0
  ).toDF("doc_id", "text")

  test("exactJaccardPairs finds the planted near-dup and exact-dup pairs only") {
    val pairs = NearDup.exactJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 4L), (1L, 4L)))
  }

  test("exact-dup pair has jaccard exactly 1.0") {
    val j = NearDup.exactJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .where($"doc_a" === 0 && $"doc_b" === 4)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("containmentPairs catches a subset doc that Jaccard misses") {
    // doc 5 = the first 6 words of doc 0: 4 of doc 0's 12 shingles →
    // Jaccard 4/12 = 0.33 (below the 0.5 gate) but containment of the
    // small side = 4/4 = 1.0 — the doc-embedded-in-doc case
    val withSubset = corpus.union(
      Seq((5L, "the quick brown fox jumps over")).toDF("doc_id", "text"))
    val jacc = NearDup.exactJaccardPairs(withSubset, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!jacc.contains((0L, 5L)), "jaccard 0.33 must not pass the 0.5 gate")
    val cont = NearDup.containmentPairs(withSubset, "doc_id", "text", 3, 0.8)
      .select("doc_a", "doc_b", "cont_a", "cont_b")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(cont.contains((0L, 5L)), s"containment must flag the subset: $cont")
    assert(cont((0L, 5L))._2 == 1.0, "small side fully contained")
  }

  test("prefix-filtered Jaccard equals the plain inverted-index join") {
    // planted corpus
    val a = NearDup.exactJaccardPairs(corpus, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val b = NearDup.exactJaccardPairsPrefix(corpus, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(a == b)
    // driver testdata (500 docs, 25 planted near-dup pairs)
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val ea = NearDup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val eb = NearDup.exactJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(ea == eb && ea.size == 25)
  }

  test("stop-shingle cap (64) changes nothing on the driver corpus: every " +
    "capped call site mines the same pairs as the uncapped miner") {
    // The cap is a skew guard, not a semantic knob: on this corpus no
    // shingle is shared by > 64 docs, so the capped miner (what
    // q_t_corpus_filter / q_d_cross_source_pairs / q_d_lsh_recall's truth
    // side run) must return the exact uncapped pair set, jaccard included.
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val uncapped = NearDup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val capped = NearDup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocsPerShingle = Some(64))
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(capped == uncapped && capped.size == 25)
    // and the cap DOES bite when a shingle is hotter than the limit: with
    // cap=1 every shared shingle is a stop-shingle, so no pairs survive
    val none = NearDup.exactJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxDocsPerShingle = Some(1))
      .count()
    assert(none == 0L)
  }

  test("minhashLshPairs recovers the same pairs as exact Jaccard here") {
    val pairs = NearDup.minhashLshPairs(corpus, "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 4L), (1L, 4L)))
  }

  test("simhashPairs: exact dup at hamming 0, near-dup close, others far") {
    val pairs = NearDup.simhashPairs(corpus, "doc_id", "text", maxHamming = 6)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 4L)) == 0L)
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((0L, 3L)))
  }

  test("incrementalDedup flags delta docs against corpus and earlier batch docs only") {
    val corpusSide = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank tonight"), // corpus-internal near-dup of 0
      (2L, "completely different words describing a very unrelated subject matter entirely here now")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the old river bank today"), // dup of corpus 0 (and 1)
      (11L, "fresh new content that appears in this batch for the very first time ever"),
      (12L, "fresh new content that appears in this batch for the very first time ever"), // within-batch dup of 11
      (13L, "completely different words describing a very unrelated subject matter entirely here now") // dup of corpus 2
    ).toDF("doc_id", "text")
    val got = NearDup.incrementalDedup(corpusSide, delta, "doc_id", "text",
      n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("new_doc", "dup_of").as[(Long, Long)].collect().toSet
    // every new_doc is from the delta; the corpus-internal (0,1) pair is
    // NOT re-mined; 12 dups 11 (earlier batch doc), never the reverse
    assert(got.forall(_._1 >= 10L))
    assert(got.contains((10L, 0L)) && got.contains((13L, 2L)))
    assert(got.contains((12L, 11L)) && !got.contains((11L, 12L)))
    // 11 is first-in-batch and novel vs the corpus: never flagged
    assert(!got.exists(_._1 == 11L))
  }

  test("minhashLshPairs maxDocsPerBand: no-op under the cap; star pairs " +
    "keep CC groups intact on a hot bucket") {
    val tmpl = "shared template body that the hot crawl batch repeats many times over today"
    val docs6 = (Seq((9L, "fresh new content that appears in this batch for the very first time ever")) ++
      (0L to 5L).map(_ -> tmpl)).toDF("doc_id", "text")
    def mine(cap: Option[Int]) = NearDup.minhashLshPairs(docs6, "doc_id",
      "text", n = 3, k = 16, bands = 4, threshold = 0.5, maxDocsPerBand = cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exactPairs = mine(None)
    assert(mine(Some(100)) == exactPairs) // generous cap == exact path
    val starPairs = mine(Some(2))
    // 6 identical docs = one hot bucket per band: C(6,2)=15 exact pairs
    // collapse to 5 star pairs through the representative (0)
    assert(exactPairs.size == 15)
    assert(starPairs == (1L to 5L).map(x => (0L, x)).toSet)
    // and the downstream group collapse is IDENTICAL under both modes
    def groups(p: Set[(Long, Long)]) = NearDup.connectedComponents(
      p.toSeq.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(groups(exactPairs) == groups(starPairs))
  }

  test("incrementalDedup maxDocsPerBand: no-op under the cap, star-pairs " +
    "hot buckets through the representative, gate guarantee preserved") {
    val corpusSide = Seq(
      (0L, "shared template body that the hot crawl batch repeats many times over today"),
      (2L, "completely different words describing a very unrelated subject matter entirely here now")
    ).toDF("doc_id", "text")
    // a template page crawled 5x in ONE batch — all five land in the same
    // band bucket in every band (identical text => identical signature)
    val tmpl = "shared template body that the hot crawl batch repeats many times over today"
    val delta = (Seq((30L, "fresh new content that appears in this batch for the very first time ever")) ++
      (20L to 24L).map(_ -> tmpl)).toDF("doc_id", "text")
    def pairs(cap: Option[Int]) =
      NearDup.incrementalDedup(corpusSide, delta, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5, maxDocsPerBand = cap)
        .select("new_doc", "dup_of").as[(Long, Long)].collect().toSet
    val exact = pairs(None)
    // every bucket under a generous cap => capped path == exact path
    assert(pairs(Some(100)) == exact)
    val capped = pairs(Some(2))
    // the GATE answer (which delta docs are flagged) is identical: every
    // template replica is caught, the novel doc is not
    assert(capped.map(_._1) == exact.map(_._1))
    assert(capped.map(_._1) == Set(20L, 21L, 22L, 23L, 24L))
    // within the hot bucket, non-rep members pair with the rep (20) AND
    // — rep-mediated corpus verify (ADVICE r9) — with every corpus doc
    // the rep band-matched: their own bands never probe the corpus under
    // the cap, but the rep's match (20, 0) routes them to doc 0 too
    assert((21L to 24L).forall(x => capped.contains((x, 20L))))
    assert((21L to 24L).forall(x => capped.contains((x, 0L))))
    assert(capped.contains((20L, 0L)))
    // exact mode mines all k(k-1)/2 = 10 within-batch pairs + 5 corpus
    // probes; capped mode is 4 star pairs + 1 rep corpus probe + 4
    // rep-mediated member↔corpus pairs
    assert(exact.size == 15 && capped.size == 9)
    // the rep-mediated path adds recall, never pairs exact mode would
    // not have found (everything is exact-Jaccard verified)
    assert(capped.subsetOf(exact))
  }

  test("connectedComponents: transitive chains collapse into one group") {
    import spark.implicits._
    // chain 1-2, 2-3 (1 and 3 not directly paired) + isolated pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("doc_a", "doc_b")
    val got = NearDup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    // a longer chain still converges (diameter > 1 round)
    val chain = (1L to 10L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("doc_a", "doc_b")
    val got2 = NearDup.connectedComponents(chain, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got2.values.toSet == Set(1L) && got2.size == 10)
  }

  test("connectedComponents: driver union-find and distributed loop agree") {
    import spark.implicits._
    // r14: small pair lists collapse via driver union-find; the
    // label-propagation loop must produce the identical (node ->
    // component-min) map on the same graph. Mixed shapes: a long chain
    // (diameter stress), a star, an isolated pair, cross-links that merge
    // two half-built components late in the pair order.
    val pairs = ((1L to 12L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((50L, 53L), (50L, 51L), (50L, 52L), (70L, 71L),
        (53L, 12L), (51L, 50L))).toDF("src", "dst")
    def collect(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    val viaDriver = collect(NearDup.driverUnionFind(spark,
      pairs.as[(Long, Long)].collect(), org.apache.spark.sql.types.LongType))
    val viaLoop = collect(NearDup.labelPropagation(pairs, maxIter = 30))
    assert(viaDriver == viaLoop)
    // chain 1..12 linked to the 50-star via (53,12): one component
    assert(viaDriver((12L)) == 1L && viaDriver(53L) == 1L &&
      viaDriver(70L) == 70L && viaDriver(71L) == 70L)
  }

  test("minhash signature: sentinel for short docs, sensitivity to content") {
    val sig = (t: String) =>
      TextHashes.minhash(UTF8String.fromString(t), 3, 8).toLongArray().toSeq
    assert(sig("one two") == Seq.fill(8)(TextHashes.P))
    assert(sig("a b c d e") == sig("a b c d e"))
    assert(sig("a b c d e") != sig("a b c d f"))
  }

  test("hash family folds Unicode code points (oracle ord() semantics), " +
    "not UTF-8 bytes") {
    // every SQL oracle replays token/text hashes with ord(text[c]) —
    // code points. Pin the Scala side to the same alphabet with
    // non-ASCII text (é = U+00E9: one code point, two UTF-8 bytes).
    def cpFold(s: String): Long = {
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 31L + cp) % 2147483647L)
      h
    }
    val t = "héllo wörld €100" // 2-byte chars + a 3-byte euro sign
    assert(graft.functions.RollingHash.hash(UTF8String.fromString(t))
      == cpFold(t))
    // minhash: the 1-gram token hash of a non-ASCII token must equal the
    // code-point fold of that token (what the oracle's ord() computes)
    val tok = "café"
    val sig = TextHashes.minhash(UTF8String.fromString(s"$tok x y"), 1, 4)
      .toLongArray().toSeq
    val h = cpFold(tok)
    val expected = (0 until 4).map { j =>
      val a = ((j + 1L) * 2654435761L) % TextHashes.P
      val b = (j.toLong * 40503L * 65537L + 12345L) % TextHashes.P
      Seq(h, cpFold("x"), cpFold("y")).map(hh => (a * hh + b) % TextHashes.P).min
    }
    assert(sig == expected)
  }

  test("identical minhash under duplicated shingles (set semantics)") {
    val sig = (t: String) =>
      TextHashes.minhash(UTF8String.fromString(t), 3, 8).toLongArray().toSeq
    // both docs have shingle set {a b c, b c a, c a b}
    assert(sig("a b c a b c") == sig("a b c a b c a b c"))
  }

  test("lsh recall eval: internally consistent, full recall on planted pairs") {
    val dir = "/root/testdata/sf0.001"
    val Seq((nTrue, nCand, nHit, recall)) =
      SparkEntry.queries("q_d_lsh_recall")(spark, dir)
        .as[(Long, Long, Long, Double)].collect().toSeq
    assert(nHit <= nTrue && nHit <= nCand)
    assert(recall == math.round(nHit.toDouble / nTrue * 10000) / 10000.0)
    // a 16-hash/4-band family at Jaccard 0.5 has per-pair candidate
    // probability 1-(1-0.5^4)^4 ≈ 0.23 — but the PLANTED dups here are
    // far above 0.5, where the S-curve saturates; missing them all would
    // mean the signature or banding replay broke
    assert(nTrue > 0 && recall > 0.0)
  }

  test("boilerplate: fractions bounded, flag consistent, df threshold respected") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_d_boilerplate")(spark, dir)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(got.nonEmpty)
    got.foreach { case (_, nSh, nBoiler, frac, flagged) =>
      assert(nSh > 0 && nBoiler >= 0 && nBoiler <= nSh)
      assert(frac >= 0.0 && frac <= 1.0)
      assert(flagged == (nBoiler * 5 >= nSh))
    }
  }

  test("winnowing guarantee: a shared substring of k+w-1 chars yields a " +
      "shared fingerprint; disjoint texts share none") {
    val k = 16
    val w = 8
    def fps(s: String): Set[Long] =
      TextHashes.winnow(UTF8String.fromString(s), k, w)
        .toLongArray().toSet
    // shared block of exactly k + w - 1 = 23 chars, different surroundings
    val block = "THE-COMMON-PASSAGE-HERE" // 23 chars
    assert(block.length == k + w - 1)
    val a = "aaaaaaaaaaaaaaaaaaaaaaaaaaaa" + block + "bbbbbbbbbbbbbbbbbbbb"
    val b = "cccccccccccccccc" + block + "dddddddddddddddddddddddddddddddd"
    assert(fps(a).intersect(fps(b)).nonEmpty,
      "the winnowing guarantee must hold for a k+w-1 shared substring")
    // byte-disjoint alphabets cannot share a k-gram, hence no fingerprint
    val x = fps("abcdefghij" * 20)
    val y = fps("KLMNOPQRST" * 20)
    assert(x.intersect(y).isEmpty)
    // deterministic and sorted ascending (the oracle-replay contract)
    val f1 = TextHashes.winnow(UTF8String.fromString(a), k, w).toLongArray()
    assert(f1.toSeq == f1.sorted.toSeq && f1.distinct.length == f1.length)
    // short text (< k) fingerprints to the empty set, not null/crash
    assert(fps("tiny").isEmpty)
  }

  test("shingle index: one exchange feeds distinct, df-agg, join-back AND " +
      "the inverted-index self-join (all shingle-keyed hops exchange-free)") {
    // docShingles repartitions by `shingle` BEFORE the distinct, so every
    // downstream shingle-keyed hop reuses that single exchange. Assert it
    // on the boilerplate shape (df agg + join-back) and the jaccard
    // self-join: the ONLY exchanges in the pair-mining plan up to the
    // (doc_a, doc_b) grouping are the index build's own repartition and
    // the pair-key aggregation — the full string index is never
    // re-shuffled. Regression guard for the measured 70%-shuffle index
    // cost (SCALE.md "shingle_map vs shingle_index").
    // the index's own repartition exchange lives INSIDE the cached plan
    // (CacheScope.retain), so the consumer plans must show ZERO further
    // Exchange nodes on any shingle-keyed hop — the InMemoryTableScan
    // reports HashPartitioning(shingle) and every hop reuses it.
    // the plan printout echoes the cached relation's body once per
    // InMemoryTableScan reference, so dedupe exchanges by plan_id: the
    // index's own REPARTITION_BY_COL(shingle) is the only shingle-keyed
    // exchange anywhere, however many times the printout repeats it.
    def exchanges(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.collect() // let AQE finalize the plan before reading it
      df.queryExecution.executedPlan.toString.linesIterator
        .map(_.dropWhile(c => !c.isLetter))
        .filter(_.startsWith("Exchange "))
        // the AQE printout repeats nodes (initial plan + final plan) with
        // fresh plan_ids — identify an exchange by its partitioning only
        .map(_.replaceAll("\\[plan_id=\\d+\\]", "").take(120))
        .toSeq.distinct
    }
    try {
      val d = NearDup.docShingles(corpus, "doc_id", "text", 3)
      d.collect()
      assert(d.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        "index must be retained (its one exchange lives in the cached plan)")
      val freq = d.groupBy("shingle").agg(count(lit(1)).as("df"))
      val joined = d.join(freq, "shingle")
      val jEx = exchanges(joined)
      assert(jEx.length == 1 && jEx.head.contains("shingle") &&
          jEx.head.contains("REPARTITION_BY_COL"),
        s"df-agg + join-back must reuse the index's own repartition " +
          s"(zero further exchanges): $jEx")
      val pairs = d.alias("a").join(d.alias("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      val pEx = exchanges(pairs)
      assert(pEx.length == 2 && pEx.count(_.contains("shingle")) == 1,
        s"self-join must add ONLY the pair-key exchange — the string index " +
          s"is never re-shuffled: $pEx")
    } finally CacheScope.release(spark)
  }
}
