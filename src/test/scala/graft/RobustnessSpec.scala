package graft

import graft.vector.VectorSearch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the degenerate/hostile input contracts the two probe sweeps
  * established (SCALE.md r12g/r12h) as FAST regression tests — the full
  * sweeps (`DegenerateProbe` 428 runs, `HostileInputProbe` 214 runs)
  * stay runMain gates; these are the per-contract unit pins.
  */
class RobustnessSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))

  private val empty = vecs()

  test("embeddings scan validation: null / empty / off-dim vectors are " +
    "dropped at the scan, valid rows survive (r12h class 1)") {
    val dim = Tables.EmbeddingDim
    val tmp = java.nio.file.Files.createTempDirectory("robust-emb").toString
    vecs(
      (1L, Seq.fill(dim)(0.5f)),
      (2L, null),
      (3L, Seq.empty[Float]),
      (4L, Seq.fill(dim / 4)(0.5f)),
      (5L, Seq.fill(dim)(1.0f)))
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val kept = Tables(spark, tmp, "embeddings")
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 5L))
  }

  test("embeddings scan validation follows graft.embedding.dim — a valid " +
    "non-64-dim corpus is NOT silently filtered to zero rows") {
    val tmp = java.nio.file.Files.createTempDirectory("robust-dim").toString
    vecs((1L, Seq.fill(16)(0.5f)), (2L, Seq.fill(64)(0.5f)))
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    spark.conf.set("graft.embedding.dim", "16")
    try {
      val kept = Tables(spark, tmp, "embeddings")
        .select("vec_id").as[Long].collect().toSeq
      assert(kept == Seq(1L)) // the 16-dim row survives, the 64-dim drops
    } finally spark.conf.unset("graft.embedding.dim")
  }

  test("embeddings dim misconfiguration fails LOUDLY, not as silent " +
    "drop-all (ADVICE r12): a corpus whose rows ALL disagree with the " +
    "configured dim throws at load instead of reading as zero rows") {
    val tmp = java.nio.file.Files.createTempDirectory("robust-dim-mis").toString
    vecs((1L, Seq.fill(32)(0.5f)), (2L, Seq.fill(32)(0.25f)))
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // default dim (64) matches no row -> loud failure naming both sides
    val e = intercept[IllegalStateException] {
      Tables(spark, tmp, "embeddings").collect()
    }
    assert(e.getMessage.contains("graft.embedding.dim") &&
      e.getMessage.contains("32"))
    // correctly configured, the same corpus reads fine
    spark.conf.set("graft.embedding.dim", "32")
    try assert(Tables(spark, tmp, "embeddings").count() == 2L)
    finally spark.conf.unset("graft.embedding.dim")
  }

  test("a corpus whose HEAD is all-malformed but that contains valid " +
    "rows deeper in still loads (the dim guard's second probe, " +
    "review r13) — only a corpus with NO matching row throws") {
    val dim = Tables.EmbeddingDim
    val tmp = java.nio.file.Files.createTempDirectory("robust-dim-head").toString
    val rows = (1L to 80L).map(i => (i, Seq.fill(16)(0.1f))) :+
      (99L, Seq.fill(dim)(0.5f))
    vecs(rows: _*).withColumn("label", lit(0))
      .coalesce(1) // one file, head order preserved: 80 bad THEN 1 valid
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val kept = Tables(spark, tmp, "embeddings")
      .select("vec_id").as[Long].collect().toSeq
    assert(kept == Seq(99L))
  }

  test("ChaosPlugin key selection is deterministic and tracks the " +
    "configured fraction (the retry gate's injection is replayable)") {
    val prev = ChaosPlugin.fraction
    try {
      ChaosPlugin.fraction = 1.0 / 3
      val keys = (0L until 30000L)
      val hits = keys.count(ChaosPlugin.shouldFail)
      // deterministic: same keys -> same verdicts
      assert(keys.count(ChaosPlugin.shouldFail) == hits)
      assert(math.abs(hits.toDouble / keys.size - 1.0 / 3) < 0.02,
        s"fraction drift: ${hits.toDouble / keys.size}")
      ChaosPlugin.fraction = 0.0
      assert(!keys.take(100).exists(ChaosPlugin.shouldFail))
      ChaosPlugin.fraction = 1.0
      assert(keys.take(100).forall(ChaosPlugin.shouldFail))
    } finally ChaosPlugin.fraction = prev
  }

  test("weighted sample: a NEGATIVE weight (rotten n_chars metadata) is " +
    "probability 0, not a guaranteed win via a sign-flipped key") {
    val dir = docsDir(
      (1L, "some text here", "en", "a", 14L),
      (2L, "bad metadata", "en", "a", -5L),
      (3L, "more words", "en", "b", 10L))
    val rows = SparkEntry.queries("q_s_weighted_sample")(spark, dir)
      .select("doc_id", "es_key").collect()
    assert(rows.last.getLong(0) == 2L && rows.last.isNullAt(1))
  }

  test("seedCentroids over an empty slice is empty; every ANN kernel " +
    "degrades to an empty result with its normal schema (r12g class 1)") {
    assert(VectorSearch.seedCentroids(empty, "vec_id", "embedding", 16).isEmpty)
    assert(VectorSearch.trainCentroids(empty, "vec_id", "embedding", 16, 2).isEmpty)

    val pq = VectorSearch.pqTopK(empty, empty, "vec_id", "embedding", 5, 4, 8)
    assert(pq.columns.toSeq ==
      Seq("vec_id", "code0", "code1", "approx_ip", "sim") && pq.count() == 0)

    val ivf = VectorSearch.ivfTopK(empty, empty, "vec_id", "embedding", 5, 4, 2)
    assert(ivf.columns.toSeq == Seq("vec_id", "sim") && ivf.count() == 0)

    val ivfpq = VectorSearch.ivfPqTopK(empty, empty, "vec_id", "embedding",
      5, 4, 2, 4, 8)
    assert(ivfpq.columns.toSeq ==
      Seq("vec_id", "cell", "code0", "code1", "approx_ip", "sim") &&
      ivfpq.count() == 0)

    // nonempty corpus, empty QUERY side — the one-row-table shape
    val corpus = vecs((7L, Seq.fill(4)(1.0f)))
    assert(VectorSearch.pqTopK(corpus, empty, "vec_id", "embedding",
      5, 4, 8).count() == 0)
    assert(VectorSearch.cosineTopK(corpus, empty, "vec_id", "embedding",
      5).count() == 0)
  }

  test("best_cell over zero centroids assigns null — cell joins and " +
    "IN-probes then match nothing, like the oracle's NULL scalar subquery") {
    val out = vecs((1L, Seq.fill(4)(1.0f)))
      .select(graft.functions.VectorExpressions.best_cell(
        col("embedding"), Array.empty, Array.empty).as("cell"))
      .collect()
    assert(out.length == 1 && out(0).isNullAt(0))
  }

  test("semDedupPairs / incrementalSemDedup with an empty quantizer " +
    "mine zero pairs instead of throwing (r12g class 1)") {
    val corpus = vecs((1L, Seq.fill(4)(1.0f)), (2L, Seq.fill(4)(1.0f)))
    assert(VectorSearch.semDedupPairs(corpus, "vec_id", "embedding",
      Array.empty, 0.5).count() == 0)
    assert(VectorSearch.incrementalSemDedup(corpus, corpus, "vec_id",
      "embedding", Array.empty, 0.5).count() == 0)
  }

  test("indicator fold drops null ticks at the typed boundary instead of " +
    "an encoder NOT_NULL violation (r12h class 2)") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val df = Seq(
      ("A", t(1), 1L, Option(10.0)),
      ("A", t(2), 2L, None), // the bad tick
      ("A", t(3), 3L, Option(12.0)))
      .toDF("k", "ts", "id", "v")
    val out = graft.ts.Indicators.compute(df, "k", "ts", "id",
      "v", "v", "v", "v")
    assert(out.count() == 2) // null tick dropped, fold unbroken
    assert(out.agg(min("close"), max("close")).as[(Double, Double)]
      .head() == ((10.0, 12.0)))
  }

  test("sub-window series never reaches the forward pass's exact-length " +
    "require; complete windows still predict (r12g class 5)") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val S = graft.serve.LstmForward.S
    val short = (1 to S - 1).map(i => ("A", t(i), i.toLong, i.toDouble))
      .toDF("k", "ts", "id", "v")
    val outShort = serve.Serving.predictLatestWith(short, "k", "ts", "id",
      "v", S, 300, "m", graft.serve.LstmForward.forward)
    assert(outShort.count() == 0)

    val full = (1 to S).map(i => ("A", t(i), i.toLong, i.toDouble))
      .toDF("k", "ts", "id", "v")
    val outFull = serve.Serving.predictLatestWith(full, "k", "ts", "id",
      "v", S, 300, "m", graft.serve.LstmForward.forward)
    assert(outFull.count() > 0)
  }

  private def docsDir(rows: (Long, String, String, String, Long)*): String = {
    val tmp = java.nio.file.Files.createTempDirectory("robust-docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("weighted sample: a zero-weight doc (n_chars = 0) gets a null key " +
    "and sorts behind every weighted doc — no ANSI divide-by-zero " +
    "(r12h class 3)") {
    val dir = docsDir(
      (1L, "some text here", "en", "a", 14L),
      (2L, "", "en", "a", 0L), // zero weight
      (3L, "more words", "en", "b", 10L))
    val rows = SparkEntry.queries("q_s_weighted_sample")(spark, dir)
      .select("doc_id", "es_key").collect()
    // null key = sampling probability 0: behind all k weighted docs, so
    // it enters only when the corpus itself has fewer than k candidates
    assert(rows.last.getLong(0) == 2L && rows.last.isNullAt(1))
    assert(rows.init.forall(r => !r.isNullAt(1)))
  }

  test("BPE fit/apply skip pretokens over the 1024-char cap — one " +
    "pathological run cannot hold the tokenizer pass (r12h class 4)") {
    val giant = "z" * 5000
    val dir = docsDir(
      (1L, "aa ab aa ab aa", "en", "a", 14L),
      (2L, s"aa $giant ab", "en", "b", 5006L))
    val t0 = System.nanoTime()
    val out = SparkEntry.queries("q_t_bpe_apply")(spark, dir).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // the capped word contributes nothing; the mined merges come from the
    // short words and both sources still report
    assert(out.map(_.getAs[String]("source")).toSet == Set("a", "b"))
    // n_chars counts only tokenized (kept) words: source b keeps "aa","ab"
    val nb = out.find(_.getAs[String]("source") == "b").get
    assert(nb.getAs[Long]("n_chars") == 4L)
    assert(secs < 60.0, s"capped BPE apply took $secs s")
    CacheScope.release(spark)
  }

  test("PII scrub: the anchored email scan counts and replaces exactly " +
    "what the plain pattern does, and one 100k-char token stays linear") {
    import graft.queries.CurationQueries.{emailRe, emailScanRe}
    val plain = java.util.regex.Pattern.compile(emailRe)
    val scan = java.util.regex.Pattern.compile(emailScanRe)
    def count(p: java.util.regex.Pattern, t: String) = {
      val m = p.matcher(t); var n = 0; while (m.find()) n += 1; n
    }
    val rnd = new scala.util.Random(11)
    val alphabet = "ab1.-_%+@@ x!"
    val adjacent = Seq("a@b.com1x@c.org", "a@b.coma@b.com", "x.y@z.io.w@v.io",
      "a@b.cc@d.ee", "..a@b.cc", "@@a.bc", "a@b.c", "-a@b.cc_", "",
      "text contact user7@example.com ref 55433")
    val cases = adjacent ++ Iterator.fill(200000)(
      Iterator.fill(rnd.nextInt(24))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString)
    val diffs = cases.filter(t => count(plain, t) != count(scan, t) ||
      plain.matcher(t).replaceAll("<EMAIL>") != scan.matcher(t).replaceAll("<EMAIL>"))
    assert(diffs.isEmpty, s"patterns disagree on: ${diffs.take(5)}")

    val dir = docsDir((1L, s"lead ${"x" * 100000} tail", "en", "a", 100010L))
    val t0 = System.nanoTime()
    val row = SparkEntry.queries("q_t_pii_scrub")(spark, dir).collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    assert(row.getAs[Int]("n_emails") == 1)
    assert(row.getAs[String]("scrubbed").endsWith("contact <EMAIL> ref <NUM>"))
    assert(secs < 60.0, s"PII scrub over a 100k-char token took $secs s")
  }

  test("healthReport over a zero-row metrics slice reports degraded with " +
    "null ratios, not an ANSI divide-by-zero (r12g class 3)") {
    val m = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(0L, 0L, 0L, 0L)),
      graft.streaming.Observability.metricsSchema)
    val r = graft.streaming.Observability.healthReport(m).collect()(0)
    assert(r.getAs[String]("status") == "degraded")
    assert(r.isNullAt(r.fieldIndex("corrupt_ratio")))
  }
}
