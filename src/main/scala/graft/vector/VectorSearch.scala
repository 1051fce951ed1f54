package graft.vector

import graft.dedup.NearDup
import graft.functions.VectorExpressions.{cosine_sim, lsh_signature}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, mirroring what a 100 TB training-data pipeline needs:
  *  - `cosineTopK`: exact brute force — broadcast the (single) query
  *    vector, one map-only cosine pass, global top-k via orderBy+limit
  *    (Catalyst plans TakeOrderedAndProject: per-partition heaps + a k-row
  *    driver merge, never a full sort/shuffle of the corpus).
  *  - `annCandidates`/`annTopK`: LSH-banded approximate path — one
  *    sign-random-projection signature per vector, split into bands;
  *    candidates are vectors sharing ANY band with the query (the classic
  *    banding OR-amplification), then exact cosine rerank on the small
  *    candidate set. The band join shuffles on (band, band_value) — never
  *    all-pairs, which is the property that survives a 100× scale-up.
  */
object VectorSearch extends Serializable {

  // Degenerate-input contract (DegenerateProbe sweeps every query at
  // zero-row and one-row scale): a 100 TB ingest routinely presents an
  // empty slice — a shard whose filter matched nothing, a day with no
  // fills — and every kernel that lifts driver-side scalars (the query
  // vector, a codebook) must degrade to an EMPTY result with its normal
  // output schema, never throw. That is also what the ANSI oracles
  // replay: every scalar the driver lifts is a scalar subquery there,
  // and a scalar subquery over zero rows is NULL, which joins/filters
  // to an empty result.

  /** First vector of `query`, or None when the frame is empty. */
  private def headVecOpt(query: DataFrame, vecCol: String): Option[Seq[Float]] = {
    val spark = query.sparkSession
    import spark.implicits._
    query.select(col(vecCol)).as[Seq[Float]].take(1).headOption
  }

  /** Empty PQ-family result: `idCol`, the long `codeCols`, then
    * `approx_ip` and `sim` — the [[pqTopKWith]] schema with code0/code1,
    * the [[ivfPqTopK]] one with cell/code0/code1.
    */
  private def emptyCodedResult(vecs: DataFrame, idCol: String,
      codeCols: String*): DataFrame =
    vecs.select(col(idCol) +: codeCols.map(lit(0L).as(_)) :+
      lit(0.0).as("approx_ip") :+ lit(0.0).as("sim"): _*).limit(0)

  /** Exact cosine top-k of `vecs` against the single row in `query`. */
  def cosineTopK(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__qv")))
    vecs.crossJoin(q)
      .select(col(idCol),
        (round(cosine_sim(col(vecCol), col("__qv")), 6) + lit(0.0)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Adds `band` (0..nBands-1) and `band_val` columns: the signature is
    * computed ONCE per row (one codegen'd expression), then exploded into
    * nBands bit-slices. Output has nBands rows per input row.
    */
  def withLshBands(df: DataFrame, vecCol: String, nBands: Int,
      bitsPerBand: Int): DataFrame = {
    val sig = lsh_signature(col(vecCol), nBands * bitsPerBand)
    df.withColumn("__sig", sig)
      .select(col("*"), explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("band_val",
        expr(s"shiftright(__sig, $bitsPerBand * band)")
          .bitwiseAND(lit((1L << bitsPerBand) - 1)))
      .drop("__sig")
  }

  /** Distinct ids sharing at least one LSH band with the query vector. */
  def annCandidates(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, nBands: Int, bitsPerBand: Int): DataFrame = {
    val banded = withLshBands(vecs, vecCol, nBands, bitsPerBand)
    val qBands = broadcast(
      withLshBands(query, vecCol, nBands, bitsPerBand)
        .select(col("band").as("__qband"), col("band_val").as("__qval")))
    banded
      .join(qBands, col("band") === col("__qband") &&
        col("band_val") === col("__qval"))
      .select(col(idCol), col(vecCol)).distinct()
  }

  /** LSH-bucketed ANN: candidate generation + exact cosine rerank. */
  def annTopK(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int, nBands: Int, bitsPerBand: Int): DataFrame =
    cosineTopK(
      annCandidates(vecs, query, idCol, vecCol, nBands, bitsPerBand),
      query, idCol, vecCol, k)

  /** BATCH ANN: top-k per query for a whole TABLE of query vectors in one
    * plan. The single-query path broadcasts its one vector; with 10^6
    * queries that stops being a broadcast and becomes the classic banded
    * EQUI-JOIN of two signed corpora — both sides signature once
    * (map-only), shuffle on (band, band_val), exact cosine on collisions
    * only, per-query top-k via one window. This is the
    * all-queries-at-once serving shape (e.g. embed a day of new docs,
    * find each one's neighbors in the corpus).
    */
  def annBatchTopK(vecs: DataFrame, queries: DataFrame, idCol: String,
      qidCol: String, vecCol: String, k: Int, nBands: Int,
      bitsPerBand: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val banded = withLshBands(vecs, vecCol, nBands, bitsPerBand)
      .select(col("band"), col("band_val"), col(idCol), col(vecCol))
    val qBanded = withLshBands(
      queries.select(col(qidCol), col(vecCol).as("__qvec")),
      "__qvec", nBands, bitsPerBand)
      .select(col("band"), col("band_val"), col(qidCol), col("__qvec"))
    val cand = banded.join(qBanded, Seq("band", "band_val"))
      .where(col(idCol) =!= col(qidCol)) // corpus contains the queries here
      .select(col(qidCol), col(idCol), col(vecCol), col("__qvec"))
      .distinct()
    val w = Window.partitionBy(qidCol)
      .orderBy(col("sim").desc, col(idCol))
    cand
      .withColumn("sim",
        round(cosine_sim(col(vecCol), col("__qvec")), 6) + lit(0.0))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(qidCol), col(idCol), col("sim"), col("rank"))
  }

  // ---- IVF (inverted-file) ANN ------------------------------------------

  /** Driver-side double cosine with ascending-index accumulation over
    * `b`'s length (same numeric contract as the codegen'd
    * [[graft.functions.CosineSim]]; zero norm → 0.0) — the probe picks.
    */
  private def cosSeq(a: collection.Seq[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < b.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Driver-side double dot product, the same ascending fold over `b`'s
    * length — the ADC table entries, which DuckDB's list_reduce replays
    * bit-exactly.
    */
  private def dotSeq(a: collection.Seq[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < b.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** IVF ANN: coarse quantizer cells → probe the closest `nProbe` cells →
    * exact rerank of their members only.
    *
    * The quantizer here is deterministic (centroids = the `nCells`
    * lowest-id vectors) so the whole index build is replayable in ANSI
    * SQL; a production build trains them with k-means|| — everything
    * downstream is unchanged. Cell ASSIGNMENT is map-only: centroids ride
    * into the codegen'd [[graft.functions.BestCell]] expression as a
    * reference array (MB-scale for ≤64k cells, the J3 posture), so the
    * corpus is never joined against the centroid table — the n×nCells
    * shuffle a join-based argmax would cost at 10^9 vectors is the
    * difference between IVF working and not working at scale — and the
    * assignment pass stays inside whole-stage codegen (no ScalaUDF Row
    * boxing).
    */
  def ivfTopK(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val centroids = seedCentroids(vecs, idCol, vecCol, nCells)
    ivfTopKWith(vecs, query, idCol, vecCol, k, nProbe, centroids)
  }

  /** Deterministic quantizer seed: the `nCells` lowest-id vectors (what
    * makes the whole index build replayable in ANSI SQL). [[trainCentroids]]
    * refines these with Lloyd iterations for a production index.
    * May be EMPTY (empty corpus slice) — every consumer then degrades to
    * an empty result per the degenerate-input contract above; `best_cell`
    * over zero centroids assigns null, matching the oracle's NULL scalar
    * subquery.
    */
  def seedCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      nCells: Int): Array[(Long, Array[Float])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .where(col(idCol) < nCells)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (i, v) => (i, v.toArray) }
  }

  /** Lloyd k-means refinement of the IVF coarse quantizer (cosine
    * assignment, per-dimension mean update). Per iteration: one map-only
    * assignment pass via the codegen'd [[graft.functions.BestCell]]
    * expression, then ONE partial-aggregated shuffle keyed on
    * (cell, dim) — never a corpus×centroids join. The update collect is
    * O(nCells·dim) rows (bounded by config, the J3 posture). Cells that
    * lose all members keep their previous centroid. Deterministic: fixed
    * seed, fixed iteration count, no RNG.
    */
  def trainCentroids(vecs: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int): Array[(Long, Array[Float])] = {
    // NOT retained here, deliberately (measured, r8): the loop's eager
    // jobs re-scan `vecs` per iteration, but when that frame is a bare
    // parquet column the vectorized scan re-read is FASTER than paying a
    // MEMORY_AND_DISK cache build plus InMemoryTableScan deserialization
    // (q_e_ivf_trained_topk: 1.47 s uncached vs 1.66 s cached). Callers
    // whose training input embeds real per-row compute (pqTopKTrained's
    // subspace slices) retain it THEMSELVES so the work runs once.
    // r14: the refinement loop is an ITERATIVE section on a fixed
    // O(nCells·dim) agg shape — AQE's per-stage materialization jobs are
    // serial driver walls with nothing to re-plan (IterScope contract,
    // same trade as the CC loop; measured 19 → ~13 jobs on the PQ twin).
    graft.ops.IterScope.noAqe(vecs.sparkSession) {
    var cents = seedCentroids(vecs, idCol, vecCol, nCells)
    if (cents.isEmpty) return cents // empty slice: nothing to refine
    for (_ <- 0 until iters) {
      val assigned = vecs.withColumn("__cell",
        graft.functions.VectorExpressions.best_cell(
          col(vecCol), cents.map(_._2), cents.map(_._1)))
      val means = assigned
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("__cell", "pos").agg(avg(col("v")).as("m"))
        .collect() // O(nCells * dim)
        .groupBy(_.getLong(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        }
      cents = cents.map { case (id, old) => (id, means.getOrElse(id, old)) }
    }
    cents
    }
  }

  // ---- PQ (product quantization) ANN ------------------------------------

  /** Product-quantization ANN — the memory tier BELOW IVF: the vector is
    * split into two subspaces, each half encoded as the id of its nearest
    * codebook entry (cosine assignment via the same codegen'd
    * [[graft.functions.BestCell]] pass as IVF), and queries are answered
    * from the CODES alone through an ADC (asymmetric distance computation)
    * lookup table — at 10^9 vectors the scored working set is 2 small ints
    * per vector instead of dim×4 bytes, and the scoring pass is two map
    * lookups + an add, no per-row dot product.
    *
    *  - codebooks: deterministic seed = subspace slices of the lowest-id
    *    vectors (the [[seedCentroids]] convention that keeps the whole
    *    index replayable in ANSI SQL; production refines with
    *    [[trainCentroids]] per subspace — downstream unchanged);
    *  - ADC table: dot(query-half, codebook-entry) per (subspace, code),
    *    O(nCodes·dim) driver work, shipped as a literal map into codegen;
    *  - approximate score = Σ over subspaces of the table entry — additive
    *    because it approximates the full inner product ⟨q, v̂⟩;
    *  - shortlist: top-`rerank` by (approx score, id) via
    *    TakeOrderedAndProject (per-partition heaps, no global sort);
    *  - exact cosine rerank of the shortlist only → final top-k.
    */
  def pqTopK(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int, nCodes: Int, rerank: Int): DataFrame = {
    val qv0 = headVecOpt(query, vecCol) match {
      case Some(v) => v
      case None => return emptyCodedResult(vecs, idCol, "code0", "code1")
    }
    val dim0 = qv0.length
    require(dim0 % 2 == 0, s"PQ with 2 subspaces needs an even dim, got $dim0")
    val h0 = dim0 / 2
    val cents = seedCentroids(vecs, idCol, vecCol, nCodes)
    pqTopKWith(vecs, query, idCol, vecCol, k, rerank,
      cents.map(_._1), cents.map(_._2.slice(0, h0)),
      cents.map(_._2.slice(h0, dim0)))
  }

  /** PQ fit/apply: Lloyd-train each subspace codebook independently (the
    * production recipe — per-half k-means beats slicing full-vector
    * centroids because the halves' geometry differs), then the standard
    * encode/ADC/rerank. Training cost per subspace per round: one
    * codegen'd assignment pass + one (cell, dim/2) partial-agg shuffle;
    * the update collect is O(nCodes·dim/2) — config-sized, like IVF.
    */
  def pqTopKTrained(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int, nCodes: Int, rerank: Int,
      iters: Int): DataFrame = {
    val qv = headVecOpt(query, vecCol) match {
      case Some(v) => v
      case None => return emptyCodedResult(vecs, idCol, "code0", "code1")
    }
    val dim = qv.length
    require(dim % 2 == 0, s"PQ with 2 subspaces needs an even dim, got $dim")
    val half = dim / 2
    // r14 optimization (guide §2.4/§1.2): the two subspace trainings are
    // independent Lloyd loops over the SAME corpus rows — fused, each
    // round is ONE scan + ONE (subspace, cell, pos)-keyed partial-agg
    // shuffle + ONE O(2·nCodes·dim/2) collect instead of two serial
    // per-subspace loops (and one seed collect of full vectors, sliced on
    // the driver, replaces two). Per-subspace math is unchanged: every
    // (sub, cell, pos) mean averages exactly the rows the split loops
    // averaged, and the float32 quantization absorbs partial-agg
    // summation-order ulps exactly as before (trainCentroids contract).
    // The r8 slice caches disappear with the second pass over them —
    // the fused round reads the bare parquet vector column, which
    // trainCentroids' own doc measured FASTER than a computed cache.
    // Training rounds are an ITERATIVE section on a fixed O(nCodes·dim)
    // agg shape — AQE's per-stage materialization jobs are pure serial
    // driver walls here (IterScope contract; the CC loop trade).
    val (cb0F, cb1F) = graft.ops.IterScope.noAqe(vecs.sparkSession) {
    val seeds = seedCentroids(vecs, idCol, vecCol, nCodes)
    var cb0 = seeds.map { case (id, v) => (id, v.slice(0, half)) }
    var cb1 = seeds.map { case (id, v) => (id, v.slice(half, dim)) }
    if (seeds.nonEmpty) {
      for (_ <- 0 until iters) {
        val assigned = vecs
          .withColumn("__c0", graft.functions.VectorExpressions.best_cell(
            slice(col(vecCol), 1, half), cb0.map(_._2), cb0.map(_._1)))
          .withColumn("__c1", graft.functions.VectorExpressions.best_cell(
            slice(col(vecCol), half + 1, half), cb1.map(_._2), cb1.map(_._1)))
        val means = assigned
          .select(col("__c0"), col("__c1"),
            posexplode(col(vecCol)).as(Seq("pos", "v")))
          .select(
            when(col("pos") < half, lit(0)).otherwise(lit(1)).as("sub"),
            when(col("pos") < half, col("__c0")).otherwise(col("__c1"))
              .as("cell"),
            when(col("pos") < half, col("pos")).otherwise(col("pos") - half)
              .as("p"),
            col("v"))
          .groupBy("sub", "cell", "p").agg(avg(col("v")).as("m"))
          .collect() // O(2 * nCodes * dim/2)
        def upd(cb: Array[(Long, Array[Float])], sub: Int) = {
          val m = means.filter(_.getInt(0) == sub)
            .groupBy(_.getLong(1))
            .map { case (cell, rs) =>
              cell -> rs.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat)
            }
          cb.map { case (id, old) => (id, m.getOrElse(id, old)) }
        }
        cb0 = upd(cb0, 0)
        cb1 = upd(cb1, 1)
      }
    }
    (cb0, cb1)
    }
    pqTopKWith(vecs, query, idCol, vecCol, k, rerank,
      cb0F.map(_._1), cb0F.map(_._2), cb1F.map(_._2))
  }

  /** PQ encode/ADC/rerank against explicit per-subspace codebooks (seeded
    * or Lloyd-trained — everything downstream is identical).
    */
  def pqTopKWith(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int, rerank: Int, ids: Array[Long],
      cb0: Array[Array[Float]], cb1: Array[Array[Float]]): DataFrame = {
    val qv = headVecOpt(query, vecCol) match {
      case Some(v) if ids.nonEmpty => v
      // empty query or codebook
      case _ => return emptyCodedResult(vecs, idCol, "code0", "code1")
    }
    val dim = qv.length
    require(dim % 2 == 0, s"PQ with 2 subspaces needs an even dim, got $dim")
    val half = dim / 2
    val q0 = qv.slice(0, half); val q1 = qv.slice(half, dim)
    def tableMap(cb: Array[Array[Float]], qh: Seq[Float]) =
      map(ids.zip(cb).flatMap { case (id, c) =>
        Seq(lit(id), lit(dotSeq(qh, c))) }: _*)
    val enc = vecs
      .withColumn("code0", graft.functions.VectorExpressions.best_cell(
        slice(col(vecCol), 1, half), cb0, ids))
      .withColumn("code1", graft.functions.VectorExpressions.best_cell(
        slice(col(vecCol), half + 1, half), cb1, ids))
      .withColumn("__approx",
        element_at(tableMap(cb0, q0), col("code0")) +
          element_at(tableMap(cb1, q1), col("code1")))
    val shortlist = enc.orderBy(col("__approx").desc, col(idCol)).limit(rerank)
    val q = broadcast(query.select(col(vecCol).as("__qv")))
    shortlist.crossJoin(q)
      .select(col(idCol), col("code0"), col("code1"),
        (round(col("__approx"), 6) + lit(0.0)).as("approx_ip"),
        (round(cosine_sim(col(vecCol), col("__qv")), 6) + lit(0.0)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF probe-and-rerank against an explicit centroid table (seeded or
    * k-means-trained — everything downstream is identical).
    */
  def ivfTopKWith(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      centroids: Array[(Long, Array[Float])]): DataFrame = {
    val cents = centroids.map(_._2)
    val ids = centroids.map(_._1)

    // quantizer emptiness is known on the driver — check it BEFORE paying
    // the query-side take(1) job (ADVICE r12)
    if (centroids.isEmpty)
      return cosineTopK(vecs.limit(0), query.limit(0), idCol, vecCol, k)
    val qv = headVecOpt(query, vecCol) match {
      case Some(v) => v
      // empty query: no probeable cells, empty top-k
      case None => return cosineTopK(vecs.limit(0), query.limit(0),
        idCol, vecCol, k)
    }
    val probed = centroids.map { case (cid, c) => (cid, cosSeq(qv, c)) }
      .sortBy { case (cid, s) => (-s, cid) }.take(nProbe).map(_._1)

    val cand = vecs
      .withColumn("__cell",
        graft.functions.VectorExpressions.best_cell(col(vecCol), cents, ids))
      .where(col("__cell").isin(probed: _*))
    cosineTopK(cand, query, idCol, vecCol, k)
  }

  /** Cell assignment shared by the SemDeDup paths: one stateless codegen'd
    * BestCell map pass (centroids ride in as a literal reference array —
    * the corpus is never joined against the centroid table).
    */
  private def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Long, Array[Float])]): DataFrame =
    df.select(col(idCol), col(vecCol),
      graft.functions.VectorExpressions.best_cell(
        col(vecCol), centroids.map(_._2), centroids.map(_._1)).as("cell"))

  /** Within-corpus SemDeDup pair mining: k-means-assign every embedding to
    * a coarse cell, exact-cosine pairs ONLY within a cell (O(Σ_c n_c²)
    * with nCells sized ∝ corpus — never corpus², the published recipe's
    * scale contract). Output: (vec_a, vec_b, sim) with vec_a < vec_b and
    * sim ≥ threshold — feeds [[graft.dedup.NearDup.connectedComponents]].
    *
    * `maxPerCell` is the HOT-CELL star cap (VERDICT r10 #1) — the exact
    * analog of `NearDup.maxDocsPerBand`, and like it NOT optional at scale
    * on replica-heavy input: the "constant expected cell size" premise
    * breaks adversarially (2 M exact-copy vectors collapse into 1000-
    * cliques per cell; the uncapped self-join holds ~1e9 true candidates —
    * killed at ~30 min in the r10b 1000× stress, output-quadratic). With
    * the cap, cells over `cap` members pair each member against the cell
    * REPRESENTATIVE (min id) only — O(n_c) star pairs, all exact-cosine
    * verified, so zero false positives. What the cap LOSES, precisely:
    * within-cell pair completeness — x↔y in a hot cell is reported only
    * through the representative, so two members that dup each other but
    * NOT the representative lose their pair (and, downstream, can split a
    * CC group). That is the same documented trade the MinHash star cap
    * makes; exact upstream dedup (q_d_exact_dedup's hash-groupBy) removes
    * the identical-vector cliques that make a cell hot in the first
    * place. Default None = every pair, the oracle-replayed contract.
    */
  def semDedupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Long, Array[Float])], threshold: Double,
      maxPerCell: Option[Int] = None): DataFrame = {
    // retained: the self-join's two sides must not re-evaluate the
    // assignment pass (the r3 CC 203× lesson)
    val asg = graft.CacheScope.retain(
      assignCells(vecs, idCol, vecCol, centroids))
    def cellPairs(df: DataFrame) =
      NearDup.selfPairs(df, Seq("cell"), idCol)((a, b) => Seq(
        a(idCol).as("vec_a"), b(idCol).as("vec_b"),
        (round(cosine_sim(a(vecCol), b(vecCol)), 6) + lit(0.0)).as("sim")))
    val pairs = maxPerCell match {
      case None => cellPairs(asg)
      case Some(c) =>
        // one stats row per cell: small, so broadcast
        val (cold, hot) = NearDup.splitHot(asg, Seq("cell"), idCol, c,
          broadcastStats = true)
        val full = cellPairs(cold)
        // rep = min id of the cell, so vec_a = rep < member always holds
        val reps = hot.where(col(idCol) === col("__rep"))
          .select(col("cell"), col(idCol).as("__repid"),
            col(vecCol).as("__repvec"))
        val star = hot.where(col(idCol) =!= col("__rep")).alias("m")
          .join(broadcast(reps), Seq("cell"))
          .select(col("__repid").as("vec_a"), col(s"m.$idCol").as("vec_b"),
            (round(cosine_sim(col("__repvec"), col(s"m.$vecCol")), 6)
              + lit(0.0)).as("sim"))
        full.unionByName(star)
    }
    pairs.where(col("sim") >= threshold)
  }

  /** INCREMENTAL SemDeDup — the embedding twin of the MinHash/winnow
    * ingest gates (`NearDup.incrementalDedup`/`incrementalWinnow`): a
    * batch of arriving embeddings is checked against the existing
    * cell-indexed corpus without ever comparing corpus×corpus.
    *
    * Scale shape:
    *  1. cell assignment is the stateless codegen'd BestCell map pass on
    *     BOTH sides (the corpus side is pre-assigned state in production
    *     — a table partitioned by cell, kept fresh by StreamingCentroids);
    *  2. the corpus is probed with the BROADCAST delta (cell-equi join):
    *     never shuffled, never self-joined;
    *  3. within-batch dups are a delta-only self-join on cell.
    *
    * Pairwise cosine happens only inside a shared cell — SemDeDup's
    * O(Σ n_c·δ_c) contract, with δ the (small) batch. Output:
    * (new_vec, dup_of, sim) for every within-cell pair at `sim ≥
    * threshold`, `new_vec` always from the delta.
    *
    * `maxPerCell` is the within-batch HOT-CELL star cap (VERDICT r10 #1,
    * the [[semDedupPairs]] knob applied to the DELTA side) — NOT optional
    * at scale on dup-heavy batches: a template embedding arriving 100k×
    * in one batch lands its copies in ONE cell, and the uncapped a<b
    * delta self-join emits k(k−1)/2 true candidates (the r10b 1000×
    * delta≈corpus stress was killed at ~30 min with ~1e9 outstanding).
    * With the cap, a delta cell over `cap` members:
    *  - pairs each member against the cell representative (min id) ONLY
    *    — O(δ_c) star pairs, exact-cosine verified;
    *  - the representative ALONE probes the corpus for the cell (cold
    *    cells keep every-member probes);
    *  - members additionally verify — exact cosine, so recall is added
    *    with zero false positives — against the representative's BEST
    *    corpus match (top-1 by sim desc, id asc among its ≥ threshold
    *    matches). Bounding the mediation at top-1 is what keeps the
    *    output O(δ + corpus matches) when the corpus itself is
    *    replica-heavy: routing members to ALL of the rep's matches (the
    *    MinHash discipline) is output-quadratic again on exact-copy
    *    corpora, the exact kill r10b measured.
    * What the cap still LOSES, precisely: (a) within-batch pairs between
    * two hot-cell members that dup each other but not the rep; (b) a
    * member duplicating a corpus vector that is NOT its rep's best match
    * is admitted with only its star/top-1 attributions. Corpus-side cells
    * need no cap by induction: a gated ingest never admits the
    * duplicates that would make one hot. Default None = exact (every
    * pair mined, every row probes), the oracle-checked contract.
    */
  def incrementalSemDedup(corpus: DataFrame, delta: DataFrame,
      idCol: String, vecCol: String,
      centroids: Array[(Long, Array[Float])], threshold: Double,
      maxPerCell: Option[Int] = None): DataFrame = {
    val asgC = assignCells(corpus, idCol, vecCol, centroids)
    def probe(probeD: DataFrame): DataFrame = asgC.alias("c")
      .join(broadcast(probeD).alias("nw"), col("c.cell") === col("nw.cell"))
      .select(col(s"nw.$idCol").as("new_vec"), col(s"c.$idCol").as("dup_of"),
        (round(cosine_sim(col(s"nw.$vecCol"), col(s"c.$vecCol")), 6)
          + lit(0.0)).as("sim"))
    // within-batch pairs: the later id is the new vector
    def batchPairs(df: DataFrame) =
      NearDup.selfPairs(df, Seq("cell"), idCol)((a, b) => Seq(
        b(idCol).as("new_vec"), a(idCol).as("dup_of"),
        (round(cosine_sim(b(vecCol), a(vecCol)), 6) + lit(0.0)).as("sim")))
    val cand = maxPerCell match {
      case None =>
        val asgD = assignCells(delta, idCol, vecCol, centroids)
        probe(asgD).unionByName(batchPairs(asgD))
      case Some(c) =>
        // the delta is referenced by the stats agg, both self-join sides,
        // and the probe legs — retain it once (O(delta) by the gate's
        // batch contract, unlike the corpus-sized frames the winnow gate
        // deliberately leaves to ReusedExchange)
        val asgD = graft.CacheScope.retain(
          assignCells(delta, idCol, vecCol, centroids))
        val (cold, hotD) = NearDup.splitHot(asgD, Seq("cell"), idCol, c,
          broadcastStats = true)
        val coldD = cold.select(col(idCol), col(vecCol), col("cell"))
        val repsD = hotD.where(col(idCol) === col("__rep"))
        val membersD = hotD.where(col(idCol) =!= col("__rep"))
        // within-batch: cold cells all-pairs, hot cells star through rep
        val candBatchCold = batchPairs(coldD)
        val repVecs = repsD
          .select(col("cell"), col(idCol).as("__repid"),
            col(vecCol).as("__repvec"))
        val candStar = membersD.alias("m")
          .join(broadcast(repVecs), Seq("cell"))
          .select(col(s"m.$idCol").as("new_vec"),
            col("__repid").as("dup_of"),
            (round(cosine_sim(col(s"m.$vecCol"), col("__repvec")), 6)
              + lit(0.0)).as("sim"))
        // corpus probe: every cold member + each hot cell's rep. The rep
        // probe feeds BOTH the output union and repBest below — retained
        // so the corpus slice is probed once per batch, not twice (the
        // two consumers share no exchange for ReusedExchange to dedup:
        // the probe is a broadcast join). Rows = O(hot cells' corpus
        // populations), the slice the gate touches anyway.
        val candCorpusCold = probe(coldD)
        val candCorpusRep = graft.CacheScope.retain(probe(
          repsD.select(col(idCol), col(vecCol), col("cell"))))
        // rep-mediated member attribution, bounded at the rep's top-1
        // verified match (see the scaladoc for why top-1, not all)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("new_vec").orderBy(col("sim").desc, col("dup_of"))
        val repBest = candCorpusRep.where(col("sim") >= threshold)
          .withColumn("__rk", row_number().over(w))
          .where(col("__rk") === 1)
          .select(col("new_vec").as("__bestrep"),
            col("dup_of").as("__best_dup"))
        val memberCand = membersD.alias("m")
          .join(broadcast(repBest), col("m.__rep") === col("__bestrep"))
          .select(col(s"m.$idCol").as("__mid"), col(s"m.$vecCol").as("__mvec"),
            col("__best_dup"))
        val candViaRep = asgC.alias("c")
          .join(memberCand, col("__best_dup") === col(s"c.$idCol"))
          .select(col("__mid").as("new_vec"), col("__best_dup").as("dup_of"),
            (round(cosine_sim(col("__mvec"), col(s"c.$vecCol")), 6)
              + lit(0.0)).as("sim"))
        candCorpusCold.unionByName(candCorpusRep)
          .unionByName(candViaRep)
          .unionByName(candBatchCold).unionByName(candStar)
    }
    cand.where(col("sim") >= threshold)
  }

  /** Per-batch cap-engagement metrics for the semantic ingest gate (the
    * [[graft.dedup.NearDup.WinnowGateMetrics]] discipline applied to the
    * r11 star cap): `starFrac` is the fraction of the batch routed
    * through a representative instead of probing the corpus itself —
    * the recall-degradation signal. Star-capped output is still
    * exact-cosine verified (zero false positives), but pair-incomplete
    * per the [[incrementalSemDedup]] residuals, and a batch that is
    * mostly starred must say so in a metric, not in prose.
    */
  final case class SemGateMetrics(deltaRows: Long, hotCells: Long,
      starredMembers: Long, starFrac: Double, pairsFlagged: Long)

  /** [[incrementalSemDedup]] with cap-engagement metrics — the observable
    * form a production foreachBatch embedding-ingest loop runs. Same
    * output rows (StreamingSpec pins gated == ungated); the verdict frame
    * is eagerly materialized and retained (the per-batch posture);
    * CacheScope.release at the caller's batch boundary frees it. The
    * metrics pass re-assigns the DELTA only — one O(delta) codegen map +
    * a per-cell count, negligible by the gate's batch contract.
    */
  def incrementalSemDedupGated(corpus: DataFrame, delta: DataFrame,
      idCol: String, vecCol: String,
      centroids: Array[(Long, Array[Float])], threshold: Double,
      maxPerCell: Option[Int]): (DataFrame, SemGateMetrics) = {
    val out = graft.CacheScope.retain(
      incrementalSemDedup(corpus, delta, idCol, vecCol, centroids,
        threshold, maxPerCell))
    val pairsFlagged = out.count()
    val capV = maxPerCell.map(_.toLong).getOrElse(Long.MaxValue)
    val r = assignCells(delta, idCol, vecCol, centroids)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("delta_rows"),
        coalesce(sum(when(col("n") > capV, 1L).otherwise(0L)), lit(0L))
          .as("hot_cells"),
        coalesce(sum(when(col("n") > capV, col("n") - 1L).otherwise(0L)),
          lit(0L)).as("starred"))
      .head()
    val dr = r.getLong(0); val starred = r.getLong(2)
    val frac = if (dr == 0L) 0.0
      else math.round(starred.toDouble / dr * 1e6) / 1e6
    (out, SemGateMetrics(dr, r.getLong(1), starred, frac, pairsFlagged))
  }

  // ---- IVF-PQ (coarse cells + residual product codes) --------------------

  /** IVF-PQ with RESIDUAL encoding — the composition production ANN
    * indexes actually ship (FAISS IndexIVFPQ): the coarse quantizer
    * bounds the CANDIDATE SET (only `nProbe` cells are scanned per
    * query), the product codes bound the MEMORY (each candidate is
    * scored from 2 small ints via an ADC table, no per-row dot product),
    * and encoding the residual `v − centroid(cell)` instead of `v`
    * keeps the codebooks sharp because residuals concentrate near the
    * origin once the coarse quantizer has soaked up the cell's mean.
    *
    * Determinism/replayability contract (what makes the oracle exact):
    *  - coarse seed = [[seedCentroids]]; probe selection = the same
    *    double-fold cosine the codegen'd expressions use;
    *  - residuals are FLOAT subtraction (DuckDB replays as
    *    `CAST(a − b AS REAL)` — float sub IS round(exact diff));
    *  - residual codebooks seed from ids [nCodes, 2·nCodes): the coarse
    *    seed rows have all-zero residuals, which would degenerate the
    *    codebook (and zero-norm cosine is engine-defined 0.0 vs DuckDB
    *    −1.0 — the oracle guards the candidate side explicitly);
    *  - ADC tables are per-(probed cell, code): dot(query − centroid,
    *    codebook entry) per half, O(nProbe·nCodes·dim) driver work
    *    shipped as a literal map into codegen.
    *
    * Scale: the per-query scan is Σ probed-cell populations (the IVF
    * contract) over 2-int codes (the PQ contract); the index build is
    * one assignment pass + one float subtraction per vector — map-only.
    */
  def ivfPqTopK(vecs: DataFrame, query: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int, nProbe: Int, nCodes: Int,
      rerank: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    def empty = emptyCodedResult(vecs, idCol, "cell", "code0", "code1")
    // query guard BEFORE the seed collect: an empty query must not pay
    // the corpus scan the quantizer seed costs
    val qv = headVecOpt(query, vecCol) match {
      case Some(v) => v
      case None => return empty
    }
    val coarse = seedCentroids(vecs, idCol, vecCol, nCells)
    if (coarse.isEmpty) return empty
    val dim = qv.length
    require(dim % 2 == 0, s"IVF-PQ with 2 subspaces needs an even dim, got $dim")
    val half = dim / 2
    val cIds = coarse.map(_._1)
    val cVecs = coarse.map(_._2)
    val probes = cIds.zip(cVecs)
      .map { case (id, c) => (id, cosSeq(qv, c)) }
      .sortBy { case (id, s) => (-s, id) }.take(nProbe).map(_._1)
    val centMap = map(coarse.flatMap { case (id, c) =>
      Seq(lit(id), lit(c)) }: _*)
    val assigned = vecs
      .withColumn("cell", graft.functions.VectorExpressions.best_cell(
        col(vecCol), cVecs, cIds))
      .withColumn("__res", zip_with(col(vecCol),
        element_at(centMap, col("cell")), (a, b) => a - b))
    // residual codebooks from ids [nCodes, 2*nCodes) — O(nCodes*dim) collect
    val cbRows = assigned
      .where(col(idCol) >= nCodes && col(idCol) < 2 * nCodes)
      .select(col(idCol).cast("long"), col("__res"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    // no residual codebook rows (ids [nCodes, 2*nCodes) absent from the
    // slice): the oracle's NULL-code scalar subqueries produce no scored
    // candidates — degrade to the empty result, don't throw
    if (cbRows.isEmpty) return empty
    val ids = cbRows.map(_._1)
    val cb0 = cbRows.map(_._2.slice(0, half).toArray)
    val cb1 = cbRows.map(_._2.slice(half, dim).toArray)
    val cand = assigned.where(col("cell").isin(probes: _*))
      .withColumn("code0", graft.functions.VectorExpressions.best_cell(
        slice(col("__res"), 1, half), cb0, ids))
      .withColumn("code1", graft.functions.VectorExpressions.best_cell(
        slice(col("__res"), half + 1, half), cb1, ids))
    val centById = coarse.toMap
    // ADC map keys pack (cell, code) as cell*stride + code. Codes are vec
    // ids in [nCodes, 2*nCodes), so the stride is derived from that range
    // (2*nCodes) rather than a fixed 64 — a caller passing nCodes > 32
    // would otherwise silently collide keys across cells (ADVICE r7).
    val stride = 2L * nCodes
    def adcTable(cb: Array[Array[Float]], lo: Int, hi: Int) =
      map(probes.flatMap { cid =>
        val cent = centById(cid)
        val qr = Array.tabulate(dim)(i => qv(i) - cent(i)) // FLOAT sub
        ids.zip(cb).flatMap { case (code, cv) =>
          Seq(lit(cid * stride + code), lit(dotSeq(qr.slice(lo, hi), cv))) }
      }: _*)
    val t0 = adcTable(cb0, 0, half)
    val t1 = adcTable(cb1, half, dim)
    val scored = cand.withColumn("__approx",
      element_at(t0, col("cell") * stride + col("code0")) +
        element_at(t1, col("cell") * stride + col("code1")))
    val shortlist = scored.orderBy(col("__approx").desc, col(idCol))
      .limit(rerank)
    val qb = broadcast(query.select(col(vecCol).as("__qv")))
    shortlist.crossJoin(qb)
      .select(col(idCol), col("cell"), col("code0"), col("code1"),
        (round(col("__approx"), 6) + lit(0.0)).as("approx_ip"),
        (round(graft.functions.VectorExpressions.cosine_sim(
          col(vecCol), col("__qv")), 6) + lit(0.0)).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }
}
