package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the round-5 operators — the scale
  * contract each query's doc comment claims, pinned so a refactor that
  * silently degrades the plan (lost pushdown, surprise cartesian, window
  * without the rank-limit pushdown) fails CI instead of shipping.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val dir = "/root/testdata/sf0.001"

  /** Every physical node of `p`, through AQE wrappers, cached relations
    * and subqueries.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case o => o.children
    }) ++ p.subqueries
    p +: kids.flatMap(nodes)
  }

  private def plan(q: String): String = {
    val p = SparkEntry.queries(q)(spark, dir)
      .queryExecution.executedPlan.toString
    CacheScope.release(spark)
    p
  }

  test("hard negatives: per-anchor top-k prunes map-side (WindowGroupLimit)") {
    val p = plan("q_e_hard_negatives")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter should push a group limit below the window:\n$p")
    // the only join is the broadcast anchor batch — non-equi by design
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bloom decontamination: bloom scalar rides a subquery, verify is a " +
      "broadcast semi join, no cartesian") {
    val p = plan("q_t_bloom_decontaminate")
    assert(p.contains("bloom_filter_agg") || p.contains("Subquery"),
      s"bloom build should be an in-plan scalar subquery:\n$p")
    assert(p.contains("LeftSemi"),
      s"exact verify should plan as a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dim stats: per-dim aggregation collapses map-side (partial agg)") {
    val p = plan("q_e_dim_stats")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"expected partial aggregation before the dim shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rollup: grouping sets expand in one Expand+Aggregate, single scan") {
    val p = plan("q_a_rollup_levels")
    assert(p.contains("Expand"),
      s"rollup should plan as Expand over one scan:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"rollup must not re-scan per level:\n$p")
  }

  test("incremental rollup: one scan, both agg levels partial+merge, " +
      "exchanges only on the declared key sets") {
    val p = plan("q_r_incremental_rollup")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"standing and delta partials must come from ONE scan pass:\n$p")
    // two-level decomposable aggregation: (side, key) partials then the
    // key merge — at most 2 key-bounded hash exchanges, map-side partial
    // aggregation ahead of each. The Tables small-file parallelize step
    // (r14: hash on the table id, printed REPARTITION_BY_NUM) is the
    // declared scan-spread, not an operator shuffle — excluded.
    val exCount = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("REPARTITION_BY_NUM"))
    assert(exCount <= 2,
      s"merge==recompute shape needs at most 2 hash exchanges (O(#keys) " +
        s"each), got $exCount:\n$p")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("set ops: INTERSECT/EXCEPT plan as semi/anti joins, deduped sides") {
    val p = plan("q_r_set_ops")
    assert(p.contains("LeftSemi"), s"INTERSECT should be a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"EXCEPT should be an anti join:\n$p")
  }

  test("DSIR: every shuffle is keyed on bucket/doc_id (feature-hashing " +
      "contract), never on raw grams; log-ratio table broadcasts") {
    val p = plan("q_t_dsir_select")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"expected hash exchanges in:\n$p")
    exchanges.foreach { e =>
      assert(!e.contains("gram"),
        s"a shuffle keyed on raw grams breaks the 1024-bucket bound:\n$e")
      assert(e.contains("bucket") || e.contains("doc_id"),
        s"unexpected shuffle key (feature hashing should bound keys to " +
          s"B buckets or the doc id):\n$e")
    }
    assert(p.contains("BroadcastExchange"),
      s"the B-row log-ratio table should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("label centroids: fit+assign is one plan with a broadcast join, " +
      "no driver collect boundary") {
    val p = plan("q_e_label_centroids")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"centroid frame should broadcast against the corpus:\n$p")
    assert(p.contains("max_by") || p.contains("HashAggregate"),
      s"argmax should be a partial-aggregable max_by:\n$p")
  }

  test("incremental gates: corpus probed via broadcast joins, shared " +
      "frames cached, no cartesian") {
    val pw = plan("q_d_winnow_incremental")
    assert(pw.contains("BroadcastHashJoin"),
      s"delta/stop-list probes should broadcast against the corpus:\n$pw")
    assert(!pw.contains("CartesianProduct"), pw)
    val ps = plan("q_e_semdedup_incremental")
    assert(ps.contains("BroadcastHashJoin"),
      s"cell-equi probe should broadcast the delta:\n$ps")
    assert(!ps.contains("SortMergeJoin"),
      s"the corpus side must stream, not shuffle into a sort-merge:\n$ps")
    assert(!ps.contains("CartesianProduct"), ps)
  }

  test("normalized dedup: one exchange on the hash, no extra sort shuffles") {
    val p = plan("q_d_norm_dedup")
    // the Tables parallelize exchange (REPARTITION_BY_NUM) is the scan
    // spread, not part of the operator's shuffle budget (r14)
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") &&
        !l.contains("REPARTITION_BY_NUM"))
    assert(exchanges == 1,
      s"canonicalize+hash should shuffle exactly once, saw $exchanges:\n$p")
  }

  test("hybrid RRF: both legs end in per-partition heaps, fuse has no cartesian") {
    val p = plan("q_e_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject"),
      s"each retrieval leg should truncate via per-partition heaps:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("shard manifest: ONE corpus scan — the total is a window over the " +
      "8-row aggregate, not a second aggregate of the scan") {
    val p = plan("q_s_shard_manifest")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"manifest must come from ONE corpus scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("BPE train/apply: winners are driver-resident literals (r12) — " +
      "the returned plans never re-touch the corpus scan") {
    // Each round's winning pair is a 1-row bounded driver read inlined
    // as a literal, so the RETURNED plan is: bpe_train = the local merge
    // table itself (0 jobs at execution); bpe_apply = ONE cached
    // (source, word) scan -> map-only double fold -> one groupBy. A
    // FileScan or broadcast-exchange cascade reappearing here is the
    // 19-serial-job wall the r11 driver bench measured amplifying 30x
    // under contention.
    val pt = plan("q_t_bpe_train")
    assert(pt.contains("LocalTableScan") && !pt.contains("FileScan") &&
      !pt.contains("BroadcastExchange"),
      s"train output must be the driver-resident merge table:\n$pt")
    val pa = plan("q_t_bpe_apply")
    assert(pa.linesIterator.count(_.contains("InMemoryTableScan")) == 1 &&
      !pa.contains("BroadcastExchange"),
      s"apply tail must be one cached-vocab scan, no broadcast cascade:\n$pa")
    // the only corpus FileScan is INSIDE the InMemoryRelation's cache-build
    // rendering — the executed tail reads the cache, never the corpus
    val lines = pa.linesIterator.toSeq
    val cacheAt = lines.indexWhere(_.contains("InMemoryRelation"))
    assert(cacheAt >= 0 &&
      lines.take(cacheAt).forall(!_.contains("FileScan")),
      s"a FileScan outside the cache subtree re-scans the corpus:\n$pa")
    assert(!pa.contains("CartesianProduct"), pa)
  }

  test("PageRank canonical: no cartesian; the final join reads the " +
      "CHECKPOINTED last iterate, not a re-derived round chain") {
    val p = plan("q_d_pagerank_canonical")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Scan ExistingRDD"),
      s"the pr side must be the localCheckpointed iterate (lineage " +
        s"truncated per round — the CC-loop discipline):\n$p")
  }

  /** BNLJ is legitimate ONLY when the broadcast side is a bounded tiny
    * frame (a ≤64-row anchor batch, a 1-row scalar aggregate, a learned
    * pair vocabulary) joined non-equi by design. Every such site must be
    * named here WITH its bound; anything unlisted is a regression.
    */
  private val bnljAllowed: Map[String, String] = Map(
    "q_e_hard_negatives" -> "64-row anchor batch, non-equi by design",
    "q_e_contrastive_pairs" -> "same 64-anchor batch posture",
    "q_e_mmr_topk" -> "≤380-row shortlist × greedy round frames",
    "q_e_context_pack" -> "fused ≤20-row shortlist, non-equi doc probe",
    "q_e_hybrid_rrf" -> "≤100-row fused rank frames",
    "q_e_fusion_gain" -> "≤10-row leg overlaps",
    "q_t_bpe_merge_pairs" -> "1-row winning-pair broadcast",
    "q_s_curriculum_phases" -> "1-row phase-cut aggregate",
    "q_s_curriculum_phases_approx" -> "1-row sketch-cut aggregate",
    "q_w14_latest_window" -> "1-row max-ts scalar",
    "q_a4_histogram" -> "1-row min/max range aggregate",
    // the retrieval family: the probe side is ONE query vector (or a
    // ≤64-row batch) broadcast against the corpus — non-equi on purpose
    "q_e_cosine_topk" -> "1-row query vector",
    "q_e_ann_lsh_topk" -> "1-row query vector (band-bucketed corpus side)",
    "q_e_ann_recall" -> "1-row query + 1-row truth aggregate",
    "q_e_pq_recall" -> "1-row query, both sides 10-row top-k frames",
    "q_e_ivfpq_recall" -> "1-row query, both sides 10-row top-k frames",
    "q_e_int8_topk" -> "1-row query + 1-row absmax params",
    "q_e_ivf_topk" -> "O(nCells·dim) centroid frame",
    "q_e_ivf_trained_topk" -> "O(nCells·dim) Lloyd-trained centroids",
    "q_e_pq_topk" -> "O(M·K·dsub) codebook",
    "q_e_pq_trained_topk" -> "same codebook posture, Lloyd-trained",
    "q_e_ivfpq_topk" -> "1-row query rerank + O(nProbe·nCodes) ADC maps",
    "q_e_top_component" -> "1×dim power-iterate frame",
    "q_e_abtt_topk" -> "1×dim mu + top-component fit frames",
    "q_e_label_centroids" -> "O(#labels)×dim centroid frame",
    "q_sql_vector_search" -> "1-row query vector (SQL surface)",
    // corpus-level scalar fits: a 1-row aggregate broadcast back over
    // the corpus (the subquery-scalar posture, planned as BNLJ)
    "q_d_group_stats" -> "always-1-row corpus rollup CTE",
    "q_d_lsh_recall" -> "1-row truth-pair-count aggregate",
    "q_s_temperature_mix" -> "1-row mix normalizer",
    "q_t_bm25_topk" -> "1-row (N, avgdl) corpus stats",
    "q_t_tfidf_top" -> "1-row doc-count aggregate",
    "q_t_unigram_logprob" -> "1-row vocab-total aggregate",
    "q_t_dsir_select" -> "B=1024 bucket importance weights",
    "q_t_quality_filter_calibration" -> "1-row score-range aggregate",
    // r14: q_{a,sql}_active_users dropped off this list — the one-chain
    // restructure removed their max-day broadcast entirely
    "q_a_active_users_approx" -> "1-row max-day scalar, sketch twin")

  test("GLOBAL: no query plans a CartesianProduct, and " +
      "BroadcastNestedLoopJoin appears only at named, bounded sites") {
    // The whole-surface sweep the per-query tests above can't give:
    // ANY new query (or a refactor of an old one) that lets Catalyst
    // fall back to an unbounded cross product fails here by name.
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      CacheScope.release(spark)
      if (p.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (p.contains("BroadcastNestedLoopJoin") &&
          !bnljAllowed.contains(name))
        offenders += s"$name: unlisted BroadcastNestedLoopJoin"
    }
    assert(offenders.isEmpty,
      s"unbounded-join regressions:\n  ${offenders.mkString("\n  ")}")
  }

  test("GLOBAL: every zero-partition window sits above a limit — the " +
      "'WindowExec: No Partition Defined' warnings in the bench tail are " +
      "bounded by construction, and stay that way") {
    // A window with no PARTITION BY moves ALL its input to one partition
    // — fine over a ≤50-row post-limit frame (the rank windows in the
    // retrieval/fusion family), catastrophic over a corpus. This sweep
    // pins the claim: for every query, every WindowExec/WindowGroupLimit
    // with an empty partitionSpec must have a row-bounding node below it
    // (a *Limit*, TakeOrderedAndProject, or a grouping-free aggregate's
    // 1-row output) OR be a named site below whose bound the PLAN cannot
    // show but the QUERY fixes (a domain-bounded grouped aggregate).
    // Ships-unbounded-global-window ⇒ fails here by name. This sweep is
    // what surfaced q_a_abc_pareto's O(#customers) single-partition
    // cumsum — now the distributed ops/PrefixSum.
    // EMPTY as of r10, and the point is that it stays that way: every
    // domain-bounded frame now carries its bound IN THE PLAN (an explicit
    // limit over the tiny aggregate — q_a_attribution, also served as
    // q_sql_attribution, and q_s_shard_manifest), and q_sql_abc_pareto is
    // q_a_abc_pareto's own definition, so it runs the same distributed
    // prefix sum. A new entry here needs a reason the bound genuinely
    // cannot be expressed in the plan.
    val globalWindowAllowed: Map[String, String] = Map.empty
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

    // Children for traversal: descend through the AQE wrapper and into
    // cached relations' plans (the shared fused frame hides its
    // TakeOrderedAndProject behind an InMemoryTableScan).
    def kids(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case o => o.children
    }) ++ p.subqueries

    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

    def bounds(p: SparkPlan): Boolean = p match {
      case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case _ => false
    }

    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan
      if (!globalWindowAllowed.contains(name)) nodes(plan).foreach {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          if (!nodes(w.child).exists(bounds))
            offenders += s"$name: unbounded zero-partition WindowExec"
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          if (!nodes(w.child).exists(bounds))
            offenders += s"$name: unbounded zero-partition WindowGroupLimit"
        case _ => ()
      }
      // IterScope leak guard (r10): several builders scope AQE off around
      // their iterative sections and some EXECUTE at build time — a
      // builder that forgets the scope (or escapes it abnormally) would
      // silently de-adaptive every query built after it in this
      // session-global conf. Assert after EVERY build, inside the sweep
      // that already touches the whole surface.
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        s"$name left spark.sql.adaptive.enabled=false behind — an " +
          "IterScope override leaked out of its builder")
      CacheScope.release(spark)
    }
    assert(offenders.isEmpty,
      s"global-window regressions (a zero-partition window must sit " +
        s"above a *Limit*/TakeOrderedAndProject/1-row-aggregate):\n  " +
        offenders.mkString("\n  "))
  }

  test("GLOBAL: the ordered-scan family plans NO window nodes — the " +
      "5-key partitionBy(event_type) shape cannot creep back") {
    // These queries were rewired onto OrderedLag/OrderedRolling/
    // OrderedNtile precisely because a frame-aggregate window on the
    // low-cardinality series key serializes the whole input onto #keys
    // tasks (w16: 30.0 s -> 11.0 s at the 100x probe; quantile_bins:
    // 19.9 s -> 4.1 s — SCALE.md r9d/r9e). A WindowExec reappearing in
    // any of their plans is the regression this test exists to catch.
    val orderedScanFamily = Seq(
      "q_w1_log_returns", "q_w2_ma_ratio", "q_w4_rolling_zscore",
      "q_w11_volatility", "q_w12_momentum", "q_w16_rolling_mse",
      "q_w17_residual_volatility", "q_w_rolling_corr",
      "q_a7_error_metrics", "q_a9_grouped_metrics", "q_p_quantile_bins",
      "q_w13_windows")
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val offenders = orderedScanFamily.flatMap { name =>
      val p = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      val hit = nodes(p).exists {
        case _: WindowExec | _: WindowGroupLimitExec => true
        case _ => false
      }
      CacheScope.release(spark)
      if (hit) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"window node reappeared in the ordered-scan family: $offenders")
  }

  test("feature frame: one keyed pass — exactly one shuffle, no window, " +
      "no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import spark.implicits._
    val df = (0 until 60).map { i =>
      val c = 100.0 + math.sin(i * 0.2)
      (s"k${i % 3}", new java.sql.Timestamp(1704067200000L + 300000L * i),
        1704067200L + 300L * i, c, c + 1.0, c - 1.0, c, 10.0 + i % 4)
    }.toDF("k", "ts", "id", "open", "high", "low", "close", "volume")
    val ns = nodes(graft.ts.FeatureFrame.enhance(df, "k", "ts", "id")
      .queryExecution.executedPlan)
    assert(ns.count(_.isInstanceOf[ShuffleExchangeLike]) == 1, ns.mkString("\n"))
    assert(!ns.exists(_.isInstanceOf[WindowExec]), ns.mkString("\n"))
    assert(!ns.exists(_.isInstanceOf[BaseJoinExec]), ns.mkString("\n"))
  }
}
