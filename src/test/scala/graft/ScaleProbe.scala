package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scaling probe (Test scope): replicates the sf0.1 tables 10×
  * (deterministic id/ts jitter, multiple output files → real scan
  * parallelism) into /tmp, then times representative operators at 1× and
  * 10× to measure how throughput scales with input size on local[32].
  * Run: SPARK_GRAFT_CPUS=32 sbt "Test/runMain graft.ScaleProbe"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus, "ERROR")
    import spark.implicits._

    val base = "/root/testdata/sf0.1"
    // Replication factor (default 10). SPARK_GRAFT_PROBE_FACTOR=100 adds a
    // second decade: 1x/10x/100x distinguishes fixed-plan-overhead ops
    // (ratio stays flat across decades) from truly linear ones (ratio
    // approaches the factor). 100x = 10M events / 1M docs / 1M vectors.
    val factor = sys.env.getOrElse("SPARK_GRAFT_PROBE_FACTOR", "10").toInt
    val big =
      if (factor == 10) "/tmp/graft_sf1_synth"
      else s"/tmp/graft_probe_${factor}x_synth"

    // ---- build the replicated tables once ----
    // PER-TABLE _SUCCESS guards (r10): a killed build resumes exactly
    // where it stopped, and SPARK_GRAFT_PROBE_TABLES="documents,embeddings"
    // scopes a top-decade leg to the tables its ops actually read — the
    // 1000x dedup/ANN sweep needs 5 M docs + 2 M vectors, not the 600 M
    // lineitem rows the warehouse decade replicates.
    val wanted: String => Boolean = sys.env.get("SPARK_GRAFT_PROBE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
      .map(s => (t: String) => s.contains(t))
      .getOrElse(_ => true)
    def needs(t: String): Boolean = wanted(t) &&
      !new java.io.File(s"$big/$t.parquet/_SUCCESS").exists()
    if (needs("events")) {
      val ev = Tables(spark, base, "events")
      ev.crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("event_id", col("event_id") * factor + col("rep"))
        // original layout stores ts as INT64 nanos (Tables reads it via
        // nanosAsLong) — mirror it so the same loader path applies
        .withColumn("ts",
          (unix_micros(expr("ts + make_interval(0,0,0,0,0,0, rep * 0.001)"))
            * 1000L).as("ts"))
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(big + "/events.parquet")
    }
    if (needs("documents")) {
      val docs = Tables(spark, base, "documents")
      docs.crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("doc_id", col("doc_id") * factor + col("rep"))
        // vary text per replica so dedup work isn't degenerate
        .withColumn("text", concat(col("text"), lit(" rep"), col("rep")))
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(big + "/documents.parquet")
    }
    if (needs("embeddings")) {
      val emb = Tables(spark, base, "embeddings")
      emb.crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("vec_id", col("vec_id") * factor + col("rep"))
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(big + "/embeddings.parquet")
    }
    // orders/lineitem are FACTS for abc_pareto / fk_audit — replicate
    // them key-consistently (same o_orderkey*f+rep formula on both
    // sides keeps the lineitem->orders FK bijective per replica, and
    // o_custkey untouched keeps orders->customer valid) so those two
    // ops measure real scaling. Before this they read 1x data at every
    // factor: their old "1.4x/1.7x" table rows were noise, not scaling.
    if (needs("orders"))
      Tables(spark, base, "orders")
        .crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("o_orderkey", col("o_orderkey") * factor + col("rep"))
        .drop("rep").repartition(32)
        .write.mode("overwrite").parquet(s"$big/orders.parquet")
    if (needs("lineitem"))
      Tables(spark, base, "lineitem")
        .crossJoin(spark.range(factor).toDF("rep"))
        .withColumn("l_orderkey", col("l_orderkey") * factor + col("rep"))
        .drop("rep").repartition(32)
        .write.mode("overwrite").parquet(s"$big/lineitem.parquet")
    // true dimensions: copy as-is (they stay small at any corpus scale)
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      if (needs(t)) Tables(spark, base, t).write.mode("overwrite")
        .parquet(s"$big/$t.parquet")
    }

    def time(name: String)(f: => Long): Double = {
      // Single-JVM probe hygiene (r12): CacheScope.release unpersists
      // blocking, but broadcast pieces and task bookkeeping from a prior
      // op's cold cascade are only freed when ContextCleaner's weak refs
      // are GC'd — at the top decade, three back-to-back ~150 s cascades
      // left enough uncollected debris in the shared 8 g driver+executor
      // heap to OOM the FOURTH op, which then passed solo (SCALE.md
      // r12c). In production the driver and executors are separate JVMs,
      // so cross-op accumulation is a local[32] probe artifact; force the
      // collection OUTSIDE the timed region so each op measures its own
      // cost from a clean heap.
      System.gc()
      val t0 = System.nanoTime()
      val n = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$name%-34s ${s}%7.2f s   rows=$n")
      s
    }

    val ops: Seq[(String, String => DataFrame)] = Seq(
      "resample_ohlcv" -> (dir => SparkEntry.queries("q_a1_resample_ohlcv")(spark, dir)),
      "winsorize" -> (dir => SparkEntry.queries("q_p9_winsorize")(spark, dir)),
      "rolling_zscore" -> (dir => SparkEntry.queries("q_w4_rolling_zscore")(spark, dir)),
      // the remaining W-family members after the r9d ordered-scan sweep:
      // w1/w2/w11 rewired like w4; w10 (OBV) is the documented per-key
      // running-sum recurrence — measured so the contract has a number
      "w1_log_returns" -> (dir => SparkEntry.queries("q_w1_log_returns")(spark, dir)),
      "w2_ma_ratio" -> (dir => SparkEntry.queries("q_w2_ma_ratio")(spark, dir)),
      "w11_volatility" -> (dir => SparkEntry.queries("q_w11_volatility")(spark, dir)),
      "w10_obv" -> (dir => SparkEntry.queries("q_w10_obv")(spark, dir)),
      // w18: row_number + count windows on the 5-key partition — sort-
      // bound (O(1)/row, no frame re-accumulation), probed to pin that
      // class's cost rather than rewired
      "temporal_split" -> (dir => SparkEntry.queries("q_w18_temporal_split")(spark, dir)),
      "indicators_series" -> (dir => SparkEntry.queries("q_w7w9_indicator_series")(spark, dir)),
      "langid" -> (dir => SparkEntry.queries("q_t_langid_confusion")(spark, dir)),
      // the shingle pipeline split in two: map side alone (tokenize +
      // build 3-gram strings + explode; the hash agg's partial side
      // makes its shuffle negligible) vs the full inverted-index build
      // (same map + distinct on the full shingle strings) — the
      // decomposition that says whether boilerplate/bloom_decontaminate
      // are string-build-bound or shuffle-bound at 100x
      "shingle_map" -> (dir => graft.dedup.NearDup
        .docShinglesRaw(Tables(spark, dir, "documents"), "doc_id", "text", 3)),
      "shingle_index" -> (dir => graft.dedup.NearDup
        .docShingles(Tables(spark, dir, "documents"), "doc_id", "text", 3)),
      "minhash_lsh" -> (dir => SparkEntry.queries("q_d_minhash_lsh_pairs")(spark, dir)),
      // hot-bucket-capped LSH miner: the posture that keeps the batch
      // miner bounded on the 100-replica corpus where the uncapped band
      // self-join is quadratic (see incremental_dedup_capped64)
      "minhash_lsh_capped64" -> (dir => graft.dedup.NearDup.minhashLshPairs(
        Tables(spark, dir, "documents"), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5,
        maxDocsPerBand = Some(64))),
      "w13_windows" -> (dir => SparkEntry.queries("q_w13_windows")(spark, dir)),
      "u2_scale_roundtrip" -> (dir => SparkEntry.queries("q_u2_scale_roundtrip")(spark, dir)),
      "stratified_sample" -> (dir => SparkEntry.queries("q_s_stratified_sample")(spark, dir)),
      "sequence_pack" -> (dir => SparkEntry.queries("q_t_sequence_pack")(spark, dir)),
      "dedup_groups_cc" -> (dir => SparkEntry.queries("q_d_dedup_groups")(spark, dir)),
      "corpus_prep" -> (dir => SparkEntry.queries("q_t_corpus_prep")(spark, dir)),
      "decontaminate" -> (dir => SparkEntry.queries("q_t_decontaminate")(spark, dir)),
      "repetition" -> (dir => SparkEntry.queries("q_t_repetition")(spark, dir)),
      "pii_scrub" -> (dir => SparkEntry.queries("q_t_pii_scrub")(spark, dir)),
      "temperature_mix" -> (dir => SparkEntry.queries("q_s_temperature_mix")(spark, dir)),
      "quantize_int8" -> (dir => SparkEntry.queries("q_e_quantize_int8")(spark, dir)),
      "containment" -> (dir => SparkEntry.queries("q_d_containment_pairs")(spark, dir)),
      "index_prep" -> (dir => SparkEntry.queries("q_e_index_prep")(spark, dir)),
      "skew_audit" -> (dir => SparkEntry.queries("q_a_skew_audit")(spark, dir)),
      "incremental_dedup" -> (dir => SparkEntry.queries("q_d_incremental_dedup")(spark, dir)),
      // the hot-bucket-capped gate (maxDocsPerBand=64): the SCALE posture
      // for dup-heavy batches. Plain incremental_dedup OOMs the 100x
      // replica corpus (100 near-identical docs per band bucket ->
      // k(k-1)/2 within-batch candidates); the star-capped variant is the
      // shape that must stay bounded there. Same 400-id split as the query.
      "incremental_dedup_capped64" -> { dir =>
        val d = Tables(spark, dir, "documents")
        graft.dedup.NearDup.incrementalDedup(
          d.where(col("doc_id") < 400), d.where(col("doc_id") >= 400),
          "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5,
          maxDocsPerBand = Some(64))
      },
      "chunk_dedup" -> (dir => SparkEntry.queries("q_t_chunk_dedup")(spark, dir)),
      "unigram_logprob" -> (dir => SparkEntry.queries("q_t_unigram_logprob")(spark, dir)),
      "pq_topk" -> (dir => SparkEntry.queries("q_e_pq_topk")(spark, dir)),
      "range_join" -> (dir => SparkEntry.queries("q_j_range_join")(spark, dir)),
      "prox_count" -> (dir => SparkEntry.queries("q_w_prox_count")(spark, dir)),
      "token_budget" -> (dir => SparkEntry.queries("q_t_token_budget")(spark, dir)),
      "zorder_layout" -> (dir => SparkEntry.queries("q_a_zorder_layout")(spark, dir)),
      "semdedup" -> (dir => SparkEntry.queries("q_e_semdedup_groups")(spark, dir)),
      "dsir_select" -> (dir => SparkEntry.queries("q_t_dsir_select")(spark, dir)),
      "quality_calibrated" -> (dir => SparkEntry.queries("q_t_quality_calibrated")(spark, dir)),
      "weighted_sample" -> (dir => SparkEntry.queries("q_s_weighted_sample")(spark, dir)),
      "ann_recall" -> (dir => SparkEntry.queries("q_e_ann_recall")(spark, dir)),
      "bloom_decontaminate" -> (dir => SparkEntry.queries("q_t_bloom_decontaminate")(spark, dir)),
      "sem_decontaminate" -> (dir => SparkEntry.queries("q_e_sem_decontaminate")(spark, dir)),
      "hard_negatives" -> (dir => SparkEntry.queries("q_e_hard_negatives")(spark, dir)),
      "dim_stats" -> (dir => SparkEntry.queries("q_e_dim_stats")(spark, dir)),
      "norm_dedup" -> (dir => SparkEntry.queries("q_d_norm_dedup")(spark, dir)),
      "length_drift" -> (dir => SparkEntry.queries("q_t_length_drift")(spark, dir)),
      "epoch_schedule" -> (dir => SparkEntry.queries("q_s_epoch_schedule")(spark, dir)),
      "winnow_pairs" -> (dir => SparkEntry.queries("q_d_winnow_pairs")(spark, dir)),
      "group_stats" -> (dir => SparkEntry.queries("q_d_group_stats")(spark, dir)),
      "holdout_split" -> (dir => SparkEntry.queries("q_s_holdout_split")(spark, dir)),
      "vwap" -> (dir => SparkEntry.queries("q_a_vwap")(spark, dir)),
      "gap_audit" -> (dir => SparkEntry.queries("q_a_gap_audit")(spark, dir)),
      "funnel" -> (dir => SparkEntry.queries("q_a_funnel_steps")(spark, dir)),
      "int8_topk" -> (dir => SparkEntry.queries("q_e_int8_topk")(spark, dir)),
      "rollup_levels" -> (dir => SparkEntry.queries("q_a_rollup_levels")(spark, dir)),
      "set_ops" -> (dir => SparkEntry.queries("q_r_set_ops")(spark, dir)),
      "u1_real_forward" -> (dir => SparkEntry.queries("q_u1_real_forward")(spark, dir)),
      "winnow_incremental" -> (dir => SparkEntry.queries("q_d_winnow_incremental")(spark, dir)),
      "semdedup_incremental" -> (dir => SparkEntry.queries("q_e_semdedup_incremental")(spark, dir)),
      "mad_approx" -> (dir => SparkEntry.queries("q_p_outlier_mad_approx")(spark, dir)),
      "hybrid_rrf" -> (dir => SparkEntry.queries("q_e_hybrid_rrf")(spark, dir)),
      "mmr_topk" -> (dir => SparkEntry.queries("q_e_mmr_topk")(spark, dir)),
      "shard_manifest" -> (dir => SparkEntry.queries("q_s_shard_manifest")(spark, dir)),
      "bpe_train" -> (dir => SparkEntry.queries("q_t_bpe_train")(spark, dir)),
      "pagerank_canonical" -> (dir => SparkEntry.queries("q_d_pagerank_canonical")(spark, dir)),
      "bpe_apply" -> (dir => SparkEntry.queries("q_t_bpe_apply")(spark, dir)),
      "context_pack" -> (dir => SparkEntry.queries("q_e_context_pack")(spark, dir)),
      "shard_diff" -> (dir => SparkEntry.queries("q_s_shard_diff")(spark, dir)),
      "top_component" -> (dir => SparkEntry.queries("q_e_top_component")(spark, dir)),
      "abtt_topk" -> (dir => SparkEntry.queries("q_e_abtt_topk")(spark, dir)),
      "contrastive_pairs" -> (dir => SparkEntry.queries("q_e_contrastive_pairs")(spark, dir)),
      "group_split" -> (dir => SparkEntry.queries("q_d_group_split")(spark, dir)),
      "curriculum_phases" -> (dir => SparkEntry.queries("q_s_curriculum_phases")(spark, dir)),
      "entropy_gate" -> (dir => SparkEntry.queries("q_t_entropy_gate")(spark, dir)),
      "scd2" -> (dir => SparkEntry.queries("q_r_scd2")(spark, dir)),
      "merge_upsert" -> (dir => SparkEntry.queries("q_r_merge_upsert")(spark, dir)),
      "fk_audit" -> (dir => SparkEntry.queries("q_r_fk_audit")(spark, dir)),
      "active_users" -> (dir => SparkEntry.queries("q_a_active_users")(spark, dir)),
      "retention_cohorts" -> (dir => SparkEntry.queries("q_a_retention_cohorts")(spark, dir)),
      "attribution" -> (dir => SparkEntry.queries("q_a_attribution")(spark, dir)),
      "abc_pareto" -> (dir => SparkEntry.queries("q_a_abc_pareto")(spark, dir)),
      "time_to_convert" -> (dir => SparkEntry.queries("q_a_time_to_convert")(spark, dir)),
      "pq_trained" -> (dir => SparkEntry.queries("q_e_pq_trained_topk")(spark, dir)),
      "ivfpq" -> (dir => SparkEntry.queries("q_e_ivfpq_topk")(spark, dir)),
      "zipf_audit" -> (dir => SparkEntry.queries("q_t_zipf_audit")(spark, dir)),
      "cms_heavy_hitters" -> (dir => SparkEntry.queries("q_t_cms_heavy_hitters")(spark, dir)),
      "bucketed_user_activity" -> (dir => SparkEntry.queries("q_r_bucketed_user_activity")(spark, dir)),
      "bucketed_join" -> (dir => SparkEntry.queries("q_r_bucketed_join")(spark, dir)),
      "incremental_rollup" -> (dir => SparkEntry.queries("q_r_incremental_rollup")(spark, dir)),
      // r9 (VERDICT #6): ops previously measured only at 1x
      "fusion_gain" -> (dir => SparkEntry.queries("q_e_fusion_gain")(spark, dir)),
      "distinct_approx" -> (dir => SparkEntry.queries("q_a2_distinct_approx")(spark, dir)),
      "quantiles_exact" -> (dir => SparkEntry.queries("q_a4_quantiles")(spark, dir)),
      "quantiles_approx" -> (dir => SparkEntry.queries("q_a4_quantiles_approx")(spark, dir)),
      "robust_scaler" -> (dir => SparkEntry.queries("q_a5_robust_scaler_params")(spark, dir)),
      "robust_scaler_approx" -> (dir => SparkEntry.queries("q_a5_robust_scaler_approx")(spark, dir)),
      "asof_join" -> (dir => SparkEntry.queries("q_j1_asof_join")(spark, dir)),
      "horizon_metrics" -> (dir => SparkEntry.queries("q_j2_horizon_metrics")(spark, dir)),
      "jaccard_pairs" -> (dir => SparkEntry.queries("q_d_jaccard_pairs")(spark, dir)),
      "simhash_pairs" -> (dir => SparkEntry.queries("q_d_simhash_pairs")(spark, dir)),
      "cross_source_pairs" -> (dir => SparkEntry.queries("q_d_cross_source_pairs")(spark, dir)),
      "boilerplate" -> (dir => SparkEntry.queries("q_d_boilerplate")(spark, dir)),
      "minhash_dedup_groups" -> (dir => SparkEntry.queries("q_d_minhash_dedup_groups")(spark, dir)),
      "bm25_topk" -> (dir => SparkEntry.queries("q_t_bm25_topk")(spark, dir)),
      "tfidf_top" -> (dir => SparkEntry.queries("q_t_tfidf_top")(spark, dir)),
      "corpus_filter" -> (dir => SparkEntry.queries("q_t_corpus_filter")(spark, dir)),
      "feature_frame_26" -> (dir => SparkEntry.queries("q_feature_frame_26")(spark, dir)),
      "error_metrics" -> (dir => SparkEntry.queries("q_a7_error_metrics")(spark, dir)),
      "grouped_metrics" -> (dir => SparkEntry.queries("q_a9_grouped_metrics")(spark, dir)),
      "ivf_trained_topk" -> (dir => SparkEntry.queries("q_e_ivf_trained_topk")(spark, dir)),
      "label_centroids" -> (dir => SparkEntry.queries("q_e_label_centroids")(spark, dir)),
      "centroid_drift" -> (dir => SparkEntry.queries("q_e_centroid_drift")(spark, dir)),
      "session_windows" -> (dir => SparkEntry.queries("q_t5_session_windows")(spark, dir)),
      "horizon_fanout" -> (dir => SparkEntry.queries("q_w15_horizon_fanout")(spark, dir)),
      "latest_window" -> (dir => SparkEntry.queries("q_w14_latest_window")(spark, dir)),
      "ffill" -> (dir => SparkEntry.queries("q_p12_ffill")(spark, dir)),
      "rolling_median_fill" -> (dir => SparkEntry.queries("q_p11_rolling_median_fill")(spark, dir)),
      "resample_rollup" -> (dir => SparkEntry.queries("q_a1_resample_rollup")(spark, dir)),
      // (q_m_* synthesize fixed-N media independent of dir — no scaling
      // signal to measure, so they stay out of the probe)
      "ingest_health" -> (dir => SparkEntry.queries("q_o_ingest_health")(spark, dir)),
      // the two documented knobs for q_d_jaccard_pairs' sum-df^2 exact
      // verify (its uncapped 10x ratio is 16.3x on the dup-heavy replica
      // corpus): the PPJoin prefix path and the stop-shingle cap —
      // measured here so the "switch for skewed corpora" claim in its
      // doc comment carries a number, not folklore. Direct NearDup calls
      // (no query twin: the cap changes the result set; the prefix path
      // is result-identical and DedupSpec-asserted).
      "jaccard_prefix" -> (dir => graft.dedup.NearDup.exactJaccardPairsPrefix(
        Tables(spark, dir, "documents"), "doc_id", "text", 3, 0.5)),
      "jaccard_capped64" -> (dir => graft.dedup.NearDup.exactJaccardPairs(
        Tables(spark, dir, "documents"), "doc_id", "text", 3, 0.5,
        maxDocsPerShingle = Some(64))),
      // FIXED-DELTA gate variants (r10, the 1000x lesson): the SparkEntry
      // gates hard-code their split at id 400, so at high replica factors
      // the "delta" IS the corpus and the within-batch self-join measures
      // a replica-clique quadratic, not the gate (the 1000x semdedup run
      // was killed ~30 min in with ~1e9 intra-delta candidates
      // outstanding: 2M exact-copy vectors = 1000-cliques in every cell).
      // The claim these gates make at 100 TB is O(delta) PER BATCH
      // against an arbitrarily LARGE corpus — so the top-decade leg holds
      // the batch fixed (ids below 2000 / 200) and scales only the
      // corpus side, which is exactly the production ingest shape.
      "winnow_incr_delta" -> { dir =>
        val d = Tables(spark, dir, "documents")
        graft.dedup.NearDup.incrementalWinnow(
          d.where(col("doc_id") >= 2000), d.where(col("doc_id") < 2000),
          "doc_id", "text", k = 16, w = 8, minShared = 3, stopDf = 64)
      },
      "minhash_incr_delta" -> { dir =>
        val d = Tables(spark, dir, "documents")
        graft.dedup.NearDup.incrementalDedup(
          d.where(col("doc_id") >= 2000), d.where(col("doc_id") < 2000),
          "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5,
          maxDocsPerBand = Some(64))
      },
      "semdedup_incr_delta" -> { dir =>
        val e = Tables(spark, dir, "embeddings")
        // seeds come from the FULL table (ids 0..15 — seedCentroids'
        // convention); in production the quantizer is maintained by
        // StreamingCentroids, independent of any batch split
        val cents = graft.vector.VectorSearch.seedCentroids(
          e, "vec_id", "embedding", 16)
        graft.vector.VectorSearch.incrementalSemDedup(
          e.where(col("vec_id") >= 200), e.where(col("vec_id") < 200),
          "vec_id", "embedding", cents, threshold = 0.35)
      },
      // r11 (VERDICT r10 #1): the STAR-CAPPED semdedup shapes — the
      // adversarial-input posture for the one structure that was still
      // output-quadratic on replica-heavy input. The uncapped
      // delta≈corpus stress was KILLED at 1000× (~1e9 within-cell
      // candidates, r10b); these rows are the same shapes with
      // maxPerCell=64 — hot cells star through the min-id rep, the rep
      // alone probes the corpus, members verify via the rep's top-1
      // match — and must COMPLETE the same decade.
      "semdedup_capped64" -> { dir =>
        val e = Tables(spark, dir, "embeddings")
        val cents = graft.vector.VectorSearch.seedCentroids(
          e, "vec_id", "embedding", 16)
        val pairs = graft.vector.VectorSearch.semDedupPairs(
          e, "vec_id", "embedding", cents, threshold = 0.45,
          maxPerCell = Some(64))
        graft.dedup.NearDup.connectedComponents(pairs, "vec_a", "vec_b")
      },
      "semdedup_incr_capped64" -> { dir =>
        val e = Tables(spark, dir, "embeddings")
        val cents = graft.vector.VectorSearch.seedCentroids(
          e.where(col("vec_id") < 400), "vec_id", "embedding", 16)
        graft.vector.VectorSearch.incrementalSemDedup(
          e.where(col("vec_id") < 400), e.where(col("vec_id") >= 400),
          "vec_id", "embedding", cents, threshold = 0.35,
          maxPerCell = Some(64))
      },
      // r9 second sweep: the remaining DISTINCT physical plan classes
      // measured only at 1x so far (SQL twins / approx twins of probed
      // plans stay out — identical plans carry no new scaling signal).
      "quality_filter_fit" -> (dir => SparkEntry.queries("q_t_quality_filter_fit")(spark, dir)),
      "rolling_corr" -> (dir => SparkEntry.queries("q_w_rolling_corr")(spark, dir)),
      "pivot_lang" -> (dir => SparkEntry.queries("q_a_pivot_lang")(spark, dir)),
      "embed_neardup_pairs" -> (dir => SparkEntry.queries("q_e_embed_neardup_pairs")(spark, dir)),
      "embed_dedup_groups" -> (dir => SparkEntry.queries("q_e_embed_dedup_groups")(spark, dir)),
      "outlier_mad_exact" -> (dir => SparkEntry.queries("q_p_outlier_mad")(spark, dir)),
      "rolling_mse" -> (dir => SparkEntry.queries("q_w16_rolling_mse")(spark, dir)),
      "residual_volatility" -> (dir => SparkEntry.queries("q_w17_residual_volatility")(spark, dir)),
      "histogram" -> (dir => SparkEntry.queries("q_a4_histogram")(spark, dir)),
      "window_inference" -> (dir => SparkEntry.queries("q_u1_window_inference")(spark, dir)),
      "bpe_merge_pairs" -> (dir => SparkEntry.queries("q_t_bpe_merge_pairs")(spark, dir)),
      "pack_efficiency" -> (dir => SparkEntry.queries("q_t_pack_efficiency")(spark, dir)),
      // salting on a UNIFORM corpus: measures the two-stage agg's
      // overhead scaling (the skew benefit itself is proven in
      // AqeSkewSpec's forced-skew plan assertions)
      "salted_summary" -> (dir => SparkEntry.queries("q_a3_salted_summary")(spark, dir)),
      "quantile_bins" -> (dir => SparkEntry.queries("q_p_quantile_bins")(spark, dir))
    )

    // optional arg: comma-separated op-name filter (dev iteration on a
    // few ops without re-measuring all ~50)
    val opsRun: Seq[(String, String => DataFrame)] =
      if (args.nonEmpty) { val only = args(0).split(",").toSet
        ops.filter { case (n, _) => only.contains(n) } }
      else ops

    // release builder caches between ops (the production request-boundary
    // posture) so one op's retained frames don't distort the next op's
    // memory budget — without this the tail ops measure GC pressure, not
    // their own cost.
    // Force FULL materialization (Bench posture: xxhash64 over every
    // column + bit_xor reduce) — count() lets Catalyst prune the body of
    // map-only ops entirely: pii_scrub "measured" 0.13 s at 100x under
    // count() because the scrub expressions never ran (r9 lesson; same
    // trap the round-1 Bench hit).
    def run(f: String => DataFrame, dir: String): Long = {
      val n = Bench.materialize(f(dir))
      CacheScope.release(spark)
      n
    }
    // One op failing (OOM at an adversarial factor is a FINDING, not a
    // harness bug) must not abort the other ~90 ops' sweep: report FAIL,
    // record NaN, release whatever the op retained, keep going.
    def timeSafe(name: String)(f: => Long): Double =
      try time(name)(f) catch {
        case e: Throwable =>
          println(f"$name%-34s FAIL: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").replace('\n', ' ').take(160))
          CacheScope.release(spark)
          Double.NaN
      }
    println("== warmup ==")
    opsRun.foreach { case (_, f) =>
      try run(f, base) catch { case _: Throwable => CacheScope.release(spark) } }
    // Layout ops pay their one-time bucketed write outside the measured
    // window at BOTH scales (warmup covers base; this covers the 10x dir)
    // — their cost model is write-once/query-many, and the write itself
    // is one linear repartition shuffle of events by construction.
    if (opsRun.exists(_._1.startsWith("bucketed"))) {
      sources.BucketedLayout.ensureEventsByUser(spark, big)
      sources.BucketedLayout.ensureUserTiers(spark, big)
    }
    println("== 1x (sf0.1) ==")
    val t1 = opsRun.map { case (n, f) => n -> timeSafe(n)(run(f, base)) }.toMap
    println(s"== ${factor}x (synthetic) ==")
    val t10 = opsRun.map { case (n, f) => n -> timeSafe(n)(run(f, big)) }.toMap
    println(s"== scaling factor (${factor}x time / 1x time; " +
      s"$factor.0 = linear) ==")
    opsRun.foreach { case (n, _) =>
      if (t1(n).isNaN || t10(n).isNaN) println(f"$n%-34s  FAIL")
      else println(f"$n%-34s ${t10(n) / t1(n)}%5.1f x")
    }

    // Opt-in (args contain "accuracy_probe"): sketch-twin error bounds AT
    // SCALE (r9 verdict item 3). AccuracySpec pins the 7 declared
    // no-oracle approx queries at fixture scale only; this leg re-asserts
    // the same relative-error/rank-error disciplines against the exact
    // twins on the replicated corpus — run with PROBE_FACTOR 10 and 100
    // so a sketch whose error compounds with input size (or whose
    // partial-merge path degrades under many-partition merges) fails
    // loudly instead of drifting silently past the fixture. Assertions
    // THROW: an accuracy violation is a finding the sweep must not bury.
    if (args.nonEmpty && args(0).split(",").contains("accuracy_probe")) {
      println(s"== sketch-twin accuracy at ${factor}x ==")
      def q(name: String) = SparkEntry.queries(name)(spark, big)
      def chk(name: String)(body: => String): Unit = {
        val msg = body
        CacheScope.release(spark)
        println(f"$name%-28s $msg")
      }
      // A2: HLL(rsd=0.01) distinct users per event_type vs exact
      // countDistinct — the AccuracySpec 5% envelope (5 sigma of rsd)
      chk("distinct_approx") {
        val approx = q("q_a2_distinct_approx")
          .select("event_type", "approx_users")
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val exact = Tables(spark, big, "events")
          .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(approx.keySet == exact.keySet)
        val worst = exact.keys.map(k =>
          math.abs(approx(k) - exact(k)).toDouble / exact(k)).max
        assert(worst <= 0.05, f"HLL rel err $worst%.4f > 0.05")
        f"max rel err $worst%.4f (bound 0.05)"
      }
      // A4/A5: GK quantiles vs exact percentiles — rank error n/Accuracy
      // translates to tiny value error on the continuous value column;
      // assert the 2% relative envelope per cell (center/scale likewise,
      // scale at 5%: an IQR difference amplifies relative error)
      def relCells(nm: String, exactQ: String, bounds: Map[String, Double])
          : String = {
        val keyCol = "event_type"
        val a = q(nm).collect()
          .map(r => r.getString(0) -> r).toMap
        val e = q(exactQ).collect()
          .map(r => r.getString(0) -> r).toMap
        assert(a.keySet == e.keySet)
        val worst = (for (k <- a.keySet.toSeq; (c, b) <- bounds) yield {
          val av = a(k).getAs[Double](c); val ev = e(k).getAs[Double](c)
          val rel = math.abs(av - ev) / math.max(math.abs(ev), 1e-9)
          assert(rel <= b, f"$nm $k.$c rel err $rel%.4f > $b (exact=$ev approx=$av)")
          rel
        }).max
        f"max rel err $worst%.4f"
      }
      chk("quantiles_approx")(relCells("q_a4_quantiles_approx",
        "q_a4_quantiles",
        Map("q25" -> 0.02, "q50" -> 0.02, "q75" -> 0.02)))
      chk("robust_scaler_approx")(relCells("q_a5_robust_scaler_approx",
        "q_a5_robust_scaler_params",
        Map("center" -> 0.02, "scale" -> 0.05)))
      // active users: per-day HLL DAU/WAU within max(5%, 3) of exact
      chk("active_users_approx") {
        val a = q("q_a_active_users_approx")
          .collect().map(r => r.get(0).toString ->
            (r.getLong(1), r.getLong(2))).toMap
        val e = q("q_a_active_users")
          .collect().map(r => r.get(0).toString ->
            (r.getLong(1), r.getLong(2))).toMap
        assert(a.keySet == e.keySet, "twin must cover the same days")
        val worst = e.keys.map { d =>
          val (dau, wau) = e(d); val (da, wa) = a(d)
          assert(math.abs(da - dau) <= math.max(0.05 * dau, 3),
            s"day $d dau exact=$dau approx=$da")
          assert(math.abs(wa - wau) <= math.max(0.05 * wau, 3),
            s"day $d wau exact=$wau approx=$wa")
          math.max(math.abs(da - dau).toDouble / math.max(dau, 1),
            math.abs(wa - wau).toDouble / math.max(wau, 1))
        }.max
        f"max rel err $worst%.4f (bound 0.05)"
      }
      // P9: winsorize — the sketch contract is on the CUT, not the rows.
      // ANY cut-value difference (approx returns a sample; exact
      // interpolates) re-labels the ENTIRE clipped tail — ~2% of rows —
      // so a small row-diff bound is the wrong metric (first 10x run:
      // 1.4% differing rows from a perfectly rank-valid cut). Assert
      // what approx_percentile actually promises: each approx cut's
      // EMPIRICAL RANK in the big corpus sits within 1/Accuracy of the
      // target percentile (ties at the cut make the rank an interval
      // [lt/n, le/n] — measure distance from that interval). Backstop:
      // interior rows are identical by construction, so the differing-
      // row fraction is bounded by the two tails' mass, ≤ 2(p + ε).
      chk("winsorize_approx") {
        val acc = graft.queries.ApproxQueries.Accuracy
        val evs = Tables(spark, big, "events")
          .where(col("value").isNotNull)
        val cuts = evs.groupBy("event_type")
          .agg(expr(s"approx_percentile(value, array(0.01, 0.99), $acc)")
            .as("__p"))
          .select(col("event_type"), element_at(col("__p"), 1).as("lo"),
            element_at(col("__p"), 2).as("hi"))
        val eps = 1.0 / acc
        val worst = evs.join(broadcast(cuts), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum((col("value") < col("lo")).cast("long")).as("lt_lo"),
            sum((col("value") <= col("lo")).cast("long")).as("le_lo"),
            sum((col("value") < col("hi")).cast("long")).as("lt_hi"),
            sum((col("value") <= col("hi")).cast("long")).as("le_hi"))
          .collect().map { r =>
            val n = r.getAs[Long]("n").toDouble
            def rankErr(lt: Long, le: Long, p: Double): Double =
              math.max(lt / n - p, p - le / n)
            val err = math.max(
              rankErr(r.getAs[Long]("lt_lo"), r.getAs[Long]("le_lo"), 0.01),
              rankErr(r.getAs[Long]("lt_hi"), r.getAs[Long]("le_hi"), 0.99))
            assert(err <= eps + 1e-9,
              f"winsorize cut rank err $err%.6f > $eps for " +
                s"${r.getAs[String]("event_type")}")
            err
          }.max
        val a = q("q_p9_winsorize_approx")
          .select(col("event_type"), col("event_id"),
            col("value_clipped").as("va"))
        val e = q("q_p9_winsorize")
          .select(col("event_type"), col("event_id"),
            col("value_clipped").as("ve"))
        val j = a.join(e, Seq("event_type", "event_id"), "full")
          .agg(count(lit(1)).as("n"),
            // null-safe: both-null = agreement (review r13, the
            // ApproxBounds fix mirrored)
            sum((!(col("va") <=> col("ve"))).cast("long")).as("diff"))
          .head()
        val frac = j.getLong(1).toDouble / j.getLong(0)
        assert(frac <= 2 * (0.01 + eps) + 0.001,
          f"winsorize differing-row frac $frac%.5f exceeds the two tails' " +
            f"mass bound ${2 * (0.01 + eps) + 0.001}%.5f")
        f"max cut rank err $worst%.6f (bound $eps), tail-diff frac $frac%.5f"
      }
      // MAD gate: flagged fraction within 0.005 of the exact gate
      chk("outlier_mad_approx") {
        val a = q("q_p_outlier_mad_approx").select("event_type", "out_frac")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        val e = q("q_p_outlier_mad").select("event_type", "out_frac")
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(a.keySet == e.keySet)
        val worst = e.keys.map(k => math.abs(a(k) - e(k))).max
        assert(worst <= 0.005, f"MAD out_frac delta $worst%.5f > 0.005")
        f"max out_frac delta $worst%.5f (bound 0.005)"
      }
      // curriculum phases: partition identity + per-phase rank-error
      chk("curriculum_phases_approx") {
        val a = q("q_s_curriculum_phases_approx").select("phase", "n_docs")
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val e = q("q_s_curriculum_phases").select("phase", "n_docs")
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val total = e.values.sum
        assert(a.values.sum == total, "phases must partition the corpus")
        val tol = math.max(
          total / graft.queries.ApproxQueries.Accuracy + 1, 16)
        val worst = (1 to 3).map { ph =>
          val d = math.abs(e(ph) - a.getOrElse(ph, 0L))
          assert(d <= tol, s"phase $ph exact=${e(ph)} approx=${a.getOrElse(ph, 0L)} tol=$tol")
          d
        }.max
        s"max phase delta $worst (tol $tol, total $total)"
      }
      println(s"== sketch-twin accuracy at ${factor}x: ALL BOUNDS HELD ==")
    }

    // Opt-in (args contain "rollup_upsert_probe"): per-batch cost of the
    // streaming rollup maintainer vs STANDING STATE SIZE. The claim under
    // test is O(batch + touched buckets' key rows) per batch, never
    // O(state): the same 8-key batch is merged into a 20k-key and a
    // 200k-key state (256 buckets — ≤8 touched, so the state-dependent
    // term is ≤8/256 of the key rows). A full-state-rescan implementation
    // would show ~10×; the bucketed merge should stay well under.
    if (args.nonEmpty && args(0).split(",").contains("rollup_upsert_probe")) {
      import graft.streaming.StreamIngest
      def freshState(nKeys: Int, tag: String): String = {
        val p = s"/tmp/graft_rollup_probe_$tag"
        org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(p), true)
        val seed = spark.range(nKeys)
          .selectExpr("concat('key', id) AS k",
            "CAST(id % 997 AS DOUBLE) / 100 AS v")
        StreamIngest.rollupUpsertPartitioned(p, Seq("k"), "v",
          nBuckets = 256)(seed, 0L)
        p
      }
      val batch = spark.range(8)
        .selectExpr("concat('key', id * 7) AS k", "CAST(id AS DOUBLE) AS v")
        .cache()
      batch.count()
      println("== rollup upsert: batch cost vs standing-state size ==")
      val small = freshState(20000, "1x")
      val bigSt = freshState(200000, "10x")
      // warm both paths once (fresh parquet footers), then measure
      StreamIngest.rollupUpsertPartitioned(small, Seq("k"), "v", 256)(batch, 1L)
      StreamIngest.rollupUpsertPartitioned(bigSt, Seq("k"), "v", 256)(batch, 1L)
      val s1 = time("batch into 20k-key state") {
        StreamIngest.rollupUpsertPartitioned(small, Seq("k"), "v", 256)(batch, 2L); 8L
      }
      val s10 = time("batch into 200k-key state") {
        StreamIngest.rollupUpsertPartitioned(bigSt, Seq("k"), "v", 256)(batch, 2L); 8L
      }
      println(f"rollup_upsert_batch state-ratio ${s10 / s1}%5.1f x (10.0 = O(state) rescan)")
    }
    spark.stop()
  }
}
