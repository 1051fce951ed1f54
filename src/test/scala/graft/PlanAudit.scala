package graft


/** Dev-only plan audit (Test scope): prints condensed physical plans of
  * scale-sensitive queries so shuffle/join/pushdown shape is reviewable.
  * Run: sbt "Test/runMain graft.PlanAudit"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4, 4, "ERROR")
    val dir = "/root/testdata/sf0.01"
    val interesting = Seq("q_e_cosine_topk", "q_e_ann_lsh_topk",
      "q_p9_winsorize", "q_scan_range", "q_latest_n",
      "q_d_minhash_lsh_pairs", "q_j1_overlay_join", "q_u1_window_inference",
      "q_sql_range_scan",
      "q_s_stratified_sample", "q_t_sequence_pack", "q_e_ivf_topk",
      "q_m_decode_profile",
      "q_d_incremental_dedup", "q_t_chunk_overlap", "q_s_fixed_k_sample",
      "q_a_zorder_layout", "q_t_unigram_logprob",
      "q_e_pq_topk", "q_t_chunk_dedup", "q_j_range_join", "q_w_prox_count",
      "q_t_token_budget",
      "q_t_bloom_decontaminate", "q_e_sem_decontaminate",
      "q_e_hard_negatives", "q_e_dim_stats", "q_d_norm_dedup",
      "q_t_length_drift", "q_a_rollup_levels", "q_a_pivot_lang",
      "q_r_set_ops")
    interesting.foreach { name =>
      println(s"\n================ $name ================")
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString()
      // condensed: node lines only
      plan.split("\n").filter(l => l.contains("(") || l.trim.startsWith("+-") ||
        l.trim.startsWith(":") || l.trim.startsWith("*")).take(40)
        .foreach(println)
    }
    spark.stop()
  }
}
