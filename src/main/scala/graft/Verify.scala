package graft
import java.nio.file.{Files, Paths}
import Harness.{jsonString => q}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 1 (CORRECTNESS_r01.json came back `{}`):
  *  - oracle_sql.json is written FIRST, so a partial run (driver timeout)
  *    still yields per-query gate entries for everything completed.
  *  - queries run cheap-first, so a timeout truncates the expensive tail,
  *    not a random prefix.
  *  - per-query wall time + running total on stderr for postmortems.
  *  - optional soft deadline (SPARK_GRAFT_VERIFY_BUDGET_S): once exceeded,
  *    remaining queries are skipped loudly instead of blowing the budget.
  */
object Verify {
  // Ascending expected cost at sf0.01 (measured locally, refreshed round 5
  // with the round-4 additions in measured positions); unknown names sort last.
  private val costOrder: Seq[String] = Seq(
    "q_split", "q_cap_per_source", "q_vector_fns", "q_fingerprint", "q_quality",
    "q_token_count", "q_repetition", "q_pii", "q_redact_pii", "q_quantize",
    "q_text_normalize", "q_unicode_normalize", "q_lang_script", "q_unicode_tokens",
    "q_length_hist", "q_domain_profile", "q_canon_dedup",
    "q_gopher_rules", "q_lang_id", "q_hll", "q_mix_weights",
    "q_knn_graph", "q_knn_graph_auto", "q_bigram_surprisal", "q_minhash_audit",
    "q_shuffle_shards", "q_reservoir_sample", "q_chunk", "q_mix_interleave",
    "q_corpus_drift", "q_doc_topics",
    "q_curriculum", "q_pad_batches", "q_repetition_budget",
    "q_dup_cluster_hist", "q_embed_stats", "q_knn_label_vote", "q_pca_top",
    "q_pca_project", "q_neyman", "q_neyman_sample",
    "q_funnel", "q_retention", "q_containment",
    "q_funnel_windowed", "q_time_to_convert", "q_attribution", "q_rfm",
    "q_kcenter", "q_centrality", "q_cluster_split", "q_semantic_decontaminate",
    "q_nb_classifier", "q_dsir_weights", "q_auc",
    "q_ann_pq", "q_ann_ivfpq",
    "q_dedup_exact", "q_source_overlap", "q_leakage_split", "q_stratified_sample",
    "q_weighted_sample", "q_percentiles",
    "q_pack_shards", "q_curation_funnel", "q_vocab",
    "q_top_ngrams", "q_surprisal", "q_tfidf", "q_cms", "q_substring_dedup",
    "q_bloom_decontaminate",
    "q_subword_vocab", "q_bpe_tokens", "q_bpe_budget", "q_bpe_train", "q_bpe_train_batched",
    "q_bpe_segment", "q_fertility", "q_pmi", "q_char_entropy", "q_ngram_diversity",
    "q_oov_rate", "q_zipf", "q_readability", "q_prefix_dedup",
    "q_chi2_terms", "q_jaccard_join", "q_jaccard_collapsed", "q_kcenter_sampled",
    "q_lsh_recall", "q_dedup_curve", "q_selfbleu", "q_burstiness",
    "q_seasonality", "q_ks_drift", "q_novelty", "q_rrf", "q_bm25",
    "q_percentiles_hist", "q_rank_eval", "q_fuzzy_join", "q_fuzzy_join_indel",
    "q_novelty_incremental", "q_ann_incremental", "q_ann_incremental_kscaled",
    "q_ann_incremental_dist",
    "q_user_concentration", "q_concentration_profile", "q_churn", "q_skipgram",
    "q_calibration", "q_calibration_hist",
    "q_anomaly_days", "q_session_stats", "q_ab_lift",
    "q_blocklist", "q_moments", "q_props_profile", "q_stickiness",
    "q_stickiness_hll",
    "q_transitions", "q_top_paths",
    "q_term_rarity", "q_decontaminate", "q_contaminated_by", "q_line_dedup", "q_window_agg",
    "q_sessionize", "q_event_sequences",
    "q1_pricing", "q3_shipping", "q_rand_gaussian",
    "q_ngram_jaccard", "q_pmm", "q_ann_topk", "q_ukf", "q_raukf", "q_ckf", "q_rts",
    "q_gmm", "q_bmm", "q_asof_join", "q_range_join", "q_ann_lsh", "q_embed_neardup", "q_rls",
    "q_multistep", "q_multimodal", "q_image_dedup", "q_image_dedup_png",
    "q_image_dedup_jpeg", "q_audio_dedup",
    "q_video_dedup", "q_multimodal_audio", "q_multimodal_video",
    "q_lkf_blr", "q_ekf", "q_lkf_llt", "q_outlier", "q_lms",
    "q_dedup_simhash", "q_mmae", "q_ann_ivf", "q_ann_ivf_kmeans", "q_silhouette",
    "q_dedup_minhash", "q_dedup_minhash_groups", "q_dedup_incremental",
    "q_dedup_keep_longest", "q_dedup_pipeline", "q_semdedup")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val t0 = System.nanoTime()
    // SPARK_GRAFT_VERIFY_ONLY=q_a,q_b runs a subset (targeted re-checks
    // after an oracle edit without the full sweep); default = everything.
    val ordered = Harness.only("SPARK_GRAFT_VERIFY_ONLY", SparkEntry.queries.keys.toSeq)
      .sortBy { n => val i = costOrder.indexOf(n); (if (i < 0) Int.MaxValue else i, n) }
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_VERIFY_BUDGET_S", "2400").toDouble
    new java.io.File(outDir).mkdirs()

    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] oracle_sql.json written (${SparkEntry.oracleSql.size} oracles)")

    val spark = Harness.session()

    def elapsedS: Double = (System.nanoTime() - t0) / 1e9
    var failures = 0
    ordered.foreach { name =>
      if (elapsedS > budgetS) {
        System.err.println(f"[verify] $name SKIPPED (budget ${budgetS}%.0fs exceeded at ${elapsedS}%.1fs)")
      } else {
        try {
          val (s, _) = Harness.timedQuery(SparkEntry.queries(name)(spark, sfDir)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
          System.err.println(f"[verify] $name ok in ${s}%.1fs (total ${elapsedS}%.1fs)")
        } catch { case e: Throwable =>
          failures += 1
          System.err.println(s"[verify] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    System.err.println(f"[verify] done: ${ordered.size - failures}/${ordered.size} written in ${elapsedS}%.1fs")
    spark.stop()
  }
}
