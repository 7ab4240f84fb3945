package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print formatted physical plans for the queries whose shape
  * matters at scale, to audit pushdown/pruning/broadcast/codegen
  * (`runMain graft.Explain [sfDir] [query ...]`). With `-x` as the first
  * query arg, each query EXECUTES (noop sink) before printing, so the
  * output is the FINAL adaptive plan — what AQE actually picked at this
  * fixture size — instead of the static initial plan. Every query prints
  * the plan of the frame its public call returns; a call that materializes
  * stages while it builds that frame (q70, q92: cache + localCheckpoint)
  * prints an RDD scan for them. PlanShapeSpec pins the plans such calls
  * execute.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val execute = args.length > 1 && args(1) == "-x"
    val rest = if (execute) args.drop(2).toSeq else args.drop(1).toSeq
    val names = if (rest.nonEmpty) rest
                else Seq("q01_knn_topk_cosine", "q12_payload_enrich_join", "q26_pricing_summary",
                         "q27_top_customers", "q13_event_window_stats",
                         "q47_detokenize", "q49_quantize_int8",
                         "q53_multiprobe_index", "q55_graph_ann_probe",
                         "q56_index_blocked_neardup", "q57_ivfpq_probe",
                         "q59_cross_modal_search", "q60_decontaminate",
                         "q62_scaled_neardup", "q63_cross_modal_index",
                         "q64_recall_audit", "q66_salted_join",
                         "q70_fuzzy_sentence_dedup", "q73_simhash_neardup",
                         "q74_dup_clusters", "q75_dup_span_coverage",
                         "q76_quality_quota", "q77_token_budget_select",
                         "q78_bigram_logprob", "q79_percentile_select",
                         "q80_incremental_dedup", "q81_shard_shuffle",
                         "q82_lang_sample", "q83_leakage_safe_split",
                         "q86_bpe_encode", "q87_tokenizer_fertility",
                         "q88_temperature_resample", "q89_length_buckets",
                         "q90_winnow_fingerprint", "q91_winnow_matches",
                         "q92_curation_pipeline", "q93_dup_span_remove",
                         "q94_importance_select", "q95_bm25_rank",
                         "q96_hybrid_rrf", "q97_knn_classify",
                         "q98_triplet_mining", "q99_hamming_topk",
                         "q100_hamming_rerank", "q101_kmeans_assign",
                         "q102_semdedup", "q103_cluster_purity",
                         "q104_ndcg_eval", "q105_mmr_diversify",
                         "q106_perplexity_bucket", "q107_matryoshka_recall",
                         "q108_lsh_audit", "q109_zipf_slope",
                         "q110_overlap_pagerank", "q111_containment_dedup",
                         "q112_ngram_diversity", "q113_funnel_steps",
                         "q114_rfm_segments", "q115_pmi_cooccur",
                         "q116_entity_tag", "q117_mad_outliers",
                         "q118_overlap_triangles", "q119_isotropy_report", "q120_rate_bursts", "q121_rm3_expand", "q122_event_transitions", "q123_interarrival_stats", "q124_numeric_corr", "q125_ql_rank", "q126_data_quality", "q127_dedup_bias_audit",
                         "q128_domain_kl", "q129_pps_sample",
                         "q130_filter_funnel", "q131_fuzzy_link",
                         "q132_power_iteration", "q133_cluster_keywords",
                         "q134_score_rank_corr", "q135_key_skew_audit",
                         "q136_late_event_audit",
                         "q137_range_search", "q138_recommend_multi",
                         "q139_ngram_novelty", "q140_value_histogram",
                         "q141_shard_balance", "q142_knn_calibration",
                         "q143_privacy_kanon",
                         "q144_quant_calibrate", "q145_langid_confusion",
                         "q146_shipping_priority", "q147_token_dedup_inflation",
                         "q148_semdedup_scaled", "q149_local_supplier_volume",
                         "q150_keep_best_dedup", "q152_serving_pipeline")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // execute the df's OWN QueryExecution (a noop write would plan a
      // separate one, leaving this plan isFinalPlan=false); consume every
      // partition iterator so the result stage actually computes its rows
      // (ADVICE r17: an unconsumed iterator skips final-stage compute),
      // and the AdaptiveSparkPlan mutates in place so the print below is
      // what AQE actually ran
      if (execute)
        df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
