package graft


/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints the record JSON line with per-query and total wall-clock seconds
  * — twice (first and last), with a one-line-per-query ledger between, so
  * a truncated capture from either side still yields the data (VERDICT r5
  * item 7: BENCH_r05 lost q01–q09 to a head-truncated capture).
  *
  * Queries are forced through the `noop` datasource sink rather than
  * `count()`: count() lets Catalyst prune expensive projected columns
  * (a normalize/fingerprint query would measure only its scan), while the
  * noop sink materializes every output column without write-side cost.
  * One warmup query runs first so JVM/codegen startup is not charged to
  * the first measured query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // UTC pinned like Verify: the events NTZ->timestamp normalization and
    // window bucketing must shape queries identically under any runner,
    // not only sbt-forked JVMs that inherit build.sbt's -D flag
    val spark = MainSupport.localSession(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      // in-suite JVM-aging relief (VERDICT r12 item 1): a 147-query ×
      // 3-sample run retains ~450 executions of plan/metric state in the
      // SQL status store at the default 1000 — dead heap that grows GC
      // pressure exactly as the run proceeds. The bench reads none of it.
      "spark.sql.ui.retainedExecutions" -> "8",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100")

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // warmup: JVM + codegen + parquet footer caches
    try force(SparkEntry.entry(spark)) catch { case _: Throwable => () }

    // Median of 3 samples per query: one sample is not a measurement — a
    // co-located load spike on the driver machine poisoned a whole round's
    // record (r2: 59.8 s recorded vs 38.4 s on a quiet machine, unchanged
    // code). The median self-corrects a single contended run.
    val Samples = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt)
    // Optional subset filter (comma-separated keys) for spot checks at
    // large scale factors where the full set would take hours (the q10
    // pair count is quadratic by semantics). The driver never sets this;
    // a filtered total is a spot check, not a round record.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val splitKeys = Set("q38_build", "q38_probe", "q48_probe", "q53_probe",
      "q55_graphbuild", "q55_probe", "q57_codes", "q57_probe",
      "q62_build", "q62_pairs", "q152_build", "q152_serve")
    only.foreach { keys =>
      // fail LOUD on empty/unknown keys: a typo'd filter would otherwise
      // print a 0-second "benchmark" that looks like a perfect result
      val unknown = keys -- SparkEntry.queries.keySet -- splitKeys
      require(keys.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY: empty or unknown keys [${unknown.mkString(",")}] — " +
          s"valid keys are the declared query names and ${splitKeys.mkString("/")}")
    }
    val selected = only.fold(SparkEntry.queries)(keys => SparkEntry.queries.filter(q => keys(q._1)))
    // A failing query records -1 and the run CONTINUES: round 9 lost the
    // timings of 90 healthy queries because one broken fixture read
    // aborted the whole record (VERDICT r9 item 2). Fail-loud stays (the
    // error prints, the process exits nonzero at the end, the record is
    // marked partial) — fail-empty does not.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.toSeq.sortBy { case (n, _) => orderKey(n) }.map { case (name, fn) =>
      val times = (1 to Samples).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { force(fn(spark, sfDir)); true } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name FAILED: $e"); false
        }
        // elapsed captured BEFORE cache teardown: clearCache scopes the
        // per-query cached subtrees (q16/q18 shingles, q04/q05 vocab) to
        // this sample but its cost is not part of the query.
        val elapsed = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        if (ok) Some(elapsed) else None
      }
      // explicit GC between rows (cost charged to no query): the
      // ContextCleaner frees accumulated broadcasts/shuffles only when
      // their weak refs are collected, and evicted codegen classes only
      // unload on a full GC — without the nudge both pile up across the
      // ~450-execution run and the late rows pay (VERDICT r12 item 1)
      System.gc()
      if (times.size < Samples) failed += name
      name -> (if (times.isEmpty) -1.0 else median(times))
    }
    // Attributable index timing (VERDICT r3 item 5): q38/q48/q53/q55 time
    // build+persist+probe inside one closure by design, so their headline
    // numbers track write-path noise. These EXTRA keys split the phases —
    // one timed build, then median-of-Samples probes against the prebuilt
    // index — and are NOT added to `total`, which stays the comparable
    // sum of the declared queries.
    // Each split key is gated INDIVIDUALLY on a filtered run (ADVICE r4):
    // selecting q38_probe times the IVF build (the unavoidable shared
    // prerequisite) but runs/prints no other probe, and the graph
    // construction runs only when a q55 split key asked for it.
    val wantedSplit: Set[String] = only.fold(splitKeys)(keys => splitKeys.intersect(keys))
    val split: Seq[(String, Double)] =
      if (wantedSplit.isEmpty) Seq.empty
      else try {
        import graft.operators.{GraphAnn, IvfIndex, Pq}
        import org.apache.spark.sql.functions.col
        import MainSupport.timed
        def medOf(f: => Unit): Double = median(
          (1 to Samples).map { _ => val t = timed(f); spark.catalog.clearCache(); t })
        val emb      = Tables.embeddings(spark, sfDir)
        val indexDir = java.nio.file.Files.createTempDirectory("graft_bench_ivf").toString
        val buildSec = timed(IvfIndex.build(spark, emb, indexDir))
        val q  = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val qf = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"), col("label").as("qlabel"))
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        if (wantedSplit("q38_build")) out += "q38_build" -> buildSec
        if (wantedSplit("q38_probe"))
          out += "q38_probe" -> medOf(force(IvfIndex.probe(spark, indexDir, q, k = 3, nprobe = 1)))
        if (wantedSplit("q48_probe"))
          out += "q48_probe" -> medOf(force(IvfIndex.probeFiltered(spark, indexDir, qf, k = 3, nprobe = 1)))
        if (wantedSplit("q53_probe"))
          out += "q53_probe" -> medOf(force(IvfIndex.probe(spark, indexDir, q, k = 3, nprobe = 2)))
        if (wantedSplit("q55_graphbuild") || wantedSplit("q55_probe")) {
          // NSW construction is the engine's most expensive single
          // component (VERDICT r4) — timed separately so a construction
          // regression cannot hide inside q55's lifecycle number
          val graphSec = timed(GraphAnn.buildGraphs(spark, indexDir, m = 8, efConstruction = 32))
          if (wantedSplit("q55_graphbuild")) out += "q55_graphbuild" -> graphSec
          if (wantedSplit("q55_probe"))
            out += "q55_probe" -> medOf(force(GraphAnn.probeGraph(spark, indexDir, q, k = 3, nprobe = 1, ef = Int.MaxValue)))
        }
        if (wantedSplit("q62_build") || wantedSplit("q62_pairs")) {
          // sign-bit near-dup lifecycle split: the scan-local quantizer
          // build (no training pass) vs the co-bucketed pair ranking —
          // separately attributable so a regression in either half of the
          // 100 TB dedup path cannot hide inside q62's lifecycle number
          val sbDir = java.nio.file.Files.createTempDirectory("graft_bench_signbit").toString
          val sbBuildSec = timed(IvfIndex.buildSignBit(spark, emb, sbDir))
          if (wantedSplit("q62_build")) out += "q62_build" -> sbBuildSec
          if (wantedSplit("q62_pairs"))
            out += "q62_pairs" -> medOf(force(graft.operators.Dedup.nearDupPairsViaIndex(spark, sbDir, k = 100)))
        }
        if (wantedSplit("q152_build") || wantedSplit("q152_serve")) {
          // serving-composition lifecycle split: the once-per-snapshot
          // artifact build (tf + embeddings + sign-bit index) vs the
          // query-many serve (fused rank + MMR) — the declared q152 row
          // times both in one closure by design, so its headline tracks
          // the build; this split attributes the steady-state serve cost
          import graft.operators.Serving
          val docs = Tables.documents(spark, sfDir)
          var sDir: String = null
          val sBuildSec = timed { sDir = Serving.buildServingArtifacts(spark, docs) }
          if (wantedSplit("q152_build")) out += "q152_build" -> sBuildSec
          if (wantedSplit("q152_serve"))
            out += "q152_serve" -> medOf(force(Serving.serve(spark, sDir)))
        }
        if (wantedSplit("q57_codes") || wantedSplit("q57_probe")) {
          // PQ lifecycle split: codebook train + code layout write vs the
          // ADC probe alone — SAME training bound and covering shortlist
          // as the declared q57 (shared helpers, so the bench cannot
          // silently time a different probe than the query it attributes)
          val cb = Pq.lifecycleTrain(spark, emb)
          val codesSec = timed(Pq.buildCodes(spark, indexDir, cb))
          if (wantedSplit("q57_codes")) out += "q57_codes" -> codesSec
          if (wantedSplit("q57_probe"))
            out += "q57_probe" -> medOf(force(Pq.probeCompressed(spark, indexDir, cb, q, k = 3, nprobe = 1,
              shortlist = Pq.coveringShortlist(spark, indexDir))))
        }
        out.toSeq
      } catch {
        // NonFatal only, and LOUD: silently missing split keys would hide
        // exactly the probe regression this block exists to attribute
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] split index timing failed: $e")
          Seq.empty
      }
    // seconds at 4 dp: sub-0.1ms digits are noise, and halving the record
    // line's length doubles what survives a truncated capture
    def fmt(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = (results ++ split).map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // total sums only the FULLY-healthy rows: -1 sentinels must not
    // subtract from the comparable total, and a query that failed SOME of
    // its samples (ADVICE r10) is excluded too — its surviving-sample
    // median still prints per-query, but a degraded-sampling median must
    // not blend into a total that looks like a clean round record
    val total = fmt(results.collect { case (n, v) if v >= 0 && !failed.contains(n) => v }.sum)
    // a filtered or partially-failed run is marked IN THE DATA — its
    // total must never be mistakable for a full clean round record
    val tag = (if (only.isDefined) ""","filtered":true""" else "") +
      (if (failed.nonEmpty) s""","failed":[${failed.map("\"" + _ + "\"").mkString(",")}]""" else "")
    val record =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$tag,"total_sec":$total}"""
    // The record prints FIRST and LAST with a per-query ledger between:
    // BENCH_r05 lost q01-q09 to a head-truncated capture, so one copy at
    // either end survives truncation from either side, and the one-line-
    // per-query ledger recovers individual numbers even if both copies
    // are cut. Identical copies: any parser taking first or last match
    // reads the same record.
    println(record)
    (results ++ split).foreach { case (k, v) => println(s"""{"bench_query":"$k","sec":${fmt(v)}}""") }
    println(record)
    // LAST line: the ten heaviest per-row timings, compact — the driver
    // retains only the final ~2000 chars of output, and heaviest-first
    // execution pushes exactly the gated rows (q92/q57-class) off that
    // tail. This line guarantees the externally-retained evidence always
    // carries them regardless of execution order (VERDICT r13 item 3).
    val top10 = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => s"$k:${fmt(v)}" }.mkString(" ")
    println(s"TOP10 $top10")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** In-suite execution order: UNLISTED keys first (new queries get the
    * freshest JVM — they have no fork history yet to reconcile against),
    * then this pinned descending-cost order (r13 sf0.1 baseline run).
    * Rationale (VERDICT r12 item 1): the in-suite JVM ages with
    * executed-query count — the round-11 boundary study measured ×2–3 on
    * late rows, and BENCH_r12 recorded q92 at 38.5 s vs its 10.98 s fork
    * certification purely because the former lexicographic order ran the
    * heaviest compositions LAST, behind 400+ executions. Heaviest-first
    * runs them in the fresh JVM and lands the residual aging tax on the
    * sub-second tail, where it is absolute noise. The TOTAL is
    * order-invariant, so the cross-round headline stays comparable.
    */
  private val heavyFirst: Seq[String] = Seq(
    "q92_curation_pipeline", "q121_rm3_expand",
    "q70_fuzzy_sentence_dedup", "q104_ndcg_eval",
    "q04_vocab_build_minfreq", "q57_ivfpq_probe",
    "q105_mmr_diversify",
    "q96_hybrid_rrf", "q127_dedup_bias_audit",
    "q110_overlap_pagerank", "q93_dup_span_remove",
    "q64_recall_audit", "q74_dup_clusters",
    "q38_ivf_index_probe",
    "q67_decontaminate_bloom", "q125_ql_rank",
    "q55_graph_ann_probe",
    "q134_score_rank_corr", "q60_decontaminate",
    "q102_semdedup", "q83_leakage_safe_split",
    "q48_filtered_index_probe",
    "q53_multiprobe_index", "q73_simhash_neardup",
    "q126_data_quality", "q111_containment_dedup",
    "q132_power_iteration", "q95_bm25_rank",
    "q63_cross_modal_index", "q108_lsh_audit",
    "q80_incremental_dedup", "q106_perplexity_bucket",
    "q75_dup_span_coverage", "q56_index_blocked_neardup",
    "q16_minhash_lsh_dedup", "q133_cluster_keywords",
    "q139_ngram_novelty", "q112_ngram_diversity",
    "q65_describe_collection", "q62_scaled_neardup",
    "q118_overlap_triangles", "q101_kmeans_assign",
    "q100_hamming_rerank", "q130_filter_funnel",
    "q115_pmi_cooccur", "q128_domain_kl",
    "q68_sentence_dedup", "q142_knn_calibration",
    "q107_matryoshka_recall", "q103_cluster_purity",
    "q05_tokenize_pad", "q12_payload_enrich_join",
    "q50_tfidf_top_terms", "q18_ngram_jaccard",
    "q51_repetition_stats", "q03_upsert_latest",
    "q24_ann_ivf_topk", "q02_knn_top1_filtered",
    "q79_percentile_select", "q78_bigram_logprob",
    "q145_langid_confusion", "q144_quant_calibrate",
    "q122_event_transitions", "q123_interarrival_stats",
    "q91_winnow_matches", "q01_knn_topk_cosine",
    "q138_recommend_multi", "q94_importance_select",
    "q27_top_customers", "q76_quality_quota",
    "q17_simhash_fingerprint", "q120_rate_bursts",
    "q131_fuzzy_link", "q58_pixel_resize",
    "q113_funnel_steps", "q97_knn_classify",
    "q98_triplet_mining", "q41_embed_text",
    "q117_mad_outliers", "q54_encode_persisted_vocab",
    "q47_detokenize", "q72_unigram_logprob",
    "q109_zipf_slope", "q119_isotropy_report",
    "q99_hamming_topk", "q33_padding_mask",
    "q28_sessionize", "q29_json_payload_stats",
    "q77_token_budget_select", "q45_dedup_purge",
    "q114_rfm_segments", "q19_lang_id",
    "q32_chunk_documents", "q116_entity_tag",
    "q146_shipping_priority", "q59_cross_modal_search",
    "q136_late_event_audit", "q31_asof_join",
    "q07_maxlen_by_lang", "q61_domain_mix",
    "q140_value_histogram", "q36_value_quantiles",
    "q147_token_dedup_inflation", "q66_salted_join",
    "q10_near_dup_pairs",
    "q135_key_skew_audit", "q23_normalize_embeddings",
    "q37_set_ops_split", "q49_quantize_int8",
    "q30_event_rollup", "q87_tokenizer_fertility",
    "q129_pps_sample", "q14_text_stats",
    "q11_label_centroids", "q137_range_search",
    "q44_event_cube", "q26_pricing_summary",
    "q69_pack_sequences", "q22_doc_fingerprint",
    "q20_quality_score", "q35_event_type_pivot",
    "q124_numeric_corr", "q15_exact_dedup",
    "q84_bpe_pair_counts", "q82_lang_sample",
    "q21_token_count", "q13_event_window_stats",
    "q52_pii_redact", "q86_bpe_encode",
    "q89_length_buckets", "q85_text_clean",
    "q08_instruction_parse", "q34_softmax_relu",
    "q06_split_train_val", "q43_layernorm",
    "q88_temperature_resample", "q46_range_tier_join",
    "q09_base64_payload", "q71_greedy_decode",
    "q141_shard_balance", "q39_frame_sample",
    "q42_decode_step", "q81_shard_shuffle",
    "q143_privacy_kanon", "q25_multimodal_decode",
    "q90_winnow_fingerprint", "q40_resize")

  private def orderKey(name: String): (Int, Int, String) = {
    val i = heavyFirst.indexOf(name)
    if (i < 0) (0, 0, name) else (1, i, name)
  }

  /** True median: average the two middles on an even sample count
    * (upper-middle alone would bias a 2-sample run toward the worse run).
    * ONE definition shared by the declared-query loop and the split index
    * timing, so all recorded medians stay methodologically identical
    * (ADVICE r11).
    */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

}
