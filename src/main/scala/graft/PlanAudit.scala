package graft

/** Physical-plan audit: prints `explain(formatted)` for representative
  * queries and greps the properties that matter at 100 TB — pushed
  * filters, pruned read schemas, broadcast vs shuffle joins, and
  * whole-stage-codegen coverage. Run: `runMain graft.PlanAudit [sfDir]`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // AQE off HERE ONLY: an unexecuted AdaptiveSparkPlan hides the
    // codegen-id annotations this audit wants to count (Bench and the
    // driver contract keep AQE on)
    val spark = GraftSession.build(GraftSession.cpus,
      "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")

    val picks = Seq(
      "q1_agg", "q2_join_agg", "q3_window_topk", // relational: pushdown + broadcast
      "f_linear_trend", "p_roll",                // window/agg features
      "s_cosine_topk", "d_minhash_lsh",          // pipeline extensions
      "s_ann_ivf", "d_neardup_groups",           // round 3: IVF argmax projection; LSH→components
      "s_ann_pq",                                // PQ compress + ADC lookup ranking
      "j_asof_backward", "j_range_band",         // custom joins
      "j_sessionize",                            // gap sessionization window algebra
      "j_salted_join",                           // hot-key salted join
      "t_tfidf", "t_bm25", "t_ngram_lm",         // retrieval / LM scoring
      "t_pii", "t_gopher_rules",                 // scrubbing: stay one codegen pass, no exchange
      "d_decontaminate",                         // eval n-gram set must broadcast
      "d_substring_dup",                         // single-explode window min/max
      "d_line_dedup", "d_intradoc_dedup",        // line dedup: one explode, hash-narrow shuffle
      "d_dsir_sample",                           // DSIR: shared count frame, model broadcast
      "t_quality_model",                         // trained filter: zero-shuffle scoring pass
      "pipe_corpus_clean",                       // composed clean pipeline: one wide shuffle
      "fc_naive", "fc_knn", "m_score_backtest",  // forecast scaffolds + broadcast KNN
      "fc_lasso", "fc_ensemble",                 // round 4: CD on moments; shared-reduction avg
      "fc_censored", "fc_zero_inflated",         // IRLS logistic × OLS two-part predict
      "fc_linear_exog_general",                  // round 5: exog contribution join + flat unroll
      "e_comet_data",                            // score/CV join + broadcast mean lines
      "e_panel_data",                            // round 4: bounded chosen-entity broadcast
      "mm_sniff_meta",                           // round 4: header sniff = 1 codegen pass, 0 exchanges
      "mm_wav_stats",                            // round 4: kernel-UDF scan — still 0 exchanges
      "t_bpe_encode",                            // round 4: merge-chain replaces — 0 exchanges
      "d_semdedup",                              // round 5: literal centroids — only the cluster equi-join shuffles
      "mm_video_frames",                         // round 5: container walk + decode stay one UDF pass
      "llm_analyze_prompt",                      // basket pushdown + tiny two-level concat
      "t_perplexity_buckets",                    // round 5: kernel LM probe + sharded rank — shuffles bounded by (shard) counts
      "t_perplexity_buckets_lang",               // per-group rank: (lang, shard) offsets broadcast
      "d_bloom_decontaminate",                   // bloom probe map-side; only survivors join
      "d_url_dedup",                             // canonical key: regex chain + one window shuffle
      "pipe_pack_bpe",                           // BPE count feeds the sharded prefix sum
      "t_langid",                                // round 5: native scans end to end, 0 exchanges
      "pipe_curate_full",                        // composed pipeline: two bounded-key shuffles
      "s_holiday_codes",                         // round 6: per-code holiday tables must broadcast
      "p_boxcox_pearsonr",                       // typed-agg λ search: one entity shuffle
      "fc_pipeline",                             // composed fit→predict→invert chain
      "fc_gbt")                                  // deterministic TreeBoost recursive predict
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n===== $name =====")
      // headline properties only; full text available via explain(true)
      val interesting = plan.linesIterator.filter { l =>
        l.contains("PushedFilters") || l.contains("ReadSchema") ||
        l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct") ||
        l.contains("Exchange")
      }
      interesting.foreach(l => println("  " + l.trim.take(200)))
      val nExchanges = plan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("ReusedExchange"))
      val codegenIds = "codegen id : (\\d+)".r.findAllMatchIn(plan).map(_.group(1)).toSet
      println(s"  [summary] exchanges=$nExchanges wholeStageCodegenSpans=${codegenIds.size}")
    }
    spark.stop()
  }
}
