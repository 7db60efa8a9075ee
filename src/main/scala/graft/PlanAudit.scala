package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.execution.ExplainMode

/** Dump formatted physical plans for the headline queries → docs/PLANS.md
  * (plan-shape audit: pushdown, pruning, broadcast, codegen spans). */
object PlanAudit {
  val audited = Seq(
    "rel_q1_pricing_summary", "rel_q3_top_revenue", "rel_q5_local_supplier",
    "checkout_line_verdict", "checkout_final_inventory",
    "dedup_minhash_buckets", "dedup_jaccard_pairs", "dedup_simhash_pairs",
    "dedup_minhash_verified",
    "emb_cosine_topk_native", "emb_ann_lsh_topk", "events_sessions",
    "text_tfidf", "text_quality_filter", "text_split_contamination",
    "text_packed_sequences",
    "events_asof_join", "events_range_join", "events_rolling_rate",
    "text_unigram_logprob",
    "rel_join_bloom", "mm_phash_pairs", "emb_pq_topk",
    "store_scd2_merge", "dedup_containment_pairs",
    "text_dup_span_fraction", "text_ppl_buckets", "text_mixture_sample",
    "text_importance_sample", "text_ngram_decontam", "text_bpe_merges",
    "emb_pagerank", "emb_graph_clustering", "text_hybrid_rrf",
    "store_fileskip_scan",
    "text_lr_scores", "rel_q4_priority_exists", "rel_q17_small_quantity",
    "mm_audio_dup_pairs", "store_bloomskip_scan", "text_dup_max_span",
    "emb_weighted_core", "emb_cluster_outliers",
    "text_boilerplate_scrub", "text_pmi_bigrams", "emb_hard_negatives",
    "emb_prefix_rerank", "emb_sq8_topk", "emb_ivfsq_topk",
    "store_forget_cascade", "store_temporal_join", "rel_q21_lone_fault_supplier",
    "rel_recursive_path_sum", "rel_q7_nation_volume", "rel_q13_order_histogram",
    "rel_lateral_topk", "rel_mv_rewrite_auto", "rel_decimal_exact",
    "events_resample_ffill", "events_anomalies", "events_props_variant",
    "text_unigram_lm", "text_reservoir_sample",
    "rel_q6_forecast_revenue", "rel_q2_min_cost_supplier", "rel_q8_market_share",
    "rel_q9_nation_profit", "rel_q11_important_stock", "rel_q15_top_supplier",
    "rel_q16_supplier_counts", "rel_q18_large_orders", "rel_q19_disjunct_revenue",
    "rel_q20_part_promotion", "mm_resize_features",
    "store_time_travel", "pipeline_pack_manifest",
    // seventh session: the native as-of exec beside the composed plan,
    // sketch set ops, exact KS (distributed prefix scan), basket lift
    "events_asof_native", "text_kmv_overlap", "store_drift_ks",
    "rel_basket_lift", "text_llr_bigrams", "text_lr_auc",
    "events_asof_nearest_native", "text_shingle_rows", "text_zipf_slope",
    "rel_part_blast_radius",
    // eighth session: the DSv2 connector (zone-map skipping visible as
    // planned-partition counts, metadata-only LocalScan aggregate) and
    // the native HLL aggregate (ObjectHashAggregate partial+final)
    "store_segment_roundtrip", "store_segment_agg_meta", "text_hll_native",
    "store_segment_merge", "text_heavy_hitters", "text_quantile_native",
    "store_segment_q3", "store_segment_incremental", "stream_incr_agg_segment",
    // round 8: the feed stack and the skipping completions — bloom
    // point lookups, z-order scans, both CDC faces, exact BIGINT money
    "store_segment_bloom", "store_segment_zorder", "store_segment_changes",
    "store_segment_rename", "emb_weighted_core_bucketed",
    "store_segment_history", "stream_segment_cdf",
    // round 9: deletion vectors (dv-filtered scan stays columnar; the
    // mark pass is a two-column metadata projection) and merge-on-read
    // UPDATE (dv patch + append in one commit)
    "store_segment_dv", "store_segment_dv_update",
    // round 12: the completed type surface — binary/decimal/tokens
    // (decimal zone-map pruning visible as planned counts, columnar
    // scan), nested struct/map decode, and the real image decode off
    // segment-stored blobs
    "store_segment_typed", "store_segment_nested", "mm_decode_segment",
    // round 13: array<struct> item lists (columnar appendStruct decode),
    // variant storage (row reader), the bucketed kNN-graph build
    "store_segment_items", "store_segment_variant", "emb_knn_bucketed")

  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // 8: the width docs/PLANS.md was generated at
    val spark = Session.build(8)
    val out = new PrintWriter(new File("docs/PLANS.md"))
    out.println("# Physical plan audit (generated by graft.PlanAudit)\n")
    out.println("Checks per plan: filters/projections reach the parquet scan ")
    out.println("(PushedFilters / ReadSchema), dimension joins broadcast, ")
    out.println("aggregates are partial+final (map-side combine), expressions ")
    out.println("stay inside WholeStageCodegen spans.\n")
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, d)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      out.println(s"## $name\n\n```\n$plan```\n")
    }
    out.close()
    println("PLANAUDIT done")
    spark.stop()
  }
}
