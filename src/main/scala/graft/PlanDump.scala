package graft
import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md from the CURRENT code — run each round
  * (`sbt "runMain graft.PlanDump"`) so the documented plans cannot drift
  * from the registered queries. PlansFreshnessSpec asserts the dump
  * carries every pick and the guarded plan markers (and none of the
  * forbidden ones), so a stale or hand-edited PLANS.md fails the build.
  * Each plan is cut at 4,000 characters; the counts line above it is
  * taken from the whole executed plan ([[PlanMetrics.census]]).
  */
object PlanDump {

  /** Headline queries whose physical plans PLANS.md documents. */
  val picks: Seq[String] = Seq(
    "q1_pricing_summary", "join_orders_by_region", "sim_topk_bruteforce",
    "dedup_jaccard_pairs", "dedup_char_jaccard_pairs", "asof_attribution",
    "dedup_lsh_pairs", "dedup_char_lsh", "dedup_clusters",
    "dedup_embedding_pairs", "curate_corpus", "range_join_prior_activity",
    "join_revenue_by_status_bucketed", "sim_ann_topk_partitioned",
    "corpus_quota_sample", "sim_knn_join",
    "join_bloom_filtered", "sketch_distinct_kmv", "sketch_heavy_hitters",
    "text_bm25", "zorder_pruned_scan", "corpus_assemble",
    "dedup_semantic_pairs", "text_repetition", "dedup_indexed_matches",
    "mm_image_decode", "dedup_substring_spans", "sim_topk_pq",
    "mm_video_frames", "dedup_simhash_pairs", "text_surprisal",
    "corpus_dsir_weights", "agg_incremental_revenue", "corpus_source_drift",
    "cdc_merge_apply", "corpus_snapshot_diff", "corpus_weighted_sample",
    "corpus_filter_funnel", "text_bpe_token_counts", "text_novelty",
    "corpus_incremental_curation",
    "dedup_edit_pairs", "dedup_boilerplate", "text_tfidf_keywords",
    "sketch_corpus_overlap", "events_anomalies", "stats_group_corr",
    "corpus_compact", "sketch_group_kmv",
    "dedup_containment", "corpus_interleave", "mm_image_dhash",
    "asof_attribution_tol", "dedup_funnel_report", "stats_group_p95",
    "sim_range_search", "corpus_manifest",
    "dedup_semantic_clusters", "dedup_edit_clusters",
    "dedup_containment_report", "dedup_char_jaccard_clusters",
    "dedup_clusters_incremental",
    "dedup_containment_report_lsh", "dedup_char_jaccard_clusters_lsh",
    "cdc_merge_apply_bucketed",
    "corpus_split_leakage_safe", "dedup_family_stats",
    "corpus_split_leakage_safe_indexed", "dedup_family_stats_indexed",
    "dedup_containment_incremental")

  /** Starts each section's counts line (whole executed plan). */
  val CountsPrefix = "Whole-plan counts:"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (sf0.001 inputs)\n\n")
    sb.append("Generated by `graft.PlanDump` — regenerate each round; do not edit.\n")
    sb.append("What to look for: `PushedFilters` and pruned `ReadSchema` on scans,\n")
    sb.append("`BroadcastHashJoin` (never SortMergeJoin) for dimension joins,\n")
    sb.append("`TakeOrderedAndProject` for top-k, the single hash exchange in the\n")
    sb.append("as-of join and exact dedup, the bitmap jaccard verify on these\n")
    sb.append("under-cap vocabularies (the above-cap branch ships per-candidate gram\n")
    sb.append("arrays instead — see ScaleBench notes), banded SRP with no nested-loop join, and\n")
    sb.append("`dynamicpruningexpression` on the partitioned ANN index scan.\n")
    sb.append("Each plan is cut at 4,000 characters; the counts line above it is\n")
    sb.append("taken from the whole executed plan (subqueries included): `Exchange` /\n")
    sb.append("`BroadcastExchange` nodes (not `ReusedExchange`) and the evaluation\n")
    sb.append("sites of the gram kernels `char_gram_hashes` and `ws_tokens`.\n")
    picks.foreach { name =>
      // EXECUTE before dumping: AQE applies exchange reuse / skew splits /
      // coalescing only at runtime, so the pre-execution string would hide
      // exactly the properties the dump exists to document (e.g. the
      // single-evaluation ReusedExchange in dedup_semantic_pairs). The
      // trailing "Initial Plan" section repeats the un-deduplicated
      // pre-execution tree — dropped.
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val c = PlanMetrics.census(df)
      sb.append(s"\n## $name\n\n$CountsPrefix Exchange: ${c.exchanges} · " +
        s"`char_gram_hashes`: ${c.charGramSites} · `ws_tokens`: ${c.wsTokenSites}\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).take(4000))
      sb.append("```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println("[plandump] wrote PLANS.md")
    spark.stop()
  }
}
