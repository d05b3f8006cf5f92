package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev utility: the formatted physical plans of a set of queries as one
  * markdown document (`## name` plus the fenced `explain("formatted")`
  * text) — the artifact of the "explain and iterate until it's the plan
  * you'd want" loop, and the evidence a plan claim is checked against.
  * Regenerate `dev/PLANS.md` after plan-affecting changes with
  * `sbt "runMain graft.PlanDump"` on the sf0.001 fixture at 8 cores
  * (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS=8`).
  *
  * Env: `SPARK_GRAFT_ONLY` (default: the load-bearing [[Keys]]),
  * `SPARK_GRAFT_PLANS_OUT` (default `dev/PLANS.md`; name a before/after
  * leg in the path), `SPARK_GRAFT_CONF` (tier-forcing confs such as
  * `graft.driverTier.maxBytes=0` show the fallback plans), and the
  * [[Harness]] session variables. */
object PlanDump {
  val Keys = Seq(
    "q01_pricing_summary",   // scan+agg: partial aggregation, pushdown
    "q02_filter_project",    // PushedFilters + pruned ReadSchema
    "q32_incremental_watermark", // flagship: broadcast watermark, lazy plan
    "q54_broadcast_dim_join",    // BroadcastHashJoin on both dims
    "q42_embedding_neardup",     // codegen vec kernels in the theta join
    "q44_lsh_ann_pairs",         // bucket index join + verify tier
    "q38_ngram_jaccard",         // persisted shingle frame, SMJ pair gen
    "q68_rest_source_pushdown",  // DSv2 source with pushed filters
    "q48_doc_fingerprint",       // per-doc kernel pass, no gram shuffle
    "q93_sequence_packing",      // one window prefix-sum, one final agg
    "q95_benchmark_decontamination", // shingle-hash semi-join, AQE-sized
    "q98_salted_two_phase_agg",  // (key,salt) partials then key re-agg
    "q111_bucketed_colocated_join", // SMJ with ZERO exchange on join keys
    "q112_kmeans_clusters",      // broadcast-centroid assign, integer recompute
    "q115_partition_pruned_scan", // PartitionFilters prune 4/5 directories
    "q125_binned_interval_join", // equi-join on time bins, no BNLJ
    "q127_prefix_filtered_simjoin", // prefix candidates + merge-walk verify
    "q130_pagerank",             // BSP rounds: edges join + dst-sum per iter
    "q51_percentiles",           // histogram-selection ranks, no row sort
    "q137_skew_profile",         // counts-of-counts median over the key frame
    "q179_auto_bin_range_join",  // optimizer-injected bin rewrite, no BNLJ
    "q185_sparse_simjoin",       // posting self-join, df-capped
    "q207_source_topn_page",     // complete TopN pushdown, no residual sort
    "q208_triangle_count",       // pair-sized p-exchange, capped wedge join
    "q209_mutual_nn",            // argmax-as-aggregate NN, mutual equi-join
    "q211_nearest_asof",         // user-anchored band join, argmin aggregate
    "q212_native_topk",          // ObjectHashAggregate TopKAgg, no window sort
    "q09_approx_distinct",       // sketches split from the mixed-distinct Expand
    "q31_theta_join",            // size band equi-ized via covering-bin explode
    "q292_tpch_q20",             // nested IN + correlated scalar, fully decorrelated
    "q294_tpch_q2",              // correlated min-cost -> aggregate-join
    "q300_tpch_q16",             // null-aware NOT IN anti join
    "q301_incremental_dedup",    // delta bands probe corpus buckets, equi-only
    "q302_token_heavy_hitters",  // ObjectHashAggregate MisraGriesAgg pass
    "q308_kmv_distinct_sketch",  // one distinct shuffle, bounded TopKAgg heap
    "q309_ams_f2_sketch",        // nine sign-sums in ONE codegen aggregate
    "q310_kcore_peeling",        // census-driven fixpoint, short-circuit rounds
    "q311_join_view_maintenance", // delta terms broadcast, history map-only
    "q312_hll_sketch_rollup",    // daily sketch blobs unioned, no re-scan
    "q316_bm25_retrieval",       // integer BM25, one (doc,term) pass
    "q317_dynamic_partition_pruning", // DynamicPruningSubquery in the fact scan
    "q318_cm_join_size_estimate", // two 1-row sketch aggs, HOF inner product
    "q323_tv_distance",          // census re-agg marginal, present-token join only
    "q326_label_propagation",    // BSP round: one exchange, LabelModeAgg argmax
    "q328_rrf_fusion",           // two TakeOrdered top-64s, 64x64 fusion join
    "q335_projected_community_quality", // basket-bounded projection + LPA + Q
    "q339_star_contraction_components", // O(log n) L/S star rounds, groupBy-min
    "q340_weighted_minhash",     // replicated-copy MinHashAgg, 4x8 banding
    "q341_sketch_stats_catalog", // catalog-only estimates, no base scan
    "q342_bounded_window_lag",   // salted (user,chunk) windows + carry join
    "q343_bpe_trainer",          // vocab-bounded rounds, fold-as-aggregate HOF
    "q344_ffd_packing",          // shard-then-pack, per-shard FFD fold
    "q345_ivf_pq",               // per-subspace Lloyd, broadcast-only rounds
    "q346_catalog_planned_join", // catalog-consulted hints, plan census
    "q135_markov_transitions",   // boundedLagLead adopter: salted lag windows
    "q347_bpe_roundtrip",        // trained vocab join, per-lang exact census
    "q348_rule_planned_join",    // CatalogJoinHints rule-stamped strategies
    "q349_hilbert_layout",       // hilbert fold staging, 2-D min/max pruning
    "q132_distribution_windows", // rank-from-census: binned window partitions
    "q152_session_paths",        // boundedLagLead + boundedRunningSum adopter
    "q350_sink_clustered_compaction", // distributed Hilbert re-layout commit
    "q351_deep_rule_planned_join",    // depth-2 catalog estimates, 3 stamps
    "q352_avi_frame_extract",    // batched partition-map AVI demux
    "q353_estimator_calibration", // est-vs-actual CBO audit, 4 count joins
    "q354_catalog_optimize_cluster", // CALL-procedure clustered re-layout
    "q355_jpeg_exif_extract",    // marker-stream parse, batched partition map
    "q356_estimator_upper_bound", // sketch maxf bounds, 4 count joins audit
    "q357_sink_cluster_on_write", // sorted-exchange ingest + incremental CALL
    "q358_mjpeg_avi_decode",     // chunk-tree demux + per-frame JPEG decode
    "q359_distinct_stats_catalog", // KMV nd stats + containment-vs-CM audit
    "q360_sink_hilbert_cluster_inc", // persisted curve key, incremental pass
    "q361_stream_state_rebalance") // statestore drain -> initial-state restart

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val queries = Harness.select(only)
    val names = if (Harness.tokens(only).isEmpty) Keys else queries.keys.toSeq.sorted
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "dev/PLANS.md"))
    val d = Harness.sfDir
    val spark = Harness.session(d, Harness.cpus)
    val sb = new StringBuilder
    sb ++= "# Physical plans of the load-bearing queries\n\n"
    sb ++= s"Generated by `graft.PlanDump` on `$d` — regenerate after " +
      "plan-affecting changes.\n"
    for (k <- names) {
      sb ++= s"\n## $k\n\n```\n"
      sb ++= queries(k)(spark, d).queryExecution.explainString(FormattedMode)
      sb ++= "```\n"
    }
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.writeString(out, sb.toString)
    println(s"[plandump] wrote $out (${names.size} plans)")
    spark.stop()
  }
}
