package graft

/** Dev tool: dump the formatted physical plans of the headline queries
  * to PLANS.md so plan regressions show up in review diffs — the same
  * `.explain("formatted")` audit PlanLintSpec automates structurally,
  * kept as a human-readable artifact. Regenerate with
  * `sbt "runMain graft.PlanAudit"` (writes PLANS.md in the cwd). */
object PlanAudit {
  // the bench top-costs plus one representative per operator family
  val Audited: Seq[String] = Seq(
    "q01_pricing_summary",  // scan + partial/final agg
    "q64_tpch_q3",          // star join + top-k
    "q67_recursive_cte",    // native WITH RECURSIVE
    "q68_simhash_pairs",    // banded equi-join (no cartesian)
    "q76_bm25",             // cached tf spine + 1-row stats broadcast
    "q78_rehive_redeem",    // flagship cascade write path
    "q81_scalable_rank",    // two-pass rank, no SinglePartition
    "q100_prefix_jaccard",  // prefix-filtered similarity join
    "q103_ewma",            // mergeable affine-run aggregator
    "q114_hits",            // lazy bounded-round graph chain
    "q121_quantile_sketch", // mergeable quantile sketch + exact companion
    "q122_incremental_dedup", // delta ingest vs full-recompute oracle
    "q125_hll_distinct",    // constant-state distinct, no distinct shuffle
    "q126_bloom_decontamination", // broadcast bitmap, map-side bit probe
    "q127_kmv_set_algebra", // sketch-only set ops, 1-row broadcast meet
    "q128_sketch_store_rollup", // two-level rollup: shard regs → merge
    "q129_dup_spans",       // gram census + semi-join + per-doc window
    "q131_asof_native",     // custom SparkPlan: one shuffle+sort/side
    "q132_postings",        // segmented posting lists, combine-able build
    "q140_dsv2_source",     // DSv2 pushdown: pruned slices on the scan node
    "q142_langid_ngram",    // broadcast profile join + bounded lang fan-out
    "q143_triangles",       // oriented wedge joins, all equi
    "q145_ivf_trained",     // broadcast codebook route + cell equi-join
    "q146_pmi_collocations", // map-side bigrams + 1-row stats broadcast
    "q147_pattern_match",   // staged running windows, one user shuffle
    "q148_bpe_train",       // dict-sized merge rounds, 1-row argmax
    "q150_table_profile",   // single-pass multi-distinct Expand profile
    "q153_bfs_layers",      // frontier equi-joins, anti-join visited
    "q154_knn_classify",    // broadcast query set + bounded vote tail
    "q155_equidepth_hist",  // global rank spine + integer bucketing
    "q152_winsorized_stats", // deduped (group,value) rank walk, no raw sort
    "q159_skyline",         // sorted scan over deduped pairs + semi-join
    "q160_naive_bayes",     // count-table model, vocab join, 5-row broadcast
    "q161_auc",             // deduped score domain cumulative walk
    "q168_semdedup",        // cluster-blocked pair election, no n² join
    "q170_holt_trend",      // mergeable 2×2 affine-run aggregator
    "q171_label_prop",      // per-round equi-join + bounded argmax window
    "q172_linreg",          // pure map-side integer-moment fit
    "q176_rrf_fusion",      // two top-k arms, fusion over k rows/query
    "q177_rank_eval",       // broadcast query set + per-query aggregates
    "q179_dsir_weights",    // 16-row ratio broadcast, map-side scoring
    "q183_correlated_scalar", // decorrelated to aggregate + broadcast joins
    "q184_lateral_topk",    // correlated LIMIT → partitioned window
    "q185_poisson_bootstrap", // map-side weights, 16 combine-able aggs
    "q188_bom_rollup",      // map-side ancestor fold, one shuffle
    "q189_unigram_viterbi", // dict-sized DP folds, piece-keyed equi-join
    "q191_pointer_doubling", // log-round self equi-joins
    "q192_peak_concurrency", // combine-able deltas + per-shard window
    "q193_jl_distortion",   // map-side ±chains, capped audit broadcast
    "q198_session_windows", // per-user lag + islands, one shuffle
    "q200_welch_ttest",     // one conditional-moment pass, 1-row tail
    "q208_rolling_distinct", // per-day HLL rows + calendar RANGE merge
    "q219_temporal_reach",  // time-guarded frontier relaxation
    "q221_bitmap_index",    // combine-able bit_or words, bitwise tail
    "q225_dedup_pr",        // memoized spine + banding, 1-row P/R tail
    "q232_ccf",             // residual taps, decimal moments, map-side
    "q234_ks_test",         // two-level CDF spine, 1-row argmax
    "q238_incremental_dedup_disk", // bucketed on-disk state, probe join
    "q239_stream_late_data", // staged replay + watermarked append agg
    "q243_tpch_q21",        // double-EXISTS folded to one grouped pass
    "q244_tpch_q20",        // nested-agg threshold via windowed rollup
    "q245_stream_stream_join", // watermarked stream-stream interval join
    "q247_table_diff",      // O(buckets) checksum diff, full-outer meet
    "q248_feature_hashing", // map-side hashing trick, doc×64 bounded
    "q249_tpch_q4",         // EXISTS → left-semi with non-equi rider
    "q255_tpch_q2",         // correlated MIN → min(struct) argmin rollup
    "q257_stream_dedup")    // cross-batch dedup state, session width

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(Sessions.cpus)
    val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans of the headline queries\n\n"
    sb ++= s"Generated by `graft.PlanAudit` at $sfDir. PlanLintSpec asserts\n"
    sb ++= "the structural invariants (no cartesian joins, pushed filters,\n"
    sb ++= "partial aggregation, no single-partition windows) on every\n"
    sb ++= "query; this file keeps the full plans reviewable.\n"
    Audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```text\n"
      sb ++= df.queryExecution.explainString(mode).trim
      sb ++= "\n```\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"),
      sb.toString)
    println(s"PLANS.md written (${Audited.size} plans)")
    spark.stop()
  }
}
