package graft

import java.nio.file.{Files, Paths}

/** Dumps formatted physical plans for the headline queries to PLANS.md —
  * the committed evidence that pushdown/broadcast/codegen claims hold.
  * Run: `sbt "runMain graft.PlanDump"`. */
object PlanDump {
  private[graft] val headline = Seq(
    "q01_pricing_summary", "q02_filter_project", "q04_customer_geo",
    "q25_star_join", "q08_window_topk_per_group", "q29_topk_custom",
    "q27_percentiles", "q31_text_quality", "q48_cube", "q52_simhash",
    "q51_minhash_lsh", "q60_knn_brute", "q66_sim_join_lsh",
    // q58 is omitted: cluster assignment runs eagerly (iterative label
    // propagation), so its static explain shows only the final
    // checkpointed-labels scan, not the per-iteration join+agg
    "q59_stratified_sample", "q68_vector_quantize", "q69_corpus_mixture",
    "q88_skew_salted_join", "q89_dsir_selection", "q90_boilerplate_lines",
    "q91_gopher_rules",
    "q74_incremental_dedup", "q75_unigram_lm", "q77_funnel",
    "q92_dim_upsert", "q93_dup_span_audit", "q94_zipf_curve",
    "q95_quantized_recall", "q96_minhash_estimate",
    "q97_cross_source_dups", "q98_retention_cohorts", "q99_token_histogram",
    "q100_vocab_overlap", "q101_vocab_overlap_sketch", "q102_ivf_append",
    "q103_scd2_history", "q104_asof_attribution", "q105_collapse_runs",
    "q106_asof_enrich", "q107_scd2_multi", "q108_scd2_apply",
    "q109_asof_forward", "q110_cluster_deletion", "q111_scd2_repair",
    "q112_ngram_novelty", "q113_vocab_growth", "q114_containment_pairs",
    "q115_incremental_novelty", "q116_containment_vs_index",
    "q117_cluster_split", "q118_split_apply", "q119_split_state",
    "q120_split_resolve", "q121_wall_audit", "q122_media_neardup",
    "q123_quarantine_aging", "q124_quarantine_pool", "q125_media_vs_index",
    "q126_media_lsh_recall", "q127_media_neardup_h7",
    "q128_media_dedup_reps", "q129_containment_reps")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanDump\"` at sf0.001. What to\n")
    sb.append("look for: `PushedFilters`/`ReadSchema` at every scan (pushdown +\n")
    sb.append("pruning), `BroadcastHashJoin` on dimension joins, `TopKPerGroup`\n")
    sb.append("replacing Sort+Window, bounded `Exchange` count per pipeline.\n")
    sb.append("A pin (local checkpoint) reads as `Scan ExistingRDD`; the plan it\n")
    sb.append("cut off follows under `== Pinned RDD <id> ==`.\n\n")
    sb.append("On q23 (exact double countDistinct, planner Expand x3 over\n")
    sb.append("lineitem): DELIBERATE. q23 is the exact tier and q47 the sketch\n")
    sb.append("tier of the same distinct-counting contract — q47 holds\n")
    sb.append("approx_count_distinct/percentile_approx to rank-tolerance bounds\n")
    sb.append("against q23-style exact answers. At 100 TB run the q47 shape;\n")
    sb.append("q23 exists so the sketch tier stays contract-checked against an\n")
    sb.append("exact twin the oracle can replay. Do not \"fix\" the Expand here.\n")
    headline.foreach { q =>
      sb.append(s"\n## $q\n\n```\n")
      sb.append(ExplainDump.explain(SparkEntry.queries(q)(spark, d)).trim)
      sb.append("\n```\n")
    }
    // Post-execution AQE evidence at sf0.1: run the heavy shuffly queries to
    // completion and dump the FINAL adaptive plan (isFinalPlan=true) — the
    // runtime join-strategy/coalesce decisions the static explain can't show.
    val aqeQueries = Seq("q03_revenue_by_customer", "q25_star_join", "q51_minhash_lsh",
      "q74_incremental_dedup")
    val aqeDir = Bench.defaultSfDir
    sb.append("\n# AQE final plans (sf0.1, executed)\n\n")
    sb.append("Runtime-adaptive decisions on the real data volume: look for\n")
    sb.append("`AQEShuffleRead coalesced`, runtime `BroadcastHashJoin`\n")
    sb.append("conversions, and `isFinalPlan=true`.\n")
    aqeQueries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, aqeDir)
      // collect() drives THIS dataset's QueryExecution (a write would spawn
      // a fresh one and leave this plan un-finalized)
      df.collect()
      sb.append(s"\n## $q @ sf0.1 (final adaptive plan)\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString.trim.take(8000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${headline.size} static + ${aqeQueries.size} AQE plans)")
    GraftSession.stop(spark)
  }
}
