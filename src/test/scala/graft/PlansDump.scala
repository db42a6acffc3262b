package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of the headline queries,
  * the evidence for the plan-shape claims in COVERAGE.md (pushdown reaches
  * the scan, dimensions broadcast, aggregates are partial, codegen spans
  * cover the hot expressions).
  *
  * Usage: sbt 'Test/runMain graft.PlansDump [sfDir]'
  *
  * Defaults to sf0.01: several gates carry in-gate shape requires that
  * need more than a couple of files (q108's strict-subset skipping
  * assert fails at sf0.001 with 2 files — the r14 staleness cause).
  */
object PlansDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val headline = Seq(
      "q01_pricing_summary", "q02_filter_pushdown", "q03_dim_join",
      "q04_fact_join", "q10_sessionize", "q11_asof_join",
      "d02_minhash_lsh", "d03_ngram_jaccard", "d08_embedding_lsh_pairs",
      "s01_ann_bruteforce", "s03_ann_topk_aggregator", "t04_top_tokens",
      "t06_contamination", "t08_repetition_filter", "q53_zorder_layout",
      "t09_pii_redaction", "d10_paragraph_dedup", "q54_higher_order",
      "t11_clean_corpus", "t12_oov_rate",
      "q58_snapshot_diff", "q59_scd2_build", "t18_quality_classifier",
      "t19_temperature_mix", "t25_bigram_fluency",
      "d15_containment", "s06_cluster_corpus", "t29_robust_outliers",
      "t30_corpus_overlap", "t31_cdc_chunks", "t32_overlap_sketch",
      "q62_funnel", "q63_locf", "d16_triangles", "q64_key_skew",
      "q66_rolling_active", "q68_time_travel", "t33_leakage_safe_split",
      "t34_contamination_bloom", "q69_merge_into", "q70_delete_update",
      "t35_token_budget", "t37_semantic_contamination",
      "t38_heavy_hitters", "t39_vocab_coverage", "t40_kn_fluency",
      "t41_importance_weights", "t42_corpus_drift", "mm04_frame_dedup",
      "q71_table_history", "q72_call_maintenance", "q73_analyze_stats",
      "q75_merge_partitioned", "q77_partitions_metadata",
      "mm05_perceptual_dedup", "t45_classifier_auc",
      "t46_repetition_profile",
      "q79_merge_multicol_partitions", "q81_storage_partitioned_join",
      "q83_bucket_spj", "q85_days_transform", "q86_months_transform",
      "q88_truncate_transform", "q90_composite_spec",
      "q91_evolve_layout", "q92_composite_dpp", "q94_file_skipping",
      "q95_mor_delete", "q98_default_column", "q100_agg_pushdown",
      "q101_identity_column", "q102_mor_merge", "q103_branches",
      "q104_mor_merge_composite", "q105_unify_layout",
      "q106_branch_changes", "q107_mor_positional", "q108_sorted_write",
      "q109_mor_identity", "q110_export_mor_live", "q111_bloom_skipping",
      "q112_changelog_view", "q113_mor_count_pushdown",
      "q114_mor_count_pruned", "q115_mor_minmax_survival",
      "st22_typed_updates")

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.PlansDump` against `$dir`. ")
    sb.append("`*(n)` prefixes mark WholeStageCodegen stages; look for\n")
    sb.append("`PushedFilters`/`ReadSchema` at the scans, `BroadcastHashJoin` on\n")
    sb.append("dimension joins, and partial/final `HashAggregate` pairs.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${headline.size} queries)")
    spark.stop()
  }
}
