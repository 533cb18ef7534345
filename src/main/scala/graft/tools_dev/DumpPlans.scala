package graft.tools_dev

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Dev main: dump formatted physical plans of headline queries to
  * PLANS.md — the reviewable record of what each operator family
  * compiles to (pushdown, broadcast choices, codegen spans). */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("/root/repo/PLANS.md")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val headline = Seq(
      "q01_pricing_summary", "q02_filter_pushdown", "q03_order_tracklist",
      "q04_customer_geo_rollup", "q07_global_topk", "q33_minhash_lsh",
      "q37_knn_brute", "q44_windowed_agg", "q57_rag_pipeline", "q59_salted_agg",
      "q66_asof_join", "q67_range_join", "q75_tfidf_topk",
      "q82_decontaminate", "q83_pack_sequences", "q84_approx_quantiles",
      "q86_ann_recall", "q87_temperature_mixture",
      "q91_fuzzy_dedup", "q93_bm25", "q97_kmeans", "q99_salted_join",
      "q100_zscore", "q105_bucketed_join", "q115_clustering_coefficient",
      "q116_weighted_pagerank", "q117_mmr_rerank", "q118_neighborhood_agg",
      "q119_link_prediction", "q120_event_funnel", "q123_gopher_rules",
      "q124_zorder_key", "q128_corpus_line_dedup", "q129_rrf_hybrid",
      "q130_leakage_safe_split", "q131_matryoshka_recall",
      "q132_incremental_neardup", "q133_skew_report",
      "q134_louvain_multires", "q135_token_budget", "q136_duplicate_spans",
      "q137_cooccurrence_pmi", "q138_incremental_cc", "q139_hard_negatives",
      "q140_leiden_split", "q141_neardup_bucketed_index", "q142_ann_lsh_multiprobe",
      "q143_semdedup", "q144_retrieval_metrics", "q145_pq_codes",
      "q146_pq_adc_topk", "q147_leiden_multires", "q148_importance_weights",
      "q149_cc_pointer_jumping", "q150_graphrag_capstone", "q151_pq_reuse",
      "q152_band_index_append", "q153_ann_ivf_pq", "q154_ivf_pq_nprobe",
      "q155_weighted_sample", "q156_stupid_backoff", "q157_kmv_distinct",
      "q158_kmv_set_algebra", "q159_heavy_hitters",
      "q160_weighted_sample_per_group", "q161_dataset_diff",
      "q162_cross_source_overlap", "q163_dedup_canonical",
      "q164_column_profile", "q165_retrieval_funnel", "q166_length_ecdf",
      "q167_ivf_pq_refine", "q168_ann_ivf_trained", "q169_ivf_pq_residual",
      "q170_html_entities", "q171_normalize_composed", "q172_ivf_pq_residual_trained",
      "q173_lossy_repair", "q174_ivf_pq_refine_trained", "q175_pq_index_roundtrip",
      "q176_pq_index_append")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.tools_dev.DumpPlans` on `$sfDir`. What to look\n")
    sb.append("for: `PushedFilters`/`ReadSchema` on scans (pushdown + pruning),\n")
    sb.append("`BroadcastHashJoin` on dimension joins, `TakeOrderedAndProject`\n")
    sb.append("for top-k, paired partial/final `HashAggregate`s (map-side\n")
    sb.append("combine), and `(n)` whole-stage-codegen stage ids.\n")
    headline.foreach { name =>
      val plan = graft.Profile.planText(SparkEntry.queries(name)(spark, sfDir))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    // Preserve the per-round notes sections ("## Round-N notes…")
    // appended below the generated plans — regeneration must never wipe
    // the round record.
    val outPath = Paths.get(out)
    if (Files.exists(outPath)) {
      val prior = Files.readString(outPath)
      val noteIdx = prior.indexOf("\n## Round-")
      if (noteIdx >= 0) sb.append(prior.substring(noteIdx))
    }
    Files.writeString(outPath, sb.toString)
    spark.stop()
    println(s"wrote $out")
  }
}
