package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: the formatted physical plan of each headline query
  * — the evidence that scans prune/push down, dims broadcast, windows
  * use group limits, and the custom operator plans in. Regenerate with:
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.01 PLANS.md"
  * Given a suffix and query names, it instead writes one plan per query
  * to `<outDir>/<query>_<suffix>.txt` — the per-round plan evidence
  * files (plans/r19/...) the optimization journal cites:
  *   scripts_runmain.sh graft.PlanDump <sfDir> <outDir> <suffix> q1 q2 ...
  * Both outputs use the same session (AQE on, as in Verify) and the
  * same plan text, so the two evidence surfaces stay comparable.
  */
object PlanDump {
  val headline = Seq(
    "a_scan_prune_pushdown", "a_sql_entrypoint", "b_filter_compound",
    "c_join_broadcast", "c_join_multiway_q5", "d_agg_groupby_q1",
    "e_window_topk_per_group", "f_topk_limit", "i_incremental_extract",
    "j_ann_ivf_topk", "j_ann_ivf_kmeans", "j_ann_lsh_topk",
    "j_dedup_cascade", "j_jaccard_shingle_pairs", "j_knn_ivf",
    "j_knn_per_vector", "j_multimodal_decode_batch", "j_sim_cosine_topk",
    "k_window_session",
    // round-6 stored/incremental paths
    "j_dedup_incremental_stored", "j_ann_incremental",
    "j_ann_incremental_pq", "j_pipeline_incremental",
    "j_text_bpe_tokenize", "j_text_repetition",
    // round-7: bounded-heap top-k, dup clusters, packing, ANN dedup,
    // sketch-verify heavy hitters, incremental clusters
    "d_agg_topk_partial", "j_dedup_clusters", "j_pack_sequences",
    "j_dedup_embed_ann", "j_text_heavy_hitters",
    "j_dedup_clusters_incremental", "a_sql_recursive", "c_join_lateral",
    "c_join_bloom", "j_shuffle_epoch", "j_pii_scrub", "j_text_unigram_lm",
    "c_join_q7_volume", "c_join_q10_returns", "j_quality_filter_percentile",
    "d_agg_quantile_sketch_union",
    // round-9: temperature mixing, forward as-of, typed map oracle
    "j_sample_temperature", "c_join_asof_forward", "h_map_funcs_typed",
    // round-10 session 2: graph iteration, DPP, attribution, chunking,
    // line dedup, cohort retention, Q18, PCA gram pass
    "j_graph_pagerank", "c_join_dpp", "e_attribution_last_touch",
    "j_doc_chunk", "j_dedup_lines", "e_retention_cohorts",
    "c_join_q18_large_orders", "e_anomaly_zscore",
    // round-12: KMV sketches, tfidf kernel verify, stored-LM audit,
    // aggregate-shaped hard negative, bounded reservoir
    "d_agg_approx_distinct", "d_agg_approx_percentile",
    "j_sim_tfidf_pairs", "j_pipeline_audit_lm", "j_sample_hard_negative",
    "j_sample_reservoir",
    // round-13: trained centroid classifier (broadcast centroids,
    // doc-local scoring), bucketed co-located join (one exchange)
    "j_quality_centroid", "c_join_bucketed",
    // round-19: log-band theta decomposition (hash equi-join, no
    // BNLJ), stored-profile langid, bucketed-edge-store graph degree,
    // stored tf-idf index (corpus-scan-free steady plan)
    "c_join_theta_band", "j_langid_chargram", "j_graph_degree",
    "j_sim_tfidf_pairs_stored",
    // round-19 session 2: the PCA scoring pair — map-only plans (no
    // Exchange; components ride as literals off the stored Gram)
    "j_embed_pca_project", "j_embed_whiten")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // giant literals (the bloom sketch renders as a megabyte of hex)
    // add nothing to plan-shape evidence — keep lines readable
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode).trim
        .linesIterator.map { l =>
          if (l.length > 400) l.take(400) + s"…[${l.length - 400} chars elided]"
          else l
        }.mkString("\n")
    if (args.length >= 3) {
      val outDir = Paths.get(args(1))
      val suffix = args(2)
      Files.createDirectories(outDir)
      args.drop(3).foreach { name =>
        val f = outDir.resolve(s"${name}_$suffix.txt")
        Files.write(f, (plan(name) + "\n").getBytes(StandardCharsets.UTF_8))
        println(s"wrote $f")
      }
    } else {
      val out = args.lift(1).getOrElse("PLANS.md")
      val sb = new StringBuilder
      sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
      sb.append(s"Generated by `graft.PlanDump` at `$sfDir` (AQE on, as in ")
      sb.append("Verify). What to look for: `PushedFilters`/`ReadSchema` on ")
      sb.append("scans (pushdown + pruning), `BroadcastHashJoin` on dim ")
      sb.append("joins, `WindowGroupLimit` under top-k windows, ")
      sb.append("`TakeOrderedAndProject` for global top-k, and the custom ")
      sb.append("`CosineKnn` operator planned into j_knn_per_vector.\n")
      headline.foreach { name =>
        sb.append(s"\n## $name\n\n```\n${plan(name)}\n```\n")
      }
      Files.write(Paths.get(out),
        sb.toString.getBytes(StandardCharsets.UTF_8))
      println(s"wrote $out (${headline.size} plans)")
    }
    spark.stop()
  }
}
