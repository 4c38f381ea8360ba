package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry

/** Writes `docs/PLANS.md`: the formatted physical plan of each headline
  * query — the "is this the plan I'd run at 100 TB" audit as a reviewable
  * artifact (broadcast choices, pushed filters, exchange counts,
  * whole-stage codegen spans). Usage:
  * `sbt "runMain graft.tools.ExplainDump [sfDir] [outFile]"`.
  *
  * With a third argument, a comma-separated query list, it instead
  * writes one `<outDir>/<query>.txt` per named query (the before/after
  * plan evidence for an optimization claim):
  * `sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> <q1,q2,...>"`.
  * Either way the session is the benchmark's ([[graft.jobs.Jobs.buildSession]]),
  * so the dumped plan is the one the benchmark executes.
  */
object ExplainDump {
  private val headliners = Seq(
    "q01_agg", "q02_filter_pushdown", "q03_join_agg", "q05_topk_order",
    "s01_sessionize", "s03_bucket_stats", "s04_filtered_stats", "s05_stratified_sample",
    "s07_asof_join", "s08_deterministic_extract",
    "c02_spine_counts", "c07_area_top3", "c08_flow_convert",
    "d01_exact_dedup", "d03_lsh_neardup", "d05_simhash", "d08_fingerprint", "d10_rolling_fp",
    "d11_curated_corpus", "d15_boilerplate", "d16_tfidf_top",
    "d18_contamination", "d19_line_dedup",
    "d20_unigram_score", "d21_temperature_sample", "d22_lsh_recall",
    "d23_sequence_pack", "d24_source_curation", "d25_curation_manifest",
    "d26_simhash_neardup", "d27_gopher_rules", "d28_strip_dup_lines", "d29_clean_pack",
    "d30_incremental_dedup", "d31_crossmodal_dedup", "d32_split_assign",
    "d33_sparse_cosine", "d34_hybrid_rrf", "d35_epoch_shuffle", "d36_mixture_expand",
    "d37_bpe_pairs", "d38_dsir_score", "d39_anneal_schedule",
    "d40_bpe_encode", "d41_bigram_lm", "d42_strip_self_repeats", "d43_span_coverage",
    "d44_crossdoc_spans", "d45_remove_dup_spans", "d46_keep_first_spans",
    "d47_leakage_split", "d48_tombstone_sparse", "d49_bloom_decontamination",
    "d50_quality_survivors",
    "e01_knn_brute", "e02_ann_bucketed", "e03_label_centroids",
    "e04_cosine_neardup", "e05_ivf_ann", "e06_sem_dedup", "e07_recall_audit",
    "e07b_recall_quantized", "e07c_recall_graph",
    "e08_sketch_rerank", "e09_incremental_semdedup", "e10_ivf_sketch_rerank",
    "e11_kmeans_step", "e12_ivf_pq_adc", "e13_residual_pq", "e14_sq8_rerank",
    "e15_ivf_sq_rerank", "e16_mmr_diversify", "e17_filtered_ann", "e18_range_search",
    "e19_quant_error", "e20_cell_stats", "e21_kmpp_seed", "e22_nn_descent",
    "e23_graph_serve", "e24_tombstone_serve",
    "m10_kmv_distinct", "m17_global_quantiles", "m18_sketch_set_ops",
    "m19_quantile_sketch",
    "m06_salted_agg", "m08_catalog_scan", "m09_bucketed_join",
    "m12_incremental_rollup", "m13_range_join", "m14_pii_scrub",
    "m15_zorder_skip", "m16_global_rank",
    "mm05_binary_ingest", "mm06_phash_neardup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    val spark = graft.jobs.Jobs.buildSession("graft-explain-dump")
    args.lift(2) match {
      case Some(list) =>
        Files.createDirectories(Paths.get(out))
        list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
          SparkEntry.queries.get(name) match {
            case Some(fn) =>
              val f = Paths.get(out, s"$name.txt")
              Files.writeString(f, planOf(fn(spark, sfDir)))
              println(s"[explain] wrote $f")
            case None => System.err.println(s"[explain] unknown query: $name")
          }
        }
      case None => dumpHeadliners(spark, sfDir, out)
    }
    spark.stop()
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  private def dumpHeadliners(spark: SparkSession, sfDir: String, outFile: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Physical plans (headline queries)\n\n")
    sb.append(s"Generated by `graft.tools.ExplainDump` on `$sfDir`. ")
    sb.append("Things to look for: `PushedFilters`/`ReadSchema` at the scans, " +
      "explicit `BroadcastHashJoin` on dim/bucket joins, `TakeOrderedAndProject` " +
      "for top-k, `*(n)` whole-stage-codegen spans, and exchange counts.\n\n")
    sb.append("`Scan ExistingRDD` leaves in serving-path plans are STORED INDEX " +
      "artifacts (the LSH bucket table, d03's verified pair table, the IVF " +
      "assignment table — each localCheckpointed once per JVM as the local " +
      "analogue of the persisted index a cluster deployment reads from " +
      "parquet). The build pipelines behind them are pinned separately in " +
      "PlanAuditSpec via their lazy forms.\n")
    // Two queries need a dump-specific frame: m16's public builder
    // returns an RDD-backed frame (its executed plan is just an
    // ExistingRDD scan — none of the pipeline the operator showcases),
    // so dump its sorted pre-zipWithIndex stage instead; m15's builder
    // performs the clustered rewrite + two metadata collects as part of
    // constructing the frame (the pre-written-path ingest), and the
    // frame it returns IS the pruned-scan query — dump that with a note.
    def frameFor(name: String): Option[(DataFrame, String)] =
      name match {
        case "m16_global_rank" => Some((
          graft.operators.Misc.m16Sorted(spark, sfDir),
          " (sorted pre-zipWithIndex stage — the ranked frame itself is RDD-backed)"))
        case "m15_zorder_skip" => Some((
          graft.operators.Misc.m15ZorderSkip(spark, sfDir),
          " (pruned scan over the pre-written z-clustered layout; the dump " +
            "run performs that idempotent ingest rewrite first)"))
        case "s01_sessionize" => Some((
          graft.operators.Sessions.sessionizedPlan(spark, sfDir)
            .select("event_id", "user_id", "session_id"),
          " (build pipeline — the public entry serves the stored session table)"))
        case _ => SparkEntry.queries.get(name).map(fn => (fn(spark, sfDir), ""))
      }
    headliners.foreach { name =>
      frameFor(name).foreach { case (df, note) =>
        sb.append(s"\n## $name$note\n\n```\n${planOf(df)}```\n")
      }
    }
    Files.createDirectories(Paths.get(outFile).getParent)
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[explain] wrote $outFile (${headliners.size} plans)")
  }
}
