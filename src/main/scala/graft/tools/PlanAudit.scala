// Dev tool: dump explain("formatted") so the physical plans (pushdown,
// broadcast choices, shuffle count, codegen spans) can be audited and
// diffed between rounds. Two forms, one session and one normalization:
//
//   sbt "runMain graft.tools.PlanAudit [sfDir [out.md]]"  (out.md: PLANS.md)
//     — the headline queries into one consolidated audit document;
//   sbt "runMain graft.tools.PlanAudit <sfDir> <outDir> <suffix> <q> [q...]"
//     — NAMED queries, one file each (<outDir>/<q>_<suffix>.txt): the
//     optimization rounds' before/after plan evidence (plans/r<N>/).
package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.{Sessions, SparkEntry}

object PlanAudit {
  val headline = Seq(
    "w1_resample_ffill", "a3b_corr_onepass",
    "j1_interval_join", "j3_broadcast_lookup", "j5_asof_join",
    "d2_minhash_lsh", "d4_ngram_jaccard", "d5_embedding_neardup",
    "e1_cosine_topk", "e2_ann_lsh", "e3_ann_recall", "e4_ivf_ann",
    "e1_flagship",
    "a8_salted_skew", "a3d_corr_pruned", "g1_edges",
    "s3_partition_pruned_scan", "p3_date_range",
    "c2_hash_split", "c4_pack_sequences", "c5_greedy_pack",
    "t4_repetition", "c6_curated_dataset", "d6_dup_clusters",
    "e6_kmeans_cells", "a9_percentiles", "a10_rollup",
    "t6_span_dedup", "t7_top_ngrams", "c8_quality_select",
    "a12_approx_percentile", "d8_incremental_dedup",
    "w5_sliding_windows",
    "d9_bloom_decontaminate", "e8_pq_codes", "e9_pq_recall",
    "w6_scd2_intervals", "m2_frame_sample", "s11_schema_merge",
    "w7_rolling_stats", "w8_cross_rank", "t8_lm_score",
    "s6_wide_corr_roundtrip", "g3_graph_samples", "w9_fine_grid_250ms",
    "t9_bpe_merges", "e10_semdedup", "c10_split_leakage",
    "g4_wide_edges", "s6b_wide_corr_matrix", "e1b_flagship_wide",
    "s13_orc_roundtrip", "m5_image_decode", "m6_image_resize",
    "m7_image_channel_stats", "w14_ewma", "w15_ohlc_bars",
    "s14_bucketed_join", "a13_cms_counts", "a3c_corr_onepass_wide",
    "s15_bucketed_panel", "a3e_corr_auto_pruned", "t10_bpe_tokenize",
    "a3f_corr_pruned_unbroadcast", "w17_streaming_corr",
    "w18_streaming_corr_filled", "w19_streaming_sessions",
    "w20_streaming_interval_join", "w21_streaming_dedup",
    "w22_streaming_incremental_dedup", "w23_streaming_windowed_means",
    "a14b_sketch_histogram", "d2b_capped_pairs", "d8b_external_delta",
    "e4b_ivf_lake", "e2b_lsh_lake", "e7b_trained_ivf_lake",
    "e11b_ivfpq_lake")

  def main(args: Array[String]): Unit = {
    require(args.length != 3, "usage: PlanAudit [sfDir [out.md]] | " +
      "PlanAudit <sfDir> <outDir> <suffix> <query> [query...]")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val named = args.drop(3).toSeq
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.build("graft-plan-audit")
    try {
      if (named.isEmpty)
        consolidated(spark, sfDir, args.lift(1).getOrElse("PLANS.md"))
      else perQuery(spark, sfDir, Paths.get(args(1)), args(2), named)
    } finally spark.stop()
  }

  /** The headline queries into one audit document (PLANS.md). */
  private def consolidated(spark: SparkSession, sfDir: String,
                           out: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanAudit` at $sfDir, ")
    sb.append("local[" + Sessions.cpus + "], AQE on. Regenerate after any ")
    sb.append("operator change; the point is to keep the plan you'd want ")
    sb.append("at 100 TB, not just one that passes.\n")
    headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n")
      sb.append(formatted(spark, SparkEntry.queries(name)(spark, sfDir)))
      sb.append("```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plan-audit] wrote ${headline.size} plans to $out")
  }

  /** Named queries, one `<name>_<suffix>.txt` file each in `outDir`. */
  private def perQuery(spark: SparkSession, sfDir: String, outDir: Path,
                       suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    names.foreach { name =>
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
        formatted(spark, SparkEntry.queries(name)(spark, sfDir)))
      println(s"[plan-audit] wrote ${name}_$suffix.txt")
    }
  }

  /** explain("formatted") with the per-process scratch root normalized,
    * so Location lines are stable across regenerations and real plan
    * deltas diff cleanly. The caches the query built are then dropped
    * (as Verify and Bench do between queries), so the next query plans
    * against the tables, not against this one's cached relations — a
    * query's plan is the same in a long audit as audited alone.
    */
  private def formatted(spark: SparkSession, df: DataFrame): String =
    try df.queryExecution.explainString(FormattedMode)
      .replace(graft.sources.Materialize.root, "<scratch>")
    finally {
      graft.ops.Time.unpersistPanels()
      spark.catalog.clearCache()
    }
}
