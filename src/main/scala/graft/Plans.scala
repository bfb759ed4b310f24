package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps formatted physical plans for representative queries to
  * PLANS.md — reviewable evidence that the plans are the ones we want
  * (pushdown, pruning, broadcast, TakeOrderedAndProject, codegen).
  *
  * Usage: runMain graft.Plans [sfDir] [outFile]
  */
object Plans {
  private val picks = Seq(
    "q02_filter", "q04_dim_join", "q05_grouped_agg", "q07_topk",
    "q16_fact_join", "q20_cosine_topk", "q22_exists_semi",
    "q23_corr_scalar", "q24_custdist", "d02_ngram_jaccard",
    "d03_minhash_lsh", "d05_embed_cosine_pairs", "d06_winnow_pairs",
    "d07_contamination", "s01_ann_topk", "s02_quantize_int8",
    "a01_asof_join", "a02_range_join",
    "e02_session_counts", "e04_user_state", "t06_minhash_union",
    "t08_repetition", "p02_pack_bins", "p03_stratified_sample",
    "q25_approx_distinct",
    // round-3 additions
    "q26_keep_latest", "t10_tfidf_topk", "t11_bm25", "d09_components",
    "d10_bloom_seen", "s03_kmeans_assign", "s04_semantic_dedup",
    "p04_token_budget", "p05_weighted_sample", "e05_enrich_dim",
    "d11_shared_runs", "d12_cdc_dedup", "t12_surprisal",
    "q27_incremental_agg", "q28_anti_join", "p06_domain_quota",
    "p07_shard_shuffle", "w08_moving_avg", "e06_interval_join",
    "q29_salted_join", "q30_profile", "q31_json_extract",
    "q32_delta_join", "q33_full_outer",
    "f01_funnel_steps", "f02_cohort_retention", "t14_inverted_index",
    "q34_argmax", "q35_histogram",
    "q36_zvalue", "q37_heavy_hitters", "w10_topk_agg",
    "s06_random_project", "f04_gap_fill", "e07_funnel_state",
    "e08_interval_left", "w11_grouping_sets", "mm03_frame_sample",
    // round-4 additions
    "mm05_image_decode", "e09_interval_full", "e10_log_source",
    "p09_curate_e2e", "f05_attribution", "w13_offset_nav",
    "t16_bigram_surprisal",
    // round-5 additions
    "d14_dup_spans", "s07_pq_topk", "t17_bpe_encode",
    "t18_nb_confusion", "e11_stream_dedup", "p10_seq_ids",
    "q39_count_min", "g01_pagerank",
    "f06_sessionize", "f07_rfm", "g02_triangles", "t19_gopher_rules",
    "t20_collocations", "t21_textrank", "s08_hard_negatives",
    "e12_trending_topk", "d15_containment", "q40_group_stats",
    "w14_unpivot", "w15_range_frame",
    "f08_scd2", "g03_bfs_layers", "a03_item_cooccur", "a04_bucketed_join",
    "q41_skyline", "q42_robust_outliers", "p11_expectations",
    "s09_pca_project", "p12_curriculum", "f09_time_to_event",
    "g04_kcore", "g05_label_prop", "f10_target_encode",
    "t22_feature_hash", "q43_histo_quantile",
    // round-6 additions
    "mm06_audio_decode", "mm07_video_frames", "q10_tz_convert",
    // round-7 additions (s04 is already in the round-3 block above)
    "p14_dsir_select", "t27_zipf_fit", "t28_rake_keywords",
    "mm08_image_neardup",
    // round-12 additions
    "a05_assoc_rules", "f19_roc_auc", "f20_diff_in_diff",
    "f21_calibration", "f22_ks_test", "f23_anova", "f24_srm_check",
    "q54_quantile_sketch", "q55_acf", "q56_join_size",
    "q57_group_percentiles", "q58_trend", "src04_schema_evolution",
    "t31_macro_f1", "src05_jdbc_source",
    "g10_degree_zipf", "d19_dup_mass",
    // round-13 additions
    "s16_ivf_append", "src06_orc_source", "p16_range_cluster",
    "p17_compact", "f25_power", "f26_msprt",
    // round-14 additions
    "p18_manifest_table", "p19_zorder_layout", "p20_manifest_stats",
    "p21_manifest_delete", "p22_zorder_manifest",
    // round-15 additions (src07 drives a live stream — its returned
    // frame is a memory-sink scan, nothing to review; covered by spec)
    "p23_time_travel", "p24_delete_ids", "p25_manifest_upsert",
    "p26_incremental_read", "p27_atomic_backfill", "p28_snapshot_diff",
    "p29_files_metadata", "p30_shallow_clone", "p31_merge_ingest",
    "p32_compact_small", "p33_check_constraint")

  /** The shipped session over a fixed `local[4]` with 4 shuffle
    * partitions, so committed plans do not depend on the host's cores. */
  private def session(): SparkSession = {
    val s = GraftSession.builder("graft-plans")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The random part of a written data file's name: an optional
    * ManifestTable commit directory (`c` + the first 12 characters of a
    * UUID) and the `part-<n>-<uuid>-c<n>` stem before the codec suffix. */
  private val DataFile = ("""(c[0-9a-f]{8}-[0-9a-f]{3}/)?part-\d+-""" +
    """[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}(-c\d+)?""").r

  /** An expression id (`k#61L` carries `#61`), an Exchange's
    * `plan_id=<n>` and a typed operator's lambda class and address
    * (`Lambda$5541/0x00007f94b9524578@597050fa`): JVM-wide counters and
    * addresses, so anything that runs before a gate builds its plan
    * renumbers them. */
  private val ExprId = """#\d+""".r
  private val PlanId = """plan_id=\d+""".r
  private val Lambda = """Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+""".r

  /** `plan` with every run-dependent token replaced by a fixed one: the
    * random part of written data-file names (a gate that writes under a
    * fixed path gets fresh names on every run), expression ids, Exchange
    * plan ids and lambda names. Two dumps of the same plan then diff
    * clean. */
  private[graft] def normalize(plan: String): String = {
    val files = DataFile.replaceAllIn(plan, m =>
      (if (m.group(1) == null) "" else "c<commit>/") + "part-<file>")
    Seq(ExprId -> "#<id>", PlanId -> "plan_id=<n>", Lambda -> "Lambda<fn>")
      .foldLeft(files) { case (p, (re, token)) => re.replaceAllIn(p, token) }
  }

  /** The formatted explain of `df`, [[normalize]]d. */
  private def explain(df: DataFrame): String = normalize(
    df.queryExecution.explainString(ExplainMode.fromString("formatted")).trim)

  /** Dump explain("formatted") of named queries to individual files:
    * runMain graft.PlanDump <outDir> <suffix> <query> [query...]
    * — writes <outDir>/<query>_<suffix>.txt per query (the per-round
    * before/after plan evidence under plans/rNN/). */
  def dump(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <query> [query...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.001")
    val spark = session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"),
        explain(df) + "\n")
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = session()
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. Things to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for\n")
    sb.append("dims, `TakeOrderedAndProject` for top-k, partial+final\n")
    sb.append("`HashAggregate`, no `CartesianProduct`/`SortMergeJoin` where a\n")
    sb.append("broadcast should win.\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(explain(df))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile (${picks.size} plans)")
    spark.stop()
  }
}

object PlanDump {
  def main(args: Array[String]): Unit = Plans.dump(args)
}
