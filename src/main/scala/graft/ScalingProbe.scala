package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-exponent probe for the perf-tail gates: times each audited gate
  * at sf0.01, sf0.1, and a GENERATED ~10x corpus ("sf1x"), then records
  * per-gate wall times and fitted scaling exponents
  * (alpha = log(t_hi/t_lo) / log(n_hi/n_lo)) to SCALING_r6.json.
  *
  * This is the evidence for the "constant-bound, scale-safe" claim on the
  * iterative/tail gates: alpha ≈ 0 means per-stage constants dominate
  * (cost barely moves when data 10x's), alpha ≈ 1 means linear data cost,
  * alpha >> 1 means a super-linear blowup that needs fixing.
  *
  * The 10x corpus is a DISJOINT-COPY scale-up of sf0.1 (the TPC-H
  * discipline — both key domains grow with volume):
  *  - lineitem: 10 copies with l_orderkey/l_partkey shifted by
  *    copy * (max+1), so copy 0 preserves original ids and copies are
  *    structurally identical but disjoint — pure volume growth, no
  *    densification of any single node's neighborhood;
  *  - documents: 10 copies with doc_id shifted and every TOKEN suffixed
  *    with the copy index, so shingle spaces across copies are disjoint —
  *    near-dup structure per copy is preserved instead of every doc
  *    gaining 9 exact duplicates (which would measure duplicate blowup,
  *    not volume).
  *
  * Usage: runMain graft.ScalingProbe [outJson] [gates,comma,separated]
  */
object ScalingProbe {

  private val defaultGates = Seq("g01_pagerank", "g05_label_prop",
    "a03_item_cooccur", "g03_bfs_layers", "d02_ngram_jaccard",
    "q23_corr_scalar", "g02_triangles", "g04_kcore", "t21_textrank",
    "d09_components", "d16_dedup_pipeline", "q38_exact_quantile",
    "q29_salted_join", "d06_winnow_pairs", "p13_leakage_split",
    "d03_minhash_lsh", "t16_bigram_surprisal", "t18_nb_confusion",
    "s03_kmeans_assign", "s04_semantic_dedup", "s14_knn_graph",
    // r7 additions: every r6 gate >= 1 s at sf0.1 plus the remaining
    // near-dup/similarity family (r6 verdict item #5)
    "q44_weighted_median", "t25_kneser_ney", "t26_readability",
    "f13_kaplan_meier", "d17_incremental_ingest", "s13_mmr_diversify",
    "mm08_image_neardup_nx", "mm09_audio_neardup_nx",
    "mm10_video_neardup_nx", "mm13_jpeg_neardup_nx",
    // r8 additions: the remaining >= 1 s sweep tail (r7 verdict item
    // #3) — every committed-sweep gate >= 1 s is now probe-covered
    "d11_shared_runs", "d13_fuzzy_join", "d14_dup_spans", "f07_rfm",
    "p14_dsir_select", "q16_fact_join", "q32_delta_join", "q41_skyline",
    "q42_robust_outliers", "s01_ann_topk", "t10_tfidf_topk",
    "t12_surprisal", "t20_collocations", "t28_rake_keywords",
    // r8 late additions: the round's own new >= 1 s gates
    "s15_ivfpq_topk", "t29_ppl_filter",
    // r9 additions: the last unprobed >= 1 s gates (r8 verdict item #5)
    "s07_pq_topk", "p09_curate_e2e", "d07_contamination",
    // r9 late additions: the round's own new >= 1 s gates
    "q47_kmv_sketch", "q48_histo_merge", "g06_clustering_coeff",
    "q46_hll_merge",
    // r11 addition: the round's own new >= 1 s gate (q49/q50/src03 all
    // run sub-second — under the probe bar)
    "g07_hits",
    // r11 late additions: the round's own new >= 1 s gates (f15-f18,
    // mm14, e14 all run sub-second — under the probe bar)
    "q52_shard_topk", "g08_link_predict", "g09_personalized_pr",
    "d18_lsh_audit", "q53_psi_drift", "f18_mann_whitney",
    // r14 additions: the manifest-table family + the round's drills
    "p18_manifest_table", "p19_zorder_layout", "p20_manifest_stats",
    "p21_manifest_delete", "p22_zorder_manifest", "q54_quantile_sketch",
    // r15 additions: the round's own new >= 1 s gates
    "p23_time_travel", "p24_delete_ids", "p25_manifest_upsert",
    "p26_incremental_read", "p27_atomic_backfill")

  /** Which table's row count is the gate's size metric (default
    * lineitem; graph/sort gates scan it, d/t gates scan documents). */
  private val gateTable: Map[String, String] = Map(
    "d02_ngram_jaccard" -> "documents", "d09_components" -> "documents",
    "d16_dedup_pipeline" -> "documents", "t21_textrank" -> "documents",
    "d06_winnow_pairs" -> "documents", "p13_leakage_split" -> "documents",
    "d03_minhash_lsh" -> "documents", "t16_bigram_surprisal" -> "documents",
    "t18_nb_confusion" -> "documents", "s03_kmeans_assign" -> "embeddings",
    "s04_semantic_dedup" -> "embeddings", "s14_knn_graph" -> "embeddings",
    "t25_kneser_ney" -> "documents", "t26_readability" -> "documents",
    "d17_incremental_ingest" -> "documents",
    "s13_mmr_diversify" -> "embeddings", "f13_kaplan_meier" -> "events",
    "mm08_image_neardup_nx" -> "documents",
    "mm09_audio_neardup_nx" -> "documents",
    "mm10_video_neardup_nx" -> "documents",
    "mm13_jpeg_neardup_nx" -> "documents",
    // r8 tail: f07/q42 scan orders, which scales with lineitem (same
    // disjoint-copy factor), so lineitem's count is the size metric
    "d11_shared_runs" -> "documents", "d13_fuzzy_join" -> "documents",
    "d14_dup_spans" -> "documents", "p14_dsir_select" -> "documents",
    "s01_ann_topk" -> "embeddings", "t10_tfidf_topk" -> "documents",
    "t12_surprisal" -> "documents", "t20_collocations" -> "documents",
    "t28_rake_keywords" -> "documents",
    "s15_ivfpq_topk" -> "embeddings", "t29_ppl_filter" -> "documents",
    "d06_winnow_disjoint" -> "documents",
    "s07_pq_topk" -> "embeddings", "p09_curate_e2e" -> "documents",
    "d07_contamination" -> "documents", "d18_lsh_audit" -> "documents",
    // r12 tail: the new event-table stats/sketch gates
    "f19_roc_auc" -> "events", "f20_diff_in_diff" -> "events",
    "f21_calibration" -> "events", "f22_ks_test" -> "events",
    "q55_acf" -> "events", "q56_join_size" -> "events",
    "q57_group_percentiles" -> "events",
    "t31_macro_f1" -> "documents", "d19_dup_mass" -> "documents",
    // r13 tail: the new index/layout/sizing gates (p13 already mapped
    // above)
    "s16_ivf_append" -> "embeddings", "f25_power" -> "events")

  /** Probe-ONLY variants (not SparkEntry gates): the mm near-dup gates
    * pin their payload count (LIMIT 40/30) for oracle determinism, so
    * the gate itself cannot show a scaling exponent — these variants
    * grow the payload corpus with the documents table (one payload per
    * eligible doc_id % 3 residue, i.e. ~n/3 synthetic media blobs) and
    * run the exact gate pipeline: decode → pool → hash → banded capped
    * Hamming NN. */
  private val probeOnly: Map[String, (SparkSession, String) => DataFrame] = {
    import graft.operators.Multimodal
    // NOTE the repartition between payload synthesis and hashing: the
    // payload builders end in orderBy+LIMIT, whose GlobalLimit collapses
    // everything onto one partition — without the respread the probe
    // would time a ONE-TASK decode pipeline instead of the gate's
    // distributed per-payload decode.
    def spread(df: DataFrame): DataFrame = df.repartition(32)
    // one payload per eligible doc (~n/3), hashed, then the gates'
    // banded capped Hamming NN
    def nearDup(payloads: (DataFrame, Int) => DataFrame,
        hash: DataFrame => Dataset[_]): (SparkSession, String) => DataFrame =
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val n = (docs.count() / 3).toInt + 1
        Multimodal.nearestByHamming(hash(spread(payloads(docs, n))).toDF(),
          bandBits = 16, numBands = 4, maxBucket = 1000)
      }
    Map(
      "mm08_image_neardup_nx" ->
        nearDup(Multimodal.imagePayloads(_, _), Multimodal.imageAHash),
      // r9: the lossy-codec cousin — JPEG encode AND decode both ride
      // the probe (encode is scan-side in jpegPayloads, decode in
      // imageAHash), so the α covers the full codec round trip
      "mm13_jpeg_neardup_nx" ->
        nearDup(Multimodal.jpegPayloads(_, _), Multimodal.imageAHash),
      "mm09_audio_neardup_nx" ->
        nearDup(Multimodal.audioPayloads(_, _), Multimodal.audioAHash),
      // d06 α forensics (r8 verdict #1): the shared sf1x corpus suffixes
      // each WORD with its copy index, which keeps word-shingle spaces
      // disjoint but leaves within-word 8-CHAR grams shared across all
      // 10 copies — every doc gains 9 borderline near-copies that pass
      // minhash banding and fail the 0.5 verify, a candidate
      // densification artifact, not operator scaling. This variant
      // rewrites every word to hex(xxhash64(word, copy)) so char-gram
      // spaces are disjoint across copies while per-copy near-dup
      // structure (shared word runs → shared gram runs) is preserved;
      // a near-1 α here isolates the operator's true volume scaling.
      "d06_winnow_disjoint" -> ((s, d) => {
        val docs = Tables(s, d, "documents")
        // copy stride = what the generator actually shifts by
        // (max base doc_id + 1), NOT the row count — the two coincide
        // only while base ids are dense and 0-based; a sparse or
        // 1-based id space would salt boundary docs with the NEXT
        // copy's hash and bias the very α this variant isolates
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val base =
          if (d.contains("graft_sf1x")) (maxId + 1) / copies else maxId + 1
        val cop = (col("doc_id") / lit(base)).cast("long")
        val rewritten = docs.withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => lower(hex(xxhash64(w, cop)))), " "))
        graft.operators.Dedup.winnowOverlapPairs(rewritten, "doc_id",
          "text", k = 8, w = 6, threshold = 0.5, maxBucket = 500,
          numHashes = 64, bands = 16)
      }),
      "mm10_video_neardup_nx" ->
        nearDup(Multimodal.videoPayloads(_, _), Multimodal.videoAHash))
  }

  private val copies = 10

  /** Generate the 10x dir from sf0.1 if absent; returns its path. */
  def ensureScaled(spark: SparkSession, baseDir: String): String = {
    val out = "/tmp/graft_sf1x_v2"
    if (Files.exists(Paths.get(s"$out/_DONE"))) {
      ensureScaledEmbeddings(spark, baseDir, out) // additive v3 step
      ensureScaledEvents(spark, baseDir, out) // additive v4 step
      ensureScaledDims(spark, baseDir, out) // additive v5 step
      return out
    }
    val li = Tables(spark, baseDir, "lineitem")
    val ord = Tables(spark, baseDir, "orders")
    // ONE shared orderkey offset for lineitem AND orders — the q29-style
    // fact⋈fact join must keep every copy's lineitem rows joined to that
    // copy's orders (per-table maxes would de-correlate the copies)
    val maxO = ord.agg(max("o_orderkey")).collect()(0).getLong(0) + 1L
    val maxP = li.agg(max("l_partkey")).collect()(0).getLong(0) + 1L
    li.crossJoin(spark.range(copies).toDF("_c"))
      .withColumn("l_orderkey", col("l_orderkey") + col("_c") * maxO)
      .withColumn("l_partkey", col("l_partkey") + col("_c") * maxP)
      .drop("_c")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // orders is written by ensureScaledDims (o_orderkey AND o_custkey
    // shifted) — its maxO derives from the same base table, so the
    // lineitem shift above stays correlated; writing a v1 orders here
    // would be immediately overwritten
    val docs = Tables(spark, baseDir, "documents")
    val maxD = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1L
    docs.crossJoin(spark.range(copies).toDF("_c"))
      .withColumn("doc_id", col("doc_id") + col("_c") * maxD)
      .withColumn("text", when(col("_c") === 0, col("text"))
        .otherwise(array_join(transform(split(col("text"), " "),
          w => concat(w, lit("~"), col("_c"))), " ")))
      .drop("_c")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    Files.createFile(Paths.get(s"$out/_DONE"))
    ensureScaledEmbeddings(spark, baseDir, out)
    ensureScaledEvents(spark, baseDir, out)
    ensureScaledDims(spark, baseDir, out)
    out
  }

  /** Additive v5 step: part, customer, nation (the d13/q16 inputs) and
    * an orders regeneration that shifts o_custkey in lockstep with the
    * customer copies. Key discipline per table:
    *  - part: 10 copies, p_partkey shifted by the SAME maxP lineitem
    *    used (copy c's l_partkey values match copy c's part rows) and
    *    every p_name token suffixed per copy, so d13's last-token
    *    blocking stays disjoint across copies — per-copy typo structure
    *    preserved, pure volume growth;
    *  - customer + orders: o_custkey/c_custkey shift together (without
    *    it every original customer would absorb 10 copies' orders —
    *    densified groups, not volume); o_orderkey keeps its v1 shift;
    *  - nation: constant 25-row broadcast dim, copied verbatim
    *    (c_nationkey is NOT shifted — region/nation are scale-free). */
  private def ensureScaledDims(spark: SparkSession, baseDir: String,
      out: String): Unit = {
    if (Files.exists(Paths.get(s"$out/_DONE_DIMS"))) return
    val part = Tables(spark, baseDir, "part")
    val li = Tables(spark, baseDir, "lineitem")
    val maxP = li.agg(max("l_partkey")).collect()(0).getLong(0) + 1L
    part.crossJoin(spark.range(copies).toDF("_c"))
      .withColumn("p_partkey", col("p_partkey") + col("_c") * maxP)
      .withColumn("p_name", when(col("_c") === 0, col("p_name"))
        .otherwise(array_join(transform(split(col("p_name"), " "),
          w => concat(w, lit("~"), col("_c"))), " ")))
      .drop("_c")
      .write.mode("overwrite").parquet(s"$out/part.parquet")
    val cust = Tables(spark, baseDir, "customer")
    val ord = Tables(spark, baseDir, "orders")
    val maxC = cust.agg(max("c_custkey")).collect()(0).getLong(0) + 1L
    val maxO = ord.agg(max("o_orderkey")).collect()(0).getLong(0) + 1L
    cust.crossJoin(spark.range(copies).toDF("_c"))
      .withColumn("c_custkey", col("c_custkey") + col("_c") * maxC)
      .drop("_c")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    ord.crossJoin(spark.range(copies).toDF("_c"))
      .withColumn("o_orderkey", col("o_orderkey") + col("_c") * maxO)
      .withColumn("o_custkey", col("o_custkey") + col("_c") * maxC)
      .drop("_c")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    Tables(spark, baseDir, "nation")
      .write.mode("overwrite").parquet(s"$out/nation.parquet")
    Files.createFile(Paths.get(s"$out/_DONE_DIMS"))
  }

  /** Additive v4 step: scaled events. Copies shift user_id AND
    * event_id (user sessions are the unit of work for the funnel/
    * survival gates — disjoint user domains = pure volume growth, no
    * densified per-user timelines). Timestamps pass through Tables'
    * nanos handling once and are written as plain µs. */
  private def ensureScaledEvents(spark: SparkSession, baseDir: String,
      out: String): Unit = {
    if (Files.exists(Paths.get(s"$out/_DONE_EVT"))) return
    val ev = Tables(spark, baseDir, "events")
    val maxU = ev.agg(max("user_id")).collect()(0).getLong(0) + 1L
    val maxE = ev.agg(max("event_id")).collect()(0).getLong(0) + 1L
    ev.crossJoin(spark.range(copies).toDF("_c"))
      .withColumn("user_id", col("user_id") + col("_c") * maxU)
      .withColumn("event_id", col("event_id") + col("_c") * maxE)
      .drop("_c")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    Files.createFile(Paths.get(s"$out/_DONE_EVT"))
  }

  /** Additive v3 step: scaled embeddings. Each copy's vectors are
    * CIRCULARLY ROTATED by the copy index — ids disjoint AND vectors
    * decorrelated across copies (plain duplication would plant 10
    * identical copies of every vector and the near-dup/cluster gates
    * would measure quadratic duplicate blowup, not volume). */
  private def ensureScaledEmbeddings(spark: SparkSession, baseDir: String,
      out: String): Unit = {
    if (Files.exists(Paths.get(s"$out/_DONE_EMB"))) return
    val emb = Tables(spark, baseDir, "embeddings")
    val maxV = emb.agg(max("vec_id")).collect()(0).getLong(0) + 1L
    emb.crossJoin(spark.range(copies).toDF("_c"))
      .withColumn("vec_id", col("vec_id") + col("_c") * maxV)
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)),
          j => element_at(col("embedding"),
            (pmod(j + col("_c"), lit(64)) + 1).cast("int"))))
      .drop("_c")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    Files.createFile(Paths.get(s"$out/_DONE_EMB"))
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("SCALING_r7.json")
    val gates = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultGates)
    val spark = GraftSession.getOrCreate("graft-scaling-probe")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sf1x = ensureScaled(spark, "/root/testdata/sf0.1")
    val dirs = Seq("sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1", "sf1x" -> sf1x)
    // per-dir size metric: the row count of the table the gate scans
    val rowsOf: Map[String, Map[String, Long]] = dirs.map { case (label, d) =>
      label -> Map(
        "lineitem" -> Tables(spark, d, "lineitem").count(),
        "documents" -> Tables(spark, d, "documents").count(),
        "embeddings" -> Tables(spark, d, "embeddings").count(),
        "events" -> Tables(spark, d, "events").count())
    }.toMap
    def tableOf(gate: String): String =
      gateTable.getOrElse(gate, "lineitem")

    val results = gates.flatMap { gate =>
      val fn = SparkEntry.queries.getOrElse(gate, probeOnly(gate))
      val timesOpt = try Some(dirs.map { case (label, d) =>
        // min of 2 by default: one-off GC/codegen noise must not set an
        // exponent. SPARK_GRAFT_ITERS raises it for isolated
        // single-gate evidence runs (the min-of-4 floors discipline).
        val iters = SparkEntry.sweepIters(default = 2)
        val t = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, d).count()
          val dt = (System.nanoTime() - t0) / 1e9
          SweepCache.releaseGateStorage(spark)
          dt
        }.min
        println(f"[scaling] $gate%-20s $label%-7s ${t}%7.2f s")
        label -> t
      }.toMap) catch {
        case e: Throwable =>
          // a gate that needs a table the generated dir lacks is SKIPPED
          // loudly, not silently recorded as fast
          println(s"[scaling] $gate SKIPPED: ${e.getMessage}")
          None
      }
      timesOpt.map(times => (gate, times))
    }.map { case (gate, times) =>
      val tbl = tableOf(gate)
      def alpha(lo: String, hi: String): Double = {
        val (nLo, nHi) = (rowsOf(lo)(tbl), rowsOf(hi)(tbl))
        math.log(times(hi) / times(lo)) / math.log(nHi.toDouble / nLo)
      }
      val a01 = alpha("sf0.01", "sf0.1")
      val a1x = alpha("sf0.1", "sf1x")
      println(f"[scaling] $gate%-20s alpha(sf0.01->sf0.1)=$a01%5.2f " +
        f"alpha(sf0.1->sf1x)=$a1x%5.2f")
      (gate, tbl, times, a01, a1x)
    }
    val json = results.map { case (g, tbl, t, a01, a1x) =>
      s""""$g":{"table":"$tbl","sec":{"sf0.01":${t("sf0.01")},""" +
        s""""sf0.1":${t("sf0.1")},"sf1x":${t("sf1x")}},""" +
        s""""alpha_small":${f"$a01%.3f"},"alpha_large":${f"$a1x%.3f"}}"""
    }.mkString(
      s"""{"rows":{"lineitem":[${dirs.map(d => rowsOf(d._1)("lineitem")).mkString(",")}],""" +
        s""""documents":[${dirs.map(d => rowsOf(d._1)("documents")).mkString(",")}],""" +
        s""""embeddings":[${dirs.map(d => rowsOf(d._1)("embeddings")).mkString(",")}],""" +
        s""""events":[${dirs.map(d => rowsOf(d._1)("events")).mkString(",")}],""" +
        s""""dirs":["sf0.01","sf0.1","sf1x"]},""",
      ",", "}")
    // MERGE into an existing record instead of overwriting it: a
    // late-round single-gate probe must not erase the round's earlier
    // probe evidence (r14 lost six records exactly this way — the p22
    // run clobbered the file and the data survived only in git
    // history). Fresh entries win on key conflicts, including "rows".
    val merged =
      if (Files.exists(Paths.get(outJson))) {
        import org.json4s._
        import org.json4s.jackson.JsonMethods
        val prior = JsonMethods.parse(Files.readString(Paths.get(outJson)))
          .asInstanceOf[JObject].obj
        val fresh = JsonMethods.parse(json).asInstanceOf[JObject].obj
        val freshKeys = fresh.map(_._1).toSet
        JsonMethods.compact(JsonMethods.render(
          JObject(prior.filterNot(kv => freshKeys(kv._1)) ++ fresh)))
      } else json
    Files.writeString(Paths.get(outJson), merged + "\n")
    println(s"[scaling] wrote $outJson (merged into existing record)")
    spark.stop()
  }
}
