package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench")
      // the app-status store tracks every job/stage/task/SQL execution
      // even with the UI off; a 160+-gate sweep accumulates tens of
      // thousands of entries. Keep only a token history — a benchmark
      // serves no UI. (Bounded-state hygiene; in r6 A/B sweeps the
      // ambient sandbox variance (~±40% per gate) dominated any
      // measurable effect of this cap.)
      .config("spark.ui.retainedJobs", "30")
      .config("spark.ui.retainedStages", "30")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "2")
      .config("spark.worker.ui.retainedExecutors", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // sweep-level shared fixtures (co-purchase edges, shingle spine,
    // MinHash signatures): build once, every consumer gate reads blocks
    SweepCache.enable()
    // warmup: pay one-time JIT/codegen/session bootstrap AND the
    // parquet reader/scan init outside the per-query timings (the first
    // timed query otherwise absorbs ~2s)
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()
    catch {
      case scala.util.control.NonFatal(e) =>
        // a silently skipped warmup reassigns scan-init cost to the
        // first timed query — say so instead of hiding it
        System.err.println(s"[bench] parquet warmup skipped: ${e.getMessage}")
    }
    // Warm the library's heavy operator families on a ~100-row synthetic
    // corpus (NOT the benched data): shingling + windows + collect_set +
    // array_intersect joins + MinHash banding. Alphabetical order
    // otherwise makes d02 — the first shingle query — absorb ~4s of
    // first-use JIT/codegen that belongs to the JVM, not the query
    // (measured: d02 cold 7.1s vs steady-state 2.3s at sf0.1). Timed
    // runs still hit cold data; only the JVM is steady-state, which is
    // what per-query comparisons against the baseline assume.
    try {
      import org.apache.spark.sql.functions._
      val warm = spark.range(100).selectExpr("id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 29), " +
          "i -> concat('w', pmod(id * 31 + i * 7, 50)))) AS text")
      operators.Dedup.ngramJaccardPairsPrefix(
        warm, "doc_id", "text", 3, 0.5, 2000).count()
      operators.Dedup.minHashLshPairs(warm, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5).count()
      operators.Dedup.winnowOverlapPairs(warm, "doc_id", "text").count()
      // The iterative-graph family compiles a codegen/JIT surface
      // (K chained join+agg rounds, GraphLoop pins and round cuts)
      // the dedup warm-up never touches. In a full sweep ~50 earlier
      // gates warm it for free; in SMALL ISOLATED BATCHES — the floors
      // discipline — the g-family gates paid it themselves, which is
      // how g01's committed floor read 20.8 s against a 6.0 s in-sweep
      // steady state (the r8 verdict's vacuous-budget artifact). A
      // 50-node synthetic graph through every iterative operator pays
      // it here, once, outside the timings.
      val we = spark.range(1200).selectExpr(
        "pmod(id * 13, 200) AS src", "pmod(id * 7 + 1, 200) AS dst")
        .filter("src <> dst")
      val sym = we.union(we.selectExpr("dst AS src", "src AS dst"))
        .distinct()
      // two passes: the first Janino-compiles the per-plan classes, the
      // second re-enters them warm so the JVM's shuffle/hash-agg
      // machinery tiers up — one pass left g01's isolated floor at
      // ~12 s vs the ~6 s full-sweep steady state
      for (_ <- 0 until 2) {
        operators.PageRank.ranks(sym, iters = 3).count()
        operators.LabelPropagation.communities(sym, rounds = 2).count()
        operators.KCore.peel(sym, k = 2, rounds = 2).count()
        operators.Bfs.layers(sym,
          sym.selectExpr("src AS node").limit(1), maxHops = 2).count()
        // both component paths: driver union-find AND the distributed
        // pointer-jumping loop (localThreshold = 0 forces it)
        operators.ConnectedComponents.components(sym, "src", "dst").count()
        operators.ConnectedComponents
          .components(sym, "src", "dst", localThreshold = 0).count()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] operator warmup skipped: ${e.getMessage}")
    }
    // optional SPARK_GRAFT_ONLY subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = SparkEntry.selected(only)
    // a failed query must NOT bench as a (tiny) timing: record ok/failed
    // per query, list failures explicitly, and only sum successful runs.
    // Sorted order: Map iteration order is arbitrary, which silently
    // reassigns residual cold-start cost to a different query each
    // build — sorted names make per-query times comparable across runs.
    // Two warm iterations with min-of-n: single-run numbers at local[32]
    // carry 2–3x one-off noise (GC pause, codegen compile landing on one
    // query) that made the r3 artifact untrustworthy; min over warm runs
    // is the steady-state cost a comparison against the baseline needs.
    // 3 warm iterations by default: at 2, one GC pause / codegen stall
    // in either run still leaks into min() for ~a dozen gates per sweep
    // (r5/r6 A-B sweeps showed 1.5-2x single-gate swings with identical
    // code); the third run costs ~2 min and pins the steady-state floor
    // the baseline comparison is defined over.
    val iters = SparkEntry.sweepIters(default = 3)
    val names = selected.toSeq.sortBy(_._1)
    val runs: Seq[Seq[(String, Double, Boolean)]] = (1 to iters).map { _ =>
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // storage hygiene OUTSIDE the timed section
        SweepCache.releaseGateStorage(spark)
        (name, dt, ok)
      }
    }
    // min over the iterations where the query succeeded; failed iff it
    // failed in EVERY iteration (a one-off env hiccup shouldn't flag a
    // query the other iteration proved runnable — but any failure is
    // still printed to stderr above).
    val results = names.map(_._1).map { name =>
      val mine = runs.map(_.find(_._1 == name).get)
      val oks = mine.collect { case (_, t, true) => t }
      (name, if (oks.nonEmpty) oks.min else 0.0, oks.nonEmpty)
    }
    // 3-decimal seconds: full nanosecond floats made the 227-query line
    // ~10 KB, overflowing the driver's captured log tail (the r12
    // "parsed: null"); 1 ms resolution is far inside the measured ±40%
    // sandbox noise band, so nothing comparable is lost
    def sec(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.collect { case (k, v, true) => "\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true) => v }.sum
    // regression budgets: bench_budgets.json pins a per-gate ceiling
    // (~3x a committed full-sweep median — far above the measured ±40%
    // sandbox noise band, so a breach is a plan/code regression, not
    // noise). Gates absent from the file (new gates) are unchecked.
    // Budget breaches are LOUD: listed in the JSON line, printed to
    // stderr, and (for full runs) a nonzero exit below.
    val budgets: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("bench_budgets.json"))
        """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    val overBudget = results.collect {
      case (k, v, true) if budgets.get(k).exists(v > _) => k
    }
    overBudget.foreach { k =>
      val v = results.find(_._1 == k).get._2
      System.err.println(
        f"[bench] BUDGET BREACH: $k took $v%.2f s > budget ${budgets(k)}%.2f s")
    }
    val over = overBudget.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"failed":$failed,"over_budget":$over,"sf":"$sfDir","iters":$iters}"""
    // durable copy: the driver captures only the log tail, which truncated
    // the r3 artifact to 64 of 109 queries — a committed file survives.
    // A SPARK_GRAFT_ONLY subset run records to a sibling file so local
    // iteration can't clobber the committed full-contract record.
    val recordFile =
      if (only.isDefined) "bench_subset.json" else "bench_last.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(recordFile), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] $recordFile write failed: ${e.getMessage}")
    }
    // print the result blob LAST — after spark.stop(), whose shutdown
    // chatter otherwise interleaves past it and breaks tail-parsing
    // (BENCH_r11.json carried "parsed": null for exactly this reason)
    spark.stop()
    // compact summary FIRST (r15 verdict item 6): the full per-query
    // line is ~10 KB and a captured log tail can truncate it mid-line
    // (the r14 "parsed: null" artifact) — a short total-only line just
    // above it survives the same tail window. The full line below stays
    // the contract; bench_last.json is the durable per-query record.
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":${results.count(_._3)},"failed":$failed,"over_budget":$over,"sf":"$sfDir","iters":$iters,"detail":"per-query map on the next line and in $recordFile"}""")
    println(line)
    System.out.flush()
    // fail loudly AFTER artifacts are written — a budget breach must not
    // cost the round its bench record. Subset runs stay exit-0 (local
    // iteration on one slow gate shouldn't scream).
    if (only.isEmpty && overBudget.nonEmpty) sys.exit(1)
  }
}
