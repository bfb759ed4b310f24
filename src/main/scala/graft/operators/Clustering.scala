package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.classic.{GraftColumnBridge => bridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.CosineSimilarity

/** Spherical k-means over an embedding column and the SemDeDup-style
  * semantic near-duplicate collapse built on it (Abbas et al., "SemDeDup:
  * Data-efficient learning at web-scale through semantic deduplication",
  * 2023): cluster with cosine assignment, then search for near-duplicates
  * only WITHIN a cluster — the cluster id plays the role every other
  * dedup path gives a hash bucket, turning O(n²) pairwise cosine into
  * k × O((n/k)²) with candidates drawn from an equi-join.
  *
  * Determinism contract (gate + fixture must agree bit-for-bit within a
  * run): init picks the k seeds with the smallest md5(id) — order-stable
  * and engine-portable; centroid means are summed in DECIMAL, so the
  * result is independent of shuffle-reduce arrival order (a double sum
  * is not); assignment is the native codegen'd [[CosineSimilarity]],
  * a sequential fold. Ties in the argmax break toward the lowest
  * cluster id on both engines (first position of the max).
  *
  * Scale shape: each iteration is one assignment pass (k fused-loop
  * cosines per row, no shuffle) plus one (cluster, pos)-keyed partial
  * aggregation whose output is k×dim rows; centroids live on the driver
  * between iterations (k×dim floats), exactly like every production
  * k-means. Cluster count k should grow with the corpus (SemDeDup runs
  * k in the tens of thousands at web scale) so the within-cluster
  * pairwise stays bounded.
  */
object Clustering {

  /** Cosine of `vec` against one literal centroid (codegen'd). */
  private def cosTo(vec: Column, centroid: Seq[Float]): Column =
    bridge.column(CosineSimilarity(bridge.expression(vec),
      bridge.expression(typedlit(centroid))))

  private def cosines(vec: Column, centroids: Seq[Seq[Float]]): Column =
    array(centroids.map(c => nanvl(cosTo(vec, c), lit(-2.0))): _*)

  /** Fit spherical k-means: returns the k centroids (index = cluster
    * id) — fewer than k when the input has fewer than k rows (callers
    * get exactly one seed per available row). Empty clusters keep their
    * previous centroid. */
  def fit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Seq[Seq[Float]] = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    // persisted: init + every Lloyd iteration re-consume the projection;
    // without this each of the iters+1 jobs re-derives the upstream
    // (possibly a planted/transformed corpus) from the scan. r15 A/B
    // (sf0.1, min-of-4) was a wash on a cheap scan (s03 1.35 s persisted
    // vs 1.34 s lazy); the persist is for expensive upstreams
    // (CorpusCurate). try/finally so a failed iteration doesn't leave
    // the projection cached forever.
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v")).persist()
    try {
      var centroids: Seq[Seq[Float]] = v
        .orderBy(md5(col("id").cast("string")))
        .limit(k)
        .select(col("v"))
        .collect().map(_.getSeq[Float](0).toSeq).toSeq
      for (_ <- 0 until iters) {
        val assigned = v.select(col("v"),
          argmax(cosines(col("v"), centroids)).as("cluster"))
        // DECIMAL sums: bit-deterministic means regardless of which
        // reduce-side order the partial aggregates arrive in
        val means = assigned
          .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cluster", "pos")
          .agg((sum(col("x").cast("decimal(27,12)")) / count(lit(1)))
            .cast("double").cast("float").as("m"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (c, rows) =>
            c -> rows.sortBy(_.getInt(1)).map(_.getFloat(2)).toSeq
          }
        centroids =
          centroids.indices.map(i => means.getOrElse(i, centroids(i)))
      }
      centroids
    } finally v.unpersist()
  }

  /** First index of the array's max — the argmax with ties toward the
    * lowest cluster id (mirrors SQL `list_position(l, list_max(l))`). */
  private def argmax(arr: Column): Column =
    (array_position(arr, array_max(arr)) - 1).cast("int")

  /** Assign every vector to its nearest centroid by cosine.
    * Returns (id, cluster, cos). */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]]): DataFrame = {
    val cs = cosines(col(vecCol), centroids)
    emb.select(col(idCol).as("id"),
      argmax(cs).as("cluster"),
      array_max(cs).as("cos"))
  }

  /** Fit + assign in one call (the gate shape). */
  def fitAssign(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame =
    assign(emb, idCol, vecCol, fit(emb, idCol, vecCol, k, iters))

  /** SemDeDup: near-duplicate pairs (cosine >= threshold) found within
    * clusters only. Returns (id_a, id_b, cos) with id_a < id_b. The
    * within-cluster join is the scale guard — pairs across clusters are
    * never enumerated. */
  def semanticDedupPairs(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Float]], threshold: Double): DataFrame = {
    // cluster computed directly on the projection (no join back for the
    // vector), and the tagged frame is checkpointed: it feeds BOTH sides
    // of the self-join, which would otherwise re-derive the whole
    // upstream (in CorpusCurate: the full curation chain) per side
    val tagged = emb
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cluster", argmax(cosines(col("v"), centroids)))
      .localCheckpoint(true)
    pairsWithinClusters(tagged, threshold)
  }

  /** Within-cluster near-dup pairs from a pre-tagged (id, v, cluster)
    * frame — the shared tail of [[semanticDedupPairs]] and the
    * capped-cluster path. Caller must have materialized `tagged`
    * (it feeds both sides of the self-join). */
  private def pairsWithinClusters(tagged: DataFrame,
      threshold: Double): DataFrame = {
    val a = tagged.select(col("cluster"), col("id").as("id_a"),
      col("v").as("va"))
    val b = tagged.select(col("cluster"), col("id").as("id_b"),
      col("v").as("vb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", bridge.column(CosineSimilarity(
        bridge.expression(col("va")), bridge.expression(col("vb")))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** SemDeDup over a SIZE-CAPPED assignment: near-dup pairs within the
    * leaf clusters of [[capAssign]]. With leaves bounded by
    * `maxClusterSize` the candidate term is <= n·maxClusterSize/2 —
    * LINEAR in n (the fixed-k path's within-cluster term grows as
    * (n/k)² per cluster, measured alpha=1.42 on the r6 probe). */
  def semanticDedupPairsCapped(emb: DataFrame, idCol: String,
      vecCol: String, threshold: Double, maxClusterSize: Int = 100,
      k: Int = 8, iters: Int = 4): DataFrame =
    // capAssign's result is already a localCheckpoint frame — both
    // self-join sides read that materialization directly
    pairsWithinClusters(
      capAssign(emb, idCol, vecCol, maxClusterSize, k, iters), threshold)

  /** Recursive-split assignment with a LEAF-SIZE CAP: cluster with
    * grouped spherical k-means (k small, e.g. 8), then re-cluster every
    * leaf still holding more than `maxClusterSize` rows, until all
    * leaves fit or `maxLevels` is hit. Returns (id, v, cluster) where
    * cluster is the split path (e.g. "r.3.5") — equal paths = same leaf.
    *
    * This is the s14/autoPlanes lever applied to SemDeDup: the
    * effective cluster count is ≈ n/maxClusterSize and GROWS WITH THE
    * CORPUS, so the within-cluster pairwise term stays linear, while
    * per-level work stays O(n·k·d) because every oversized leaf at a
    * level is split in ONE batched grouped-Lloyd pass (a windowed seed
    * pick + iters join/aggregate rounds — job count is per LEVEL, not
    * per cluster). Level count: the root splits up to 1024 ways
    * (autoK, bounded), then k-way levels finish the job — about
    * 1 + log_k(n / (1024 · maxClusterSize)) levels, e.g. ~9 for 10¹²
    * rows at k=8/cap=100 (`maxLevels` defaults comfortably above
    * that), so total work is O(n·k·d·log n) with no driver-side state
    * beyond loop control.
    *
    * Determinism (two invocations in one engine must agree — the gate
    * and its aux fixture run separately): seeds are the k smallest
    * md5(id) per group (total order), means are DECIMAL sums
    * (arrival-order independent), argmax ties break toward the lowest
    * cluster id, and pos-sorted collect_list rebuilds centroid arrays
    * order-stably. A leaf of > maxClusterSize IDENTICAL vectors cannot
    * split (all rows follow the same argmax) — `maxLevels` bounds the
    * recursion and such a leaf is returned oversized (its members are
    * mutual duplicates, which is exactly what the caller dedups). */
  def capAssign(emb: DataFrame, idCol: String, vecCol: String,
      maxClusterSize: Int = 100, k: Int = 8, iters: Int = 4,
      maxLevels: Int = 16): DataFrame = {
    require(maxClusterSize > k && k > 1 && iters >= 0,
      "need maxClusterSize > k > 1, iters >= 0")
    var cur = emb
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        lit("r").as("cluster"))
      .localCheckpoint(true)
    var level = 0
    var done = false
    while (!done && level < maxLevels) {
      // leaf-count-sized; checkpointed so the loop-control probe and
      // both join references read it instead of re-aggregating cur
      val sizes = cur.groupBy("cluster").agg(count(lit(1)).as("_n"))
        .localCheckpoint(true)
      // driver scalar for loop control only — never the member rows
      val nOver = sizes.filter(col("_n") > maxClusterSize).count()
      if (nOver == 0L) done = true
      else {
        val tagged = cur.join(broadcast(sizes), Seq("cluster"))
        // materialized: the Lloyd chain references this frame iters+2
        // times (seeds + every assignment); without the checkpoint each
        // reference re-derives the join from cur
        val over = tagged.filter(col("_n") > maxClusterSize)
          .select("cluster", "id", "v")
          .localCheckpoint(true)
        val fit = tagged.filter(col("_n") <= maxClusterSize)
          .select("cluster", "id", "v")
        // the ROOT split is autoK: one Lloyd pass with k0 ≈ 2n/cap
        // clusters (bounded at 1024 — broadcast/seed state stays
        // constant) lands most leaves under the cap immediately; later
        // levels split only the stragglers k-way. Without this, every
        // level re-clusters nearly the whole corpus and the per-level
        // AQE stage barriers — not the math — dominate (measured 7-9 s
        // at sf0.1 vs ~3 s with the wide root).
        val kLevel =
          if (level == 0) {
            val n = sizes.agg(sum(col("_n"))).collect()(0).getLong(0)
            math.min(math.max(k.toLong,
              2L * n / math.max(1, maxClusterSize) + 1L), 1024L).toInt
          } else k
        // centroid-array broadcast is the fast path (no per-row
        // shuffle); past ~200k centroids (nOver·k) the broadcast stops
        // fitting and assignment falls back to the shuffled equi-join +
        // window — same values, exchange-per-iteration cost
        val sub = groupedLloyd(over, kLevel, iters,
          broadcastCents = nOver * kLevel <= 200000L,
          rootSeeds = level == 0) // (cluster, id, v, c)
          .select(concat(col("cluster"), lit("."), col("c"))
            .as("cluster"), col("id"), col("v"))
        // ONE materialization closes the level: the whole iters-round
        // Lloyd chain (seeds + per-iteration assign/means) executes
        // lazily inside this job over the checkpointed `over` frame —
        // per-iteration checkpoint barriers measured slower than the
        // math they saved
        cur = fit.unionByName(sub).localCheckpoint(true)
        level += 1
      }
    }
    cur
  }

  /** One batched Lloyd run over MANY groups at once: fits k centroids
    * per `cluster` group and returns each row's final assignment
    * (cluster, id, v, c). Centroids live in a (cluster, c, cent)
    * DataFrame — no per-group driver loop, no k-literal projection
    * (the flat [[fit]]'s k-wide expression array stops codegen'ing
    * near k ~ 100; the join shape has no such ceiling). Empty clusters
    * simply vanish from the centroid frame (they attract no rows).
    *
    * Entirely LAZY: the returned frame chains seed window → iters ×
    * (assign join + decimal means) → final assign into one plan whose
    * only data dependency is `rows` — the caller materializes `rows`
    * once and the whole run executes inside the caller's next action
    * (iters is small and fixed, so the linear lineage stays shallow;
    * per-iteration checkpoint barriers measured slower than the math
    * they saved). */
  private def groupedLloyd(rows: DataFrame, k: Int, iters: Int,
      broadcastCents: Boolean, rootSeeds: Boolean = false): DataFrame = {
    def assignWith(r: DataFrame, c: DataFrame): DataFrame =
      if (broadcastCents) assignGrouped(r, c)
      else assignGroupedShuffle(r, c)
    // root level = ONE group: the per-group seed window would plan a
    // single-task sort of the whole corpus; a distributed TakeOrdered
    // of the k smallest md5(id) rows (k bounded by the caller) gives
    // the same seeds scale-safely. Deeper levels have many groups, so
    // the group-parallel window is the right shape there.
    // Seed order: md5(id) primary, the vector's string form secondary.
    // md5(id) alone is a total order only when ids are unique; on a
    // corpus with duplicate ids the tie would make the seed pick (and
    // thus the whole split path) nondeterministic. With the vector
    // tie-break, remaining ties are identical (id, v) rows — whichever
    // wins, the seed VALUE is the same, so the clustering is too.
    val seedOrd = Seq(md5(col("id").cast("string")),
      col("v").cast("string"))
    var cents =
      if (rootSeeds)
        rows.orderBy(seedOrd: _*).limit(k)
          .withColumn("_rn", row_number().over(org.apache.spark.sql
            .expressions.Window.orderBy(seedOrd: _*)))
          .select(col("cluster"), (col("_rn") - 1).as("c"),
            col("v").as("cent"))
      else {
        val seedW = Window.partitionBy("cluster")
          .orderBy(seedOrd: _*)
        rows
          .withColumn("_rn", row_number().over(seedW))
          .filter(col("_rn") <= k)
          .select(col("cluster"), (col("_rn") - 1).as("c"),
            col("v").as("cent"))
      }
    for (_ <- 0 until iters) {
      val assigned = assignWith(rows, cents)
      cents = assigned
        .select(col("cluster"), col("c"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "c", "pos")
        .agg((sum(col("x").cast("decimal(27,12)")) / count(lit(1)))
          .cast("double").cast("float").as("m"))
        .groupBy("cluster", "c")
        .agg(sort_array(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cluster"), col("c"),
          transform(col("pm"), e => e.getField("m")).as("cent"))
    }
    assignWith(rows, cents)
  }

  /** Large-scale assignment fallback: rows × centroids through a
    * shuffled equi-join on the group key, per-row argmax via a
    * (cluster, id) window — no broadcast, so it holds when the
    * centroid population itself is beyond executor memory. Ties break
    * toward the lowest c (row_number over cos DESC, c ASC — the same
    * first-position-of-max rule as [[argmax]]). */
  private def assignGroupedShuffle(rows: DataFrame,
      cents: DataFrame): DataFrame = {
    val scored = rows.join(cents, Seq("cluster"))
      .withColumn("_cos", nanvl(bridge.column(CosineSimilarity(
        bridge.expression(col("v")), bridge.expression(col("cent")))),
        lit(-2.0)))
    val w = Window.partitionBy("cluster", "id")
      .orderBy(col("_cos").desc, col("c"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("cluster"), col("id"), col("v"), col("c"))
  }

  /** Nearest-centroid assignment with NO per-row shuffle: each group's
    * centroids collapse to ONE c-ordered array row (groups×k×dim
    * floats — broadcast-sized by construction), the broadcast join
    * multiplies nothing (one array per input row), and the argmax runs
    * scan-side over the cosine array — the same first-position-of-max
    * tie rule as [[argmax]]. (The first r7 cut shuffled rows×centroids
    * through an equi-join + a (cluster,id) window sort per iteration;
    * with AQE materializing a stage per exchange, the 4-iteration Lloyd
    * paid ~3 stage barriers per round and s04 benched 9 s at sf0.1.
    * The HOF cosine is interpreted, but it's k·d multiply-adds per row
    * on the scan — no exchange — and cosine itself is the codegen'd
    * native expression.) */
  private def assignGrouped(rows: DataFrame,
      cents: DataFrame): DataFrame = {
    val centArr = cents.groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("c"), col("cent"))))
        .as("_ca"))
    // emit the struct's ACTUAL c, not the argmax position — once a
    // centroid empties mid-Lloyd the array has id gaps, and the
    // position would diverge from the shuffled fallback's labels
    rows.join(broadcast(centArr), Seq("cluster"))
      .withColumn("_cos", transform(col("_ca"),
        e => nanvl(VectorOps.cosine(col("v"), e.getField("cent")),
          lit(-2.0))))
      .select(col("cluster"), col("id"), col("v"),
        element_at(col("_ca"), argmax(col("_cos")) + 1)
          .getField("c").as("c"))
  }
}
