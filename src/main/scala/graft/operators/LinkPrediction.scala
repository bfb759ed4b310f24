package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adamic-Adar link prediction — "which items SHOULD be connected but
  * aren't yet?" (Adamic & Adar 2003): for every non-adjacent pair
  * (u, v) sharing at least one neighbor, score = Σ over common
  * neighbors w of 1/ln(deg(w)) — a rare shared neighbor says more
  * than a ubiquitous hub. The recommender complement to a03's
  * co-occurrence counts (which rank EXISTING links).
  *
  * Exactness: each witness term is quantized ONCE per node —
  * round(10⁹ / ln(deg)) as a long — and candidate scores are exact
  * integer sums of those terms, so shuffle order can't move an ulp
  * and DuckDB replays score-for-score (the f13 quantized-ln-term
  * discipline; deg ≥ 2 for any witness, so ln > 0).
  *
  * Scale shape: the common-neighbor expansion is the classic
  * Σ deg(w)² wedge join — unlike triangle counting it cannot be
  * degree-oriented away, because BOTH endpoints of every wedge are
  * output. The lever is `maxDegree`: drop super-hub witnesses (their
  * per-pair contribution 1/ln(huge) is the smallest while their pair
  * blowup is the largest — the same cap family as Dedup.maxBucket),
  * bounding wedge volume by maxDegree·m. All joins are equi-joins on
  * node keys; the candidate aggregate runs on diverse (u, v) keys.
  *
  * Cap sizing (measured, `scaling_g08_capsweep_r12.json`): set
  * `maxDegree` to a small multiple (2–5×) of the MEAN witness degree —
  * on a Zipf-hub graph (1000 hubs of ~2k degree over 200k mean-degree-
  * ~20 nodes) caps 24–192 all kept ≥ 99.99% of the non-hub wedge mass
  * while excluding the hubs' ~2·10⁹ wedges (≈ 200× the kept mass, all
  * carrying the minimum 1/ln score); on the 10×-volume corpus the
  * capped gate's scale exponent read α ≈ 0.6 (cap 48) and ≈ 0.4
  * (cap 96) — the cap, not the data, bounds the join.
  */
object LinkPrediction {

  /** Candidate scores over an undirected-distinct `(a, b)` edge frame
    * (a < b, the [[Triangles.coOccurrenceEdges]] contract): one row
    * per non-adjacent pair with ≥ 1 (cap-surviving) common neighbor —
    * (a, b, cn, aa_e9) with `cn` = common-neighbor count and `aa_e9`
    * = Σ round(10⁹/ln(deg(w))). `maxDegree` > 0 excludes witnesses
    * with more than that many neighbors (0 = exact, no cap). */
  def adamicAdar(edges: DataFrame, maxDegree: Int = 0): DataFrame = {
    // read 3×: degrees, both adjacency directions, the final anti-join
    val e0 = edges.select(col("a"), col("b")).localCheckpoint()
    val deg = Triangles.degrees(e0)
    val witnesses =
      if (maxDegree > 0) deg.filter(col("deg") <= maxDegree) else deg
    // quantize the ln term once per witness node, BEFORE the wedge
    // blowup (deg ≥ 2: a node must have two neighbors to witness)
    val wTerm = witnesses.filter(col("deg") >= 2)
      .select(col("n").as("w"),
        round(lit(1.0e9) / log(col("deg").cast("double")))
          .cast("long").as("term"))
    val adj = e0.select(col("a").as("u"), col("b").as("w"))
      .unionByName(e0.select(col("b").as("u"), col("a").as("w")))
    // inner join = hub-cap prune AND term attach in one pass.
    // Deliberately LAZY into the self-join: Spark has no cross-branch
    // CSE, so each side re-derives this join — but both derivations
    // fuse into ONE job whose stages run concurrently, and the A/B
    // (same-group min-of-4, sf0.1) read 1.69 s lazy vs 2.42 s with a
    // localCheckpoint here — materializing the edge-sized frame costs
    // more than the duplicate join (the q46 lazy-rider trade; contrast
    // Hits, where the un-materialized frame was re-derived per RIDER
    // and checkpointing won)
    val capped = adj.join(wTerm, "w")
    val cand = capped.as("p")
      .join(capped.as("q"),
        col("p.w") === col("q.w") && col("p.u") < col("q.u"))
      .select(col("p.u").as("a"), col("q.u").as("b"),
        col("p.term").as("term"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum(col("term")).as("aa_e9"))
    // aggregate BEFORE the anti-join: distinct pairs, not wedge rows
    cand.join(e0, Seq("a", "b"), "left_anti")
  }
}
