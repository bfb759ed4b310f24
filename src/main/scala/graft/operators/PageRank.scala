package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) in EXACT fixed-point arithmetic — the
  * link-centrality quality signal web-corpus curation pipelines rank
  * domains with (the Common-Crawl-style "keep the well-linked hosts"
  * filter).
  *
  * Why fixed-point: double-precision PageRank is shuffle-order-
  * dependent (float addition doesn't commute), so two engines — or two
  * runs — disagree in the last bits and a hash gate can't pin it.
  * Here ranks are longs at scale 10¹², contributions are integer
  * division `rank div deg`, and damping 0.85 is the integer expression
  * `(17 · x) div 20` — every operation is exact, sums commute, and
  * Spark and DuckDB agree bit-for-bit. Rank mass leaks a few units per
  * division (floor), which is irrelevant for RANKING — the one-line
  * swap to doubles exists if mass conservation ever matters more than
  * reproducibility.
  *
  * Scale shape: per iteration, one equi-join of the edge list against
  * the node-sized rank frame (the edge list and its degrees are
  * materialized once by [[GraphLoop.pin]]; at 100 TB pre-bucket it by
  * src) and one sum shuffle keyed dst. Ranks are
  * a node-sized frame, never driver-side. Dangling nodes contribute
  * nothing (standard simplification; symmetrize the edge list and none
  * exist).
  *
  * Both variants run one loop on [[GraphLoop.rounds]]; only the initial
  * frame and the teleport term differ. The rank frame is materialized
  * every SECOND round. The cadence is measured (sf0.1, min-of-4 warm
  * runs): every round 4.3 s, every 2nd 3.2 s, every 3rd 9.2 s — one
  * lazy round costs less than its checkpoint job, two lazy rounds tip
  * AQE into replanning/re-shuffling the doubled tree (the fully-lazy
  * DAG was 3x slower still). The cadence survives AQE-off on its own
  * (every-3rd re-measured 4.5 s — the r13 cliff was lineage depth, not
  * only AQE replanning). AQE is off in the rounds unless the caller
  * measured otherwise (see [[GraphLoop]]).
  */
object PageRank {

  val One: Long = 1000000000000L // rank fixed-point scale, 10^12

  /** `iters` rounds over a DIRECTED edge frame (src, dst) — pass both
    * directions for an undirected graph. Returns (node, rank) for every
    * node with at least one INCOMING edge (the first groupBy(dst) keeps
    * exactly the rank-receiving nodes; for the symmetrized graphs every
    * caller passes, that is the same set as the out-edge nodes).
    * Initial rank = [[One]];
    * rank'(n) = 0.15·One + 0.85·Σ_{m→n} (rank(m) div deg(m)), all in
    * longs.
    *
    * Bounds (the AbTest discipline): the damped update computes
    * `17 · Σ contrib` before the `div 20`, so a node's aggregate
    * incoming contribution must stay ≤ Long.MaxValue/17 ≈ 5.4·10¹⁷
    * ≈ 542k·[[One]]. Total rank mass is ~n·[[One]], so graphs past
    * ~5·10⁵ nodes whose mass concentrates on one hub can overflow;
    * ANSI mode fails loudly rather than wrapping. At that scale,
    * lower the fixed-point scale (e.g. 10⁹) — the oracle replays
    * whatever scale is chosen. */
  def ranks(edges: DataFrame, iters: Int,
      aqeOff: Boolean = true): DataFrame =
    loop(edges, iters, aqeOff)(
      _.select(col("src").as("node")).distinct()
        .withColumn("rank", lit(One)))(
      _.select(col("node_").as("node"),
        (lit(3 * One / 20) + col("damped")).as("rank")))

  /** PERSONALIZED PageRank (Jeh & Widom 2003): the teleport mass
    * returns to a SEED set instead of every node — the propagate-
    * quality-from-trusted-seeds primitive (TrustRank-style domain
    * scoring, "expand this curated slice" corpus selection). Same
    * exact fixed-point arithmetic as [[ranks]] (longs at 10¹²,
    * `div`-floor contributions, 17·x div 20 damping), so the unrolled
    * oracle hash-matches.
    *
    * The rank frame holds ONLY nodes with nonzero rank — absent means
    * 0 by construction (the contribution join drops them) — so early
    * iterations touch the seed neighborhood, not the graph: PPR's
    * sparsity is a SCALE property here, not an approximation.
    *
    * rank₀ = [[One]] on seeds; rankᵢ(n) = (n ∈ seeds ? 0.15·One : 0)
    * + (17·Σ_{m→n} rankᵢ₋₁(m) div deg(m)) div 20. Nodes neither
    * seeded nor reached stay absent. */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    // seeds are read every iteration (the reset join) — tiny, pin once
    val s = seeds.select(col("node")).distinct().localCheckpoint()
    loop(edges, iters, aqeOff = true)(_ => s.withColumn("rank", lit(One)))(
      _.join(s.withColumn("reset", lit(3 * One / 20)),
          col("node_") === col("node"), "full_outer")
        .select(coalesce(col("node_"), col("node")).as("node"),
          (coalesce(col("damped"), lit(0L)) +
            coalesce(col("reset"), lit(0L))).as("rank")))
  }

  /** The shared iteration: per round, every node's rank is split over
    * its out-edges (`rank div deg`), summed per destination and damped
    * (`(17 · Σ) div 20`) into (node_, damped); `teleport` turns that
    * into the next (node, rank) frame. `init` builds round 0's ranks
    * from the pinned (src, dst, deg) frame. */
  private def loop(edges: DataFrame, iters: Int, aqeOff: Boolean)(
      init: DataFrame => DataFrame)(
      teleport: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1, "at least one iteration")
    // out-degree as a window over the pin's own src exchange — one
    // exchange builds both, where the groupBy+self-join form paid two
    // extra shuffles of the edge list (measured ~0.9 s of g01's sf0.1
    // constant)
    val eDeg = GraphLoop.pin(edges, "src",
      count(lit(1)).over(Window.partitionBy("src")).as("deg"))
    GraphLoop.rounds(init(eDeg), iters, every = 2, aqeOff) { rank =>
      teleport(eDeg.join(rank, eDeg("src") === rank("node"))
        .select(col("dst"), expr("rank div deg").as("contrib"))
        .groupBy(col("dst").as("node_"))
        .agg(expr("(17 * sum(contrib)) div 20").as("damped")))
    }
  }
}
