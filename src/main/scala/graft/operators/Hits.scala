package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg 1999) in EXACT fixed-point
  * arithmetic — the bipartite-centrality complement to [[PageRank]]:
  * over a directed (src, dst) edge frame, a node's AUTHORITY is the
  * summed hub weight pointing at it and a node's HUB weight is the
  * summed authority it points at. On an order→item incidence graph
  * that reads as "authoritative items are the ones well-represented
  * baskets carry; representative baskets are the ones carrying
  * authoritative items" — the catalog-centrality signal next to the
  * co-occurrence recommender (a03).
  *
  * Exactness (the [[PageRank]] discipline): scores are ppm LONGS.
  * Classic HITS L2-normalizes — a sqrt no integer replay survives —
  * so this uses the equally-standard max normalization: after each
  * half-step, `s' = (1e6 · s) div max(s)`, floor division, so the
  * leader sits at exactly 1 000 000 and every operation commutes.
  * Rankings under max- and L2-normalization are identical (both are
  * positive scalings of the same sums).
  *
  * Scale shape, per iteration: two equi-joins of the edge frame
  * against node-sized score frames (edge frame materialized once per
  * join side by [[GraphLoop.pin]]), two sum
  * shuffles, and two 1-row max riders as broadcast cross joins. Scores
  * never touch the driver; lineage is cut per iteration like
  * PageRank's.
  */
object Hits {

  val One: Long = 1000000L // ppm fixed-point scale

  /** `iters` full (authority, hub) rounds over directed edges
    * (src, dst). Returns (side, node, score) where side ∈
    * {'auth', 'hub'}: every dst node carries an authority score, every
    * src node a hub score. Initial hub = [[One]] for every src. */
  def scores(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "at least one iteration")
    // TWO pinned edge frames (PageRank's pinned edge frame, doubled
    // because HITS probes the edge frame from both ends): the
    // authority step equi-joins on src, the hub step on dst (the
    // naive shape measured 11.2 s vs 2.9 s at sf0.1). The dst pin
    // derives from the PINNED src frame — one upstream computation of
    // the edge frame.
    val eSrc = GraphLoop.pin(edges, "src")
    val eDst = GraphLoop.pin(eSrc, "dst")
    def normalized(raw: DataFrame): DataFrame = {
      // materialize the NODE-SIZED sum before the max rider: the rider
      // and the normalize both read `raw`, and un-materialized both
      // reads re-run the edge join it derives from — the doubled join
      // was most of the naive shape's 11.2 s (2.9 s with the
      // checkpoint). This is the documented flip of the q46 lazy-rider
      // trade: sketch-gate riders re-derive ~80-row frames, these
      // re-derive an edge-sized join.
      val r = raw.localCheckpoint()
      val m = r.agg(max(col("s")).as("m"))
      r.crossJoin(broadcast(m))
        .select(col("n"), expr(s"($One * s) div m").as("s"))
    }
    var hub = eSrc.select(col("src").as("n")).distinct()
      .withColumn("s", lit(One))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      auth = normalized(
        eSrc.join(hub, eSrc("src") === hub("n"))
          .groupBy(col("dst").as("n_")).agg(sum(col("s")).as("s"))
          .select(col("n_").as("n"), col("s")))
      hub = normalized(
        eDst.join(auth, eDst("dst") === auth("n"))
          .groupBy(col("src").as("n_")).agg(sum(col("s")).as("s"))
          .select(col("n_").as("n"), col("s")))
      // no extra per-round checkpoint: normalized() already
      // materialized the node-sized sums, and what rides above them is
      // a 1-row broadcast + a projection — lineage stays shallow
    }
    auth.select(lit("auth").as("side"), col("n").as("node"),
        col("s").as("score"))
      .unionByName(hub.select(lit("hub").as("side"), col("n").as("node"),
        col("s").as("score")))
  }
}
