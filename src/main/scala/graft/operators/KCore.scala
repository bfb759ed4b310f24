package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling (Seidman 1983; distributed formulation per Montresor,
  * De Pellegrini & Miorandi 2013): repeatedly drop nodes of degree < k
  * until every survivor has ≥ k neighbors inside the survivor set — the
  * standard "dense cohesive cluster" filter (link-farm / boilerplate
  * cluster detection in web corpora; high-affinity product groups in
  * the sales domain).
  *
  * This runs a FIXED number of peel rounds rather than
  * peel-to-fixpoint: the round count is part of the operator contract,
  * which is what lets the DuckDB oracle replay the exact same
  * computation as an unrolled CTE chain (the PageRank/TextRank
  * discipline — data-dependent iteration counts can't hash-gate).
  * Rounds needed to converge is bounded by the peel depth, which is
  * small for real graphs; the spec demonstrates convergence on the
  * gate graph by checking the fixpoint property after `rounds`.
  *
  * Scale shape per round: one degree aggregate keyed src + one
  * semi-join of the edge frame against the survivor set on EACH
  * endpoint — all hash-partitioned equi-joins on node keys. The edge
  * frame is materialized once ([[GraphLoop.pin]]) and its lineage is
  * cut every round ([[GraphLoop.rounds]]); the survivor frame is
  * node-sized. Nothing global, nothing driver-side.
  */
object KCore {

  /** Nodes of the (≥k)-core after `rounds` peels, with their final
    * within-core degree: (node, deg). `edges` is DIRECTED (src, dst) —
    * pass both directions for an undirected graph (degree = out-degree
    * of the symmetrized frame). */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    def deg(e: DataFrame) = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val peeled = GraphLoop.rounds(GraphLoop.pin(edges, "src"), rounds,
        every = 1, aqeOff = false) { e =>
      // keep is node-sized and referenced by BOTH endpoint semi-joins;
      // left lazy, each reference re-runs the full edge-frame degree
      // aggregate (measured: the r6 shape spent ~2/3 of g04's sf1x
      // wall on those re-aggregations — 57 s → ~20 s with the pin)
      val keep = deg(e).filter(col("deg") >= k).select("node")
        .localCheckpoint()
      e.join(keep.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
    }
    deg(peeled).filter(col("deg") >= k)
  }
}
