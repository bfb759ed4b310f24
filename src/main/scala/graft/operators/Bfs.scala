package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Level-synchronous multi-source BFS — shortest hop distance from a
  * seed set over an unweighted graph (the "how far is every product
  * from the promoted set" / "crawl-frontier depth" question; the
  * standard Pregel-class frontier expansion, e.g. Malewicz et al.
  * 2010).
  *
  * Per round: one equi-join of the current frontier against the
  * src-partitioned edge list, one distinct, one anti-join against the
  * visited set — all hash-partitioned on node keys, no global
  * ordering anywhere. The edge list is materialized ONCE
  * ([[GraphLoop.pin]]), so no round re-runs its upstream (at 100 TB,
  * pre-bucket it by src so the per-round shuffle is frontier-sized
  * only). Frontier and visited frames are node-sized; lineage is
  * cut per round (localCheckpoint), the same discipline as
  * [[ConnectedComponents]] / [[PageRank]]. Rounds are bounded by
  * `maxHops`, with early exit on an empty frontier (the isEmpty probe
  * rides the already-materialized checkpoint — no recompute).
  *
  * Determinism: hop(n) = length of the shortest seed→n path is a pure
  * graph property — no tie-breaks exist to diverge on, so the
  * (node, hop) table replays bit-for-bit in any engine (the DuckDB
  * oracle uses a recursive CTE + min(hop)).
  */
object Bfs {

  /** (node, hop) for every node within `maxHops` of `seeds` —
    * seeds themselves at hop 0. `edges` is DIRECTED (src, dst); pass
    * both directions for an undirected graph. */
  def layers(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = GraphLoop.pin(edges, "src")
    var visited = seeds.select(col("node")).distinct()
      .withColumn("hop", lit(0))
      .localCheckpoint()
    var frontier = visited.select("node")
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint()
      // visited stays a LAZY union of already-checkpointed layers: each
      // piece is materialized, so the per-round anti-join just rescans
      // node-sized RDDs — checkpointing the union too paid one extra
      // job per round for nothing (measured ~15% of g03 at sf0.1)
      visited = visited
        .unionByName(frontier.withColumn("hop", lit(hop)))
    }
    visited
  }
}
