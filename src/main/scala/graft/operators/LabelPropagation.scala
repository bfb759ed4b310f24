package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
  * the near-linear community detector: every node starts labeled with
  * its own id; each round every node adopts the label most frequent
  * among its neighbors, ties broken toward the SMALLEST label so the
  * update is a pure deterministic function of the previous round
  * (classic LPA breaks ties randomly; determinism is what makes the
  * result hash-gateable and reproducible across engines).
  *
  * Like [[KCore]], this runs a FIXED number of rounds as part of the
  * operator contract, so the DuckDB oracle replays the identical
  * computation as an unrolled CTE chain (the PageRank discipline —
  * data-dependent convergence loops can't hash-gate). LPA on real
  * graphs settles most labels within a handful of rounds; the spec
  * demonstrates the fixed-round/fixpoint relationship on the gate
  * graph.
  *
  * Scale shape per round: one equi-join of the edge frame against the
  * node-sized label frame on src, one (dst, label) count aggregate,
  * and one per-node argmax — a hash-agg max_by over the (count,
  * -label) key, partially aggregated map-side, never a global sort.
  * The edge frame is materialized once ([[GraphLoop.pin]]); per-round
  * state is node-sized. Nothing driver-side.
  */
object LabelPropagation {

  /** Community label per node after `rounds` synchronous updates:
    * (node, label). `edges` is DIRECTED (src, dst) — pass both
    * directions for an undirected graph; a node's neighbors are the
    * dst rows it appears in as src's partner. */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = GraphLoop.pin(edges, "src")
    val init = e.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    // PageRank's cadence, re-A/B'd here (g05, sf0.1, min-of-4 warm):
    // every round 2.03 s vs every 2nd 2.02 s — a measured TIE at the
    // gate's round count (the checkpoint job and one lazy re-derive
    // cost about the same on a node-sized frame). Kept at every-2nd
    // for family consistency with PageRank.
    GraphLoop.rounds(init, rounds, every = 2, aqeOff = false) { labels =>
      val counted = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // per-node argmax as a hash-agg min_by over the lexicographic
      // (-count, label) key — count desc then label asc, the same
      // total order the row_number window gave, without the window's
      // per-node sort pass (one hash aggregate instead of sort+filter;
      // (c, lbl) is unique per node so the key is a total order).
      // Only the count (always a long) is negated, so the tie-break
      // stays type-generic: string labels order lexically, and no
      // label value is ever negated (no Long.MinValue overflow).
      counted.groupBy("node")
        .agg(min_by(col("lbl"), struct(-col("c"), col("lbl"))).as("lbl"))
    }
  }

  /** Community rollup of [[propagate]]: (community, size, min_node,
    * max_node), the summary a corpus-curation report wants (label
    * clusters = boilerplate/link-farm candidates). */
  def communities(edges: DataFrame, rounds: Int): DataFrame =
    propagate(edges, rounds)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("size"),
        min(col("node")).as("min_node"),
        max(col("node")).as("max_node"))
}
