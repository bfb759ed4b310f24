package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** The loop kernel under the iterative graph operators ([[PageRank]],
  * [[LabelPropagation]], [[KCore]], [[Bfs]], [[Hits]]): the one place
  * that pins an edge frame, runs fixed rounds, cuts lineage and flips
  * AQE. Iterative algorithms run on a pinned in-memory input plus cut
  * lineage (the Shark shape); each operator only says what one round
  * computes. ([[ConnectedComponents]]' convergence loop and [[Bfs]]'
  * frontier loop stop on the data, so they pin here but keep their own
  * loops.)
  *
  * AQE inside the rounds is the CALLER's measured choice, never a
  * default, because the two directions were both measured:
  *  - r14 A/B (sf0.1, min-of-4, stable warm neighbor in-group):
  *    PageRank's damped-contribution loop 3.99 → 2.86 s (g01) with AQE
  *    off — its rounds are fixed-shape, so AQE's per-stage
  *    materialize/replan is pure constant × rounds;
  *  - the peel/frontier/normalize loops LOST with AQE off: g04 k-core
  *    1.51 → 3.30 s, g03 BFS 1.46 → 2.09 s, g05 LPA 2.63 → 3.30 s, g07
  *    HITS 3.10 → 4.07 s (d09 a wash). Their per-round frames are
  *    node-sized shuffles over the static partitions — AQE's
  *    small-partition coalescing keeps their task counts proportionate;
  *  - r15 measured PageRank on its two call sites (matched (t20, t21)
  *    group, min-of-4, sf0.1): g01's long-keyed order graph wins with
  *    AQE off (6.40 → 4.24 s in-sweep), t21's string-keyed word graph
  *    LOSES with it off (1.31 s on vs 1.84 s off isolated). The
  *    decision is a property of the graph, so each caller passes what
  *    its graph measured.
  */
object GraphLoop {

  private val AqeKey = "spark.sql.adaptive.enabled"

  /** `edges`' (src, dst) hash-partitioned on `key` and materialized
    * (localCheckpoint) in one job, so every round reads it from memory
    * and never re-runs its upstream. `extra` columns are computed after
    * the exchange, so a window partitioned by `key` (PageRank's
    * out-degree) reuses it and rides the same job.
    *
    * Under AQE the checkpoint does not expose the hash layout (a
    * checkpoint planned with AQE on reports no partitioning; a cache
    * keeps it only when AQE left the cached shuffle uncoalesced), so a
    * round's join on `key` still shuffles the edge side;
    * `GraphLoopSpec` pins both facts. Keeping the layout needs the pin
    * planned with AQE off, which fixes every joined stage at
    * `spark.sql.shuffle.partitions` with no coalescing: measured at
    * sf0.1 (local[32], 4 cores, paired Bench A/B, min of 3) that was
    * slower, g01 4.08 → 5.61 s, g03 1.08 → 1.58 s, g04 1.25 → 1.60 s. */
  def pin(edges: DataFrame, key: String, extra: Column*): DataFrame =
    edges.select(col("src"), col("dst"))
      .repartition(col(key))
      .select(col("src") +: col("dst") +: extra: _*)
      .localCheckpoint()

  /** `n` rounds of `step` from `init`. Lineage is cut
    * (localCheckpoint) every `every` rounds and after the last, so the
    * result is a lineage-free frame. With `aqeOff`, adaptive execution
    * is off for the rounds and the session's setting is restored
    * afterwards, exceptions included. */
  def rounds(init: DataFrame, n: Int, every: Int, aqeOff: Boolean)(
      step: DataFrame => DataFrame): DataFrame = {
    require(n >= 1 && every >= 1, "n and every must be >= 1")
    def run(): DataFrame = {
      var state = init
      for (i <- 1 to n) {
        state = step(state)
        if (i % every == 0 || i == n) state = state.localCheckpoint()
      }
      state
    }
    if (!aqeOff) run()
    else {
      val conf = init.sparkSession.conf
      val before = conf.getOption(AqeKey)
      conf.set(AqeKey, "false")
      try run() finally before match {
        case Some(v) => conf.set(AqeKey, v)
        case None => conf.unset(AqeKey)
      }
    }
  }
}
