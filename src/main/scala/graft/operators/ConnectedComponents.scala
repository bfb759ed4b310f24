package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Distributed connected components over an edge list — the collapse
  * step of near-duplicate detection (a~b, b~c must yield ONE kept doc
  * even when a~c was never emitted as a pair).
  *
  * Algorithm: min-label propagation with pointer jumping. Each node
  * starts labeled with itself; each round takes the min of its own and
  * its neighbors' labels, then jumps through the label's label
  * (comp := comp(comp)). The jump is what turns O(diameter) rounds into
  * O(log diameter) — a 1M-long chain converges in ~20 rounds, not 1M.
  * Labels are monotonically non-increasing, so the fixpoint is exact:
  * every node ends labeled with the smallest id in its component.
  *
  * Scale shape: each round is two shuffled joins + an aggregation, all
  * keyed equi-joins (no cross products); `localCheckpoint` cuts the
  * lineage so plan size stays constant across rounds. Edges are
  * symmetrized once and materialized ([[GraphLoop.pin]]). This is the
  * DataFrame-native analogue of the large-star/small-star MapReduce
  * formulation (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14).
  */
object ConnectedComponents {

  /** Label every node appearing in `edges` with its component's
    * smallest id. Returns (id, comp). Ids may be any orderable type;
    * self-loops are ignored.
    *
    * Hybrid execution (the shape GraphFrames and the SoCC'14 paper both
    * land on): a near-dup pair graph is orders of magnitude smaller
    * than its corpus — candidates survive banding + verification — so
    * when the edge list is at most `localThreshold` rows it is
    * union-found in ONE executor task (no driver collect; the rows
    * never leave the cluster) and only the min-per-group resolution
    * runs as SQL. Graphs above the threshold take the O(log diameter)
    * pointer-jumping loop. `localThreshold = 0` forces the distributed
    * path (specs assert both paths agree). */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30, localThreshold: Long = 5_000_000L): DataFrame = {
    // persisted: the edge list feeds the size probe AND whichever path
    // runs — without it an expensive upstream (an LSH candidate join)
    // would be recomputed per consumer
    val pairs = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
      .persist()
    val aT = pairs.schema("a").dataType
    if (localThreshold > 0 && aT == pairs.schema("b").dataType &&
        pairs.limit(localThreshold.min(Int.MaxValue - 1L).toInt + 1)
          .count() <= localThreshold) {
      val out = localComponents(pairs) // eager: checkpoints before returning
      pairs.unpersist()
      return out
    }
    val sym = GraphLoop.pin(pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .select(col("a").as("src"), col("b").as("dst")), "dst")

    var comp = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // min over neighbor labels
      val nbrMin = sym.join(comp.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src").agg(min("comp").as("ncomp"))
        .withColumnRenamed("src", "id")
      val lowered = comp.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jump: follow the label's own label. The previous label
      // rides along as `old`, so convergence detection below is a plain
      // aggregation over this frame — no extra join against the prior
      // iteration's labels.
      val byId = lowered.select(col("id").as("jid"), col("comp").as("jcomp"))
      val jumped = lowered
        .join(byId, lowered("comp") === byId("jid"), "left")
        .select(lowered("id"), lowered("old"),
          least(lowered("comp"), coalesce(col("jcomp"), lowered("comp")))
            .as("comp"))
        .localCheckpoint(true)
      changed = jumped.filter(col("comp") =!= col("old")).count()
      comp = jumped.drop("old")
      iter += 1
    }
    pairs.unpersist()
    comp
  }

  /** Single-task union-find for edge lists under the size threshold.
    * The grouping runs in ONE executor task via RDD coalesce — a
    * bounded, size-checked local finish, the same resource contract as
    * a broadcast side — and the min-label resolution stays in SQL so
    * the id ordering is Spark's own (any atomic id type, no custom
    * comparator). Path compression makes the scan effectively linear. */
  private def localComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("a").dataType
    val grouped = pairs.rdd.coalesce(1).mapPartitions { it =>
      val idx = mutable.HashMap.empty[Any, Int]
      val parent = mutable.ArrayBuffer.empty[Int]
      def node(v: Any): Int =
        idx.getOrElseUpdate(v, { parent += parent.length; parent.length - 1 })
      def find(i: Int): Int = {
        var r = i
        while (parent(r) != r) r = parent(r)
        var c = i
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { row =>
        val (i, j) = (node(row.get(0)), node(row.get(1)))
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(ri) = rj
      }
      idx.iterator.map { case (v, i) => Row(v, find(i)) }
    }
    // localCheckpoint: the frame feeds both join sides — materialize the
    // union-find once instead of re-running it for the broadcast build
    val byNode = spark.createDataFrame(grouped,
      StructType(Seq(StructField("id", idType, nullable = false),
        StructField("grp", IntegerType, nullable = false))))
      .localCheckpoint(true)
    byNode.join(broadcast(byNode.groupBy("grp").agg(min("id").as("comp"))), "grp")
      .select(col("id"), col("comp"))
  }

  /** Dedup collapse: ids to DROP so exactly one representative (the
    * smallest id) survives per near-dup component. Strictly stronger
    * than the greedy drop-higher-of-each-pair rule, which can keep two
    * docs of one component when the pair linking them was pruned (e.g.
    * pairs (2,3),(1,3) without (1,2): greedy keeps 1 AND 2). */
  def nonRepresentatives(pairs: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    components(pairs, srcCol, dstCol)
      .filter(col("id") =!= col("comp"))
      .select(col("id"))
}
