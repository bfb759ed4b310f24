package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LocalTableScanExec, LogicalRDD,
  QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

class GraphLoopSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val aqe = "spark.sql.adaptive.enabled"

  private def undirected(pairs: (Long, Long)*) =
    pairs.toDF("src", "dst")
      .unionByName(pairs.map(_.swap).toDF("src", "dst"))

  // a ring with chords: every node has out-edges, so every round joins
  private lazy val graph = undirected((1L to 40L).flatMap(i =>
    Seq((i, i % 40 + 1), (i, (i * 7) % 40 + 1))): _*)

  /** The final physical plans of the localCheckpoint actions `body`
    * ran: every round cut by a loop, so every round's join. */
  private def checkpointPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") seen.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once a marker checkpoint is
      // seen, every checkpoint before it is
      spark.range(1).toDF("graphloop_marker").localCheckpoint()
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.output.map(_.name) ==
          Seq("graphloop_marker"))) {
        assert(System.nanoTime < deadline, "listener never saw the marker")
        Thread.sleep(20)
      }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** A scan of a checkpointed edge frame. */
  private def isEdgeScan(p: SparkPlan): Boolean = p match {
    case s: RDDScanExec => Set("src", "dst").subsetOf(s.output.map(_.name).toSet)
    case _ => false
  }

  /** For each read of the pinned edge frame that reaches `p` through no
    * aggregate or join: whether it crosses a shuffle on the way. */
  private def edgeReads(p: SparkPlan, shuffled: Boolean = false): Seq[Boolean] =
    p match {
      case s if isEdgeScan(s) => Seq(shuffled)
      case _: BaseAggregateExec | _: BaseJoinExec => Nil
      case x: ShuffleExchangeExec => edgeReads(x.child, shuffled = true)
      case q: QueryStageExec => edgeReads(q.plan, shuffled)
      case a: AdaptiveSparkPlanExec => edgeReads(a.executedPlan, shuffled)
      case other => other.children.flatMap(edgeReads(_, shuffled))
    }

  /** (join sides that read the edge frame, those that re-shuffle it) in
    * `plans`, looking through AQE query stages. */
  private def edgeSides(plans: Seq[SparkPlan]): (Int, Int) = {
    val reads = plans.flatMap(p => collect(p) { case j: BaseJoinExec => j })
      .flatMap(_.children).map(edgeReads(_)).filter(_.nonEmpty)
    (reads.size, reads.count(_.contains(true)))
  }

  /** `body` with broadcast joins off, so every join is a shuffle join
    * and its sides' partitioning decides what moves. */
  private def noBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Every round of `body` joins the pinned edge frame, and no round
    * re-reads its upstream (the local rows [[graph]] is built from). */
  private def assertRoundsReadThePin(body: => Unit): Unit = {
    val plans = checkpointPlans(body)
    val (sides, _) = edgeSides(plans)
    assert(sides > 0, "no round joined the pinned edge frame")
    val rereads = plans.filter(p => find(p) {
      case s: LocalTableScanExec => s.output.map(_.name) == Seq("src", "dst")
      case _ => false
    }.isDefined)
    // the pin's own checkpoint is the one plan that reads the upstream
    assert(rereads.size === 1, rereads.mkString("\n"))
  }

  /** (edge sides, re-shuffled edge sides) of a join on `dst` between
    * `pinned` and a node frame. */
  private def joinOnDst(pinned: DataFrame): (Int, Int) = noBroadcast {
    val nodes = graph.select($"src".as("n")).distinct()
    val joined = pinned.join(nodes, pinned("dst") === nodes("n"))
    edgeSides(Seq(joined.queryExecution.executedPlan))
  }

  test("pin: one materialized (src, dst) frame") {
    val p = GraphLoop.pin(graph.withColumn("w", lit(1)), "dst")
    assert(p.columns.toSeq === Seq("src", "dst"))
    assert(p.queryExecution.logical.isInstanceOf[LogicalRDD])
  }

  test("pin under AQE: the checkpoint drops the hash layout, so a join " +
    "on the key re-shuffles the edge side; planned without AQE it keeps it") {
    assert(spark.conf.get(aqe) === "true")
    assert(joinOnDst(GraphLoop.pin(graph, "dst")) === (1, 1))
    spark.conf.set(aqe, "false")
    val kept = try GraphLoop.pin(graph, "dst") finally spark.conf.set(aqe, "true")
    assert(joinOnDst(kept) === (1, 0))
  }

  test("every round reads the pin, never its upstream: PageRank") {
    assertRoundsReadThePin(PageRank.ranks(graph, iters = 3).count())
  }

  test("every round reads the pin, never its upstream: label propagation") {
    assertRoundsReadThePin(
      LabelPropagation.propagate(graph, rounds = 2).count())
  }

  test("every round reads the pin, never its upstream: BFS hops") {
    assertRoundsReadThePin(
      Bfs.layers(graph, Seq(1L).toDF("node"), maxHops = 2).count())
  }

  test("rounds: cuts every `every` rounds and after the last") {
    val init = Seq(1L).toDF("x")
    var cuts = Seq.empty[Boolean]
    GraphLoop.rounds(init, n = 5, every = 2, aqeOff = false) { s =>
      cuts :+= s.queryExecution.logical.isInstanceOf[LogicalRDD]
      s.select(($"x" + 1).as("x"))
    }
    // round r sees round r-1's state: cut after rounds 2 and 4
    assert(cuts === Seq(false, false, true, false, true))
    val out = GraphLoop.rounds(init, n = 3, every = 2, aqeOff = false)(
      _.select(($"x" * 2).as("x")))
    assert(out.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(out.as[Long].collect().toSeq === Seq(8L))
  }

  test("rounds: AQE is off inside the rounds and restored when step throws") {
    val before = spark.conf.get(aqe)
    var inside = Option.empty[String]
    val e = intercept[IllegalStateException] {
      GraphLoop.rounds(Seq(1L).toDF("x"), n = 3, every = 1,
          aqeOff = true) { _ =>
        inside = Some(spark.conf.get(aqe))
        throw new IllegalStateException("round failed")
      }
    }
    assert(e.getMessage === "round failed")
    assert(inside === Some("false"))
    assert(spark.conf.get(aqe) === before)
  }

  test("rounds: aqeOff = false leaves the session's AQE setting alone") {
    val before = spark.conf.get(aqe)
    GraphLoop.rounds(Seq(1L).toDF("x"), n = 1, every = 1, aqeOff = false) {
      s => assert(spark.conf.get(aqe) === before); s
    }
    assert(spark.conf.get(aqe) === before)
  }
}
