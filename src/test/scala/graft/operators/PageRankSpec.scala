package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Local integer reference: identical fixed-point update. */
  private def local[N](edges: Seq[(N, N)], iters: Int): Map[N, Long] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var rank = deg.keys.map(_ -> PageRank.One).toMap
    for (_ <- 0 until iters) {
      val contrib = rank.map { case (n, r) => n -> r / deg(n) }
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => contrib(e._1)).sum
      }
      rank = in.map { case (n, s) =>
        n -> (3 * PageRank.One / 20 + (17 * s) / 20)
      }
    }
    rank
  }

  private def sym[N](e: Seq[(N, N)]) = e ++ e.map(_.swap)

  test("distributed == local integer reference on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = sym((1 to 120).map(_ =>
      (s"n${rnd.nextInt(20)}", s"m${rnd.nextInt(15)}")).distinct)
    val got = PageRank.ranks(edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === local(edges, 4))
  }

  test("g01's distinct bipartite edges over a multi-edge input: the " +
    "reference's ranks and top 20") {
    // order -> part pairs with repeats (one per line item), tagged as
    // g01 tags them: orders even, parts odd
    val rnd = new scala.util.Random(11)
    val raw = (1 to 400).map(_ =>
      (2L * rnd.nextInt(60), 2L * rnd.nextInt(25) + 1))
    assert(raw.distinct.size < raw.size)
    val fwd = raw.toDF("src", "dst").distinct()
    val edges = fwd.unionByName(fwd.select($"dst".as("src"), $"src".as("dst")))
    val got = PageRank.ranks(edges, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = local(sym(raw.distinct), 5)
    assert(got === want)
    def top20(m: Map[Long, Long]) =
      m.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
    assert(top20(got) === top20(want))
  }

  test("star graph: the hub outranks every leaf; leaves tie exactly") {
    val edges = sym((1 to 8).map(i => (s"leaf$i", "hub")))
    val got = PageRank.ranks(edges.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val leaves = (1 to 8).map(i => got(s"leaf$i"))
    assert(leaves.distinct.size === 1) // exact tie, integer arithmetic
    assert(got("hub") > leaves.head)
  }

  test("personalized: hand-traced path graph, sparse rank frame") {
    // path 1-2-3 symmetrized, seed {1}, 2 rounds:
    //   r1: 1 -> 0.15e12 (reset only), 2 -> 0.85e12
    //   r2: 1 -> 17*(0.85e12 div 2) div 20 + 0.15e12 = 511250000000
    //       2 -> 17*0.15e12 div 20 = 127500000000
    //       3 -> 361250000000
    val edges = sym(Seq(("1", "2"), ("2", "3")))
      .toDF("src", "dst")
    val seeds = Seq("1").toDF("node")
    val got = PageRank.personalizedRanks(edges, seeds, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("1" -> 511250000000L, "2" -> 127500000000L,
      "3" -> 361250000000L))
  }

  test("personalized: unreached components stay ABSENT, not zero rows") {
    val edges = sym(Seq(("1", "2"), ("8", "9"))).toDF("src", "dst")
    val got = PageRank.personalizedRanks(edges, Seq("1").toDF("node"), 3)
      .collect().map(_.getString(0)).toSet
    assert(got === Set("1", "2")) // 8/9 never materialize
  }

  test("symmetric two-cliques rank identically across cliques") {
    def clique(tag: String) = for {
      a <- 1 to 4; b <- 1 to 4 if a != b
    } yield (s"$tag$a", s"$tag$b")
    val got = PageRank.ranks(
      (clique("x") ++ clique("y")).toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (1 to 4).foreach(i => assert(got(s"x$i") === got(s"y$i")))
  }
}
