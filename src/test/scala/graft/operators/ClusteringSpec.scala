package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Seq(1.0f, 0.0f)),
    (2L, Seq(0.9f, 0.1f)),
    (3L, Seq(0.0f, 1.0f)),
    (4L, Seq(0.1f, 0.9f))).toDF("vec_id", "embedding")

  test("fit separates the two obvious groups; labels cover 0..k-1 seeds") {
    val cents = Clustering.fit(vecs, "vec_id", "embedding", k = 2, iters = 3)
    assert(cents.size === 2)
    val byId = Clustering.assign(vecs, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byId(1L) === byId(2L))
    assert(byId(3L) === byId(4L))
    assert(byId(1L) !== byId(3L))
  }

  test("assign: exact cosine, argmax ties break to the lowest cluster") {
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(1.0f, 0.0f))
    val got = Clustering.assign(vecs, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      .sortBy(_._1)
    // vec 1 ties exactly between clusters 0 and 2 -> picks 0
    assert(got.head === ((1L, 0, 1.0)))
    val c2 = got.find(_._1 == 2L).get
    assert(c2._2 === 0)
    val (x, y) = (0.9f.toDouble, 0.1f.toDouble) // float-rounded inputs
    assert(math.abs(c2._3 - x / math.sqrt(x * x + y * y)) < 1e-12)
    assert(got.find(_._1 == 3L).get._2 === 1)
  }

  test("fit: empty cluster keeps its previous centroid") {
    // both far-seed centroids collapse onto the data; the third seed
    // (from a vector identical to another) may strand — k > distinct
    // directions still returns k centroids
    val cents = Clustering.fit(vecs, "vec_id", "embedding", k = 4, iters = 2)
    assert(cents.size === 4)
    assert(cents.forall(_.size === 2))
  }

  test("fit is bit-deterministic across repeated runs (decimal sums)") {
    val a = Clustering.fit(vecs, "vec_id", "embedding", 2, 3)
    val b = Clustering.fit(vecs, "vec_id", "embedding", 2, 3)
    assert(a === b)
  }

  test("semanticDedupPairs: within-cluster near-dups only") {
    val cents = Clustering.fit(vecs, "vec_id", "embedding", 2, 3)
    val pairs = Clustering
      .semanticDedupPairs(vecs, "vec_id", "embedding", cents, 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cos(1,2) = cos(3,4) = 0.9/sqrt(0.82) ~ 0.9939; cross-group pairs
    // sit near 0.1 and must never be enumerated, let alone emitted
    assert(pairs === Set((1L, 2L), (3L, 4L)))
    val none = Clustering
      .semanticDedupPairs(vecs, "vec_id", "embedding", cents, 0.999)
    assert(none.count() === 0)
  }

  // 40 vectors in two tight direction bundles (20 each) + tiny angular
  // jitter: one flat k=2 pass would leave 20-row clusters, so a cap of
  // 8 forces at least one recursive split per bundle
  private def bundled = {
    val rows = for {
      b <- 0 until 2
      i <- 0 until 20
    } yield {
      val theta = b * math.Pi / 2 + (i - 10) * 0.002
      (b * 100L + i,
        Seq(math.cos(theta).toFloat, math.sin(theta).toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("capAssign: every leaf respects the size cap when splittable") {
    val leaves = Clustering
      .capAssign(bundled, "vec_id", "embedding", maxClusterSize = 8,
        k = 2, iters = 2)
      .groupBy("cluster").count().collect()
    assert(leaves.forall(_.getLong(1) <= 8),
      leaves.map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(","))
    assert(leaves.map(_.getLong(1)).sum === 40)
  }

  test("capAssign is deterministic across invocations (gate vs aux)") {
    val a = Clustering.capAssign(bundled, "vec_id", "embedding", 8, 2, 2)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val b = Clustering.capAssign(bundled, "vec_id", "embedding", 8, 2, 2)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(a === b)
  }

  test("capAssign: identical-vector glut stops at maxLevels, unsplit") {
    val dupes = (0 until 12).map(i => (i.toLong, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.capAssign(dupes, "vec_id", "embedding",
      maxClusterSize = 4, k = 2, iters = 1, maxLevels = 3)
      .select("cluster").collect().map(_.getString(0))
    // unsplittable: all 12 share one leaf; recursion bounded by levels
    assert(out.distinct.length === 1)
    assert(out.head.count(_ == '.') <= 3)
  }

  test("semanticDedupPairsCapped keeps near-dup pairs co-clustered") {
    // planted near-dups: each base vector + an exact twin under a new
    // id — bit-identical vectors get bit-identical cosines to every
    // centroid at every level, so co-clustering is guaranteed, not
    // knife-edge (a scaled twin could tie-flip on a deep split)
    val base = bundled
    val twins = base.select((col("vec_id") + 1000L).as("vec_id"),
      col("embedding"))
    val corpus = base.unionByName(twins)
    val pairs = Clustering.semanticDedupPairsCapped(corpus, "vec_id",
      "embedding", threshold = 0.9999, maxClusterSize = 8, k = 2,
      iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted (v, v+1000) twin pair must survive the splits —
    // scaled copies are cosine-1.0 with their base
    val planted = (0 until 2).flatMap(b => (0 until 20)
      .map(i => (b * 100L + i, b * 100L + i + 1000L))).toSet
    assert(planted.subsetOf(pairs),
      s"missing: ${(planted -- pairs).take(5)}")
  }

  test("capAssign is deterministic under duplicate ids (vector tie-break)") {
    // two distinct vectors sharing id 7 — md5(id) alone would tie and
    // make the seed pick (hence the split path) run-dependent; the
    // vector-string secondary key restores a total seed order
    val dup = Seq(
      (7L, Seq(1.0f, 0.0f)), (7L, Seq(0.0f, 1.0f)),
      (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.8f, 0.2f)),
      (3L, Seq(0.1f, 0.9f)), (4L, Seq(0.2f, 0.8f)),
      (5L, Seq(0.7f, 0.3f)), (6L, Seq(0.3f, 0.7f)))
      .toDF("vec_id", "embedding")
    def run() = Clustering.capAssign(dup, "vec_id", "embedding",
        maxClusterSize = 4, k = 2, iters = 2)
      .select(col("id"), col("v").cast("string").as("vs"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(run() === run())
  }

  test("assignment plan stays codegen (native cosine, no shuffle)") {
    // parquet-backed input: a purely-local relation would be constant-
    // folded away and show nothing of the real scan-side plan
    val dirF = tempDir("clus").toFile
    dirF.deleteOnExit()
    val path = s"${dirF.getAbsolutePath}/emb"
    vecs.write.mode("overwrite").parquet(path)
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))
    val p = Clustering
      .assign(spark.read.parquet(path), "vec_id", "embedding", cents)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("cosine_sim"), p)
    assert(!p.contains("Exchange"), p)
  }
}
