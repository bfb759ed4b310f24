package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

class SimilaritySearchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables(spark, dir, "embeddings")

  private lazy val queryVec: Seq[Float] = emb.filter(col("vec_id") === 1)
    .select("embedding").collect().head.getSeq[Float](0)

  test("brute-force top-k: query vector ranks itself first with score 1") {
    val top = SimilaritySearch.bruteForceTopK(
      emb, "vec_id", "embedding",
      array(queryVec.map(lit): _*), k = 10).collect()
    assert(top.length === 10)
    assert(top.head.getLong(0) === 1L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted.reverse, "scores must be descending")
  }

  test("ANN (IVF/LSH) top-k achieves >=60% recall@10 vs brute force") {
    val brute = SimilaritySearch.bruteForceTopK(
      emb, "vec_id", "embedding",
      array(queryVec.map(lit): _*), k = 10)
      .collect().map(_.getLong(0)).toSet
    val index = SimilaritySearch.ivfIndex(emb, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 8)
    val ann = SimilaritySearch.annTopK(index, queryVec, dim = 64, k = 10,
      planes = 4, tables = 8)
      .collect().map(_.getLong(0)).toSet
    assert(ann.contains(1L), "ANN must find the query vector itself")
    val recall = brute.intersect(ann).size / 10.0
    assert(recall >= 0.6, s"recall@10 was $recall")
  }

  test("scan-side ANN == index-path ANN, row for row") {
    // the one-job probe must be a pure re-expression: same driver-side
    // signature (bit-identical plane arithmetic), same candidates,
    // same exact-cosine rerank and ordering
    val index = SimilaritySearch.ivfIndex(emb, "vec_id", "embedding",
      dim = 64, planes = 4, tables = 8)
    val viaIndex = SimilaritySearch.annTopK(index, queryVec, dim = 64,
      k = 10, planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaScan = SimilaritySearch.annTopKScan(emb, "vec_id", "embedding",
      queryVec, dim = 64, k = 10, planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaScan === viaIndex)
  }

  test("IVF-PQ with a full-width shortlist degenerates to scan-ANN " +
    "(the rerank tier is exact, so PQ error cannot leak into the result)") {
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 2)
    val full = SimilaritySearch.ivfPqTopK(emb, "vec_id", "embedding",
      cb, queryVec, dim = 64, k = 10, rerank = 100000,
      planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val scan = SimilaritySearch.annTopKScan(emb, "vec_id", "embedding",
      queryVec, dim = 64, k = 10, planes = 4, tables = 8)
      .collect()
      .map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    assert(full === scan)
  }

  test("IVF-PQ with a tight shortlist: k rows, all from the candidate " +
    "set, query vector found") {
    val cb = ProductQuantization.train(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, iters = 2)
    val out = SimilaritySearch.ivfPqTopK(emb, "vec_id", "embedding",
      cb, queryVec, dim = 64, k = 5, rerank = 25,
      planes = 4, tables = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(out.length === 5)
    val cand = SimilaritySearch.lshCandidates(emb, "embedding", queryVec,
      dim = 64, planes = 4, tables = 8, seed = 42L)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.toSet.subsetOf(cand))
    // PQ at m=8/ksub=16 ranks the exact-match query vector into any
    // sane 25-wide shortlist; the exact rerank then scores it 1.0
    assert(out.head === 1L)
  }

  test("driver-side signature == scan-side buckets for the query row") {
    val scanSide = VectorOps.hyperplaneSignatures(
      emb.filter(col("vec_id") === 1), "vec_id", "embedding",
      dim = 64, planes = 12, tables = 6, seed = 42L)
      .orderBy("table").collect().map(_.getLong(2)).toSeq
    val driverSide = VectorOps.signatureOf(queryVec, dim = 64,
      planes = 12, tables = 6, seed = 42L).toSeq
    assert(driverSide === scanSide)
  }

  test("native hyperplane buckets == HOF reference form, bit-identical") {
    val native = VectorOps.hyperplaneSignatures(
      emb, "vec_id", "embedding", dim = 64, planes = 12, tables = 6, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val hof = VectorOps.hyperplaneSignaturesHof(
      emb, "vec_id", "embedding", dim = 64, planes = 12, tables = 6, seed = 42L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(native === hof)
    assert(native.size === emb.count() * 6)
  }

  test("hyperplane buckets == HOF form on degenerate vectors " +
    "(null element, short, long): all-zero signature") {
    import spark.implicits._
    val weird = Seq(
      (1L, Seq[java.lang.Float](1f, null, 3f) ++
        Seq.fill[java.lang.Float](61)(0.5f)), // null element, len 64
      (2L, Seq.fill[java.lang.Float](10)(1f)), // too short
      (3L, Seq.fill[java.lang.Float](70)(1f)), // too long
      (4L, Seq.fill[java.lang.Float](64)(0.25f))) // complete
      .toDF("vec_id", "embedding")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<FLOAT>) AS embedding")
    def sig(f: (org.apache.spark.sql.DataFrame, String, String, Int, Int,
        Int, Long) => org.apache.spark.sql.DataFrame) =
      f(weird, "vec_id", "embedding", 64, 12, 6, 42L)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val native = sig(VectorOps.hyperplaneSignatures)
    val hof = sig(VectorOps.hyperplaneSignaturesHof)
    assert(native === hof)
    // the three degenerates land in bucket 0 of every table
    for (id <- Seq(1L, 2L, 3L); t <- 0 until 6)
      assert(native.contains((id, t, 0L)))
    assert((0 until 6).exists(t => !native.contains((4L, t, 0L))))
  }

  test("persisted IVF index: probes are partition-pruned reads with " +
    "identical results to the in-memory path") {
    val path = tempDir("ivf_idx").toString
    SimilaritySearch.writeIndex(emb, "vec_id", "embedding", path,
      dim = 64, planes = 6, tables = 4)
    val persisted = SimilaritySearch.annTopKPersisted(spark, path, queryVec,
      dim = 64, k = 10, planes = 6, tables = 4)
    val persistedIds = persisted.collect().map(_.getLong(0)).toSeq
    // partition pruning is visible in the scan: only the query's
    // (table, bucket) dirs survive the file-index listing. The scan sits
    // under the (now-final) adaptive plan.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case q: QueryStageExec => findScan(q.plan) // stages are leaf wrappers
      case other => other.children.view.flatMap(findScan(_)).headOption
    }
    val scan = findScan(persisted.queryExecution.executedPlan).get
    val probed = scan.selectedPartitions.partitionCount
    val totalParts = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("table="))
      .flatMap(_.listFiles()).count(_.getName.startsWith("bucket="))
    assert(probed <= 4, s"probe read $probed partitions (want <= tables)")
    assert(probed < totalParts,
      s"no pruning: read $probed of $totalParts partitions")
    // and the result equals the in-memory index path
    val inMem = SimilaritySearch.annTopK(
      SimilaritySearch.ivfIndex(emb, "vec_id", "embedding",
        dim = 64, planes = 6, tables = 4),
      queryVec, dim = 64, k = 10, planes = 6, tables = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(persistedIds === inMem)
  }

  test("appendIndex: append-then-probe == full rebuild; refuses param " +
    "drift and non-index paths") {
    val appPath = tempDir("ivf_app").toString
    val fullPath = tempDir("ivf_full").toString
    val batchA = emb.filter(col("vec_id") % 3 =!= 0)
    val batchB = emb.filter(col("vec_id") % 3 === 0)
    SimilaritySearch.writeIndex(batchA, "vec_id", "embedding", appPath,
      dim = 64, planes = 6, tables = 4)
    SimilaritySearch.appendIndex(batchB, "vec_id", "embedding", appPath,
      dim = 64, planes = 6, tables = 4)
    SimilaritySearch.writeIndex(emb, "vec_id", "embedding", fullPath,
      dim = 64, planes = 6, tables = 4)
    def probe(path: String) =
      SimilaritySearch.annTopKPersisted(spark, path, queryVec,
        dim = 64, k = 10, planes = 6, tables = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe(appPath) === probe(fullPath))
    // drifted params re-bucket the batch into partitions the probe's
    // query signature never visits — must refuse, not lose recall
    val e1 = intercept[IllegalArgumentException] {
      SimilaritySearch.appendIndex(batchB, "vec_id", "embedding", appPath,
        dim = 64, planes = 5, tables = 4)
    }
    assert(e1.getMessage.contains("params"))
    // appending to a path that was never writeIndex-built would create
    // a sidecar-less (checkless) index — must refuse
    val bare = tempDir("not_idx").toString
    val e2 = intercept[IllegalArgumentException] {
      SimilaritySearch.appendIndex(batchB, "vec_id", "embedding", bare,
        dim = 64, planes = 6, tables = 4)
    }
    assert(e2.getMessage.contains("sidecar"))
  }

  test("compactIndex: probe results identical, per-dir files collapse " +
    "to one, sidecar survives, appending afterwards still works") {
    val path = tempDir("ivf_cpt").toString
    val batches = (0 to 2).map(r => emb.filter(col("vec_id") % 3 === r))
    SimilaritySearch.writeIndex(batches(0), "vec_id", "embedding", path,
      dim = 64, planes = 6, tables = 4)
    batches.drop(1).foreach(b => SimilaritySearch.appendIndex(
      b, "vec_id", "embedding", path, dim = 64, planes = 6, tables = 4))
    def probe() = SimilaritySearch.annTopKPersisted(spark, path, queryVec,
      dim = 64, k = 10, planes = 6, tables = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def bucketDirs() = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("table=")).flatMap(_.listFiles())
      .filter(_.getName.startsWith("bucket="))
    val before = probe()
    // the append history shows: some (table, bucket) dir holds >1 file
    assert(bucketDirs().exists(
      _.listFiles().count(_.getName.endsWith(".parquet")) > 1))
    SimilaritySearch.compactIndex(spark, path)
    // one file per partition dir, everywhere
    val counts = bucketDirs()
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(counts.nonEmpty && counts.forall(_ === 1), counts.toSeq)
    // rows moved between files, never between buckets
    assert(probe() === before)
    // sidecar carried across the swap; params still enforced
    assert(new java.io.File(path, "_ivf_params").exists())
    SimilaritySearch.appendIndex(batches(1), "vec_id", "embedding", path,
      dim = 64, planes = 6, tables = 4) // would throw if sidecar drifted
    // a non-index dir refuses
    val bare = tempDir("not_idx2").toString
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.compactIndex(spark, bare)
    }
    assert(e.getMessage.contains("sidecar"))
  }

  test("ANN probes a strict subset of the table (it is actually pruning)") {
    val index = SimilaritySearch.ivfIndex(emb, "vec_id", "embedding",
      dim = 64, planes = 6, tables = 1)
    val qdf = {
      import spark.implicits._
      Seq(Tuple1(queryVec)).toDF("qv").withColumn("id", lit(0L))
    }
    val qBuckets = VectorOps.hyperplaneSignatures(
      qdf, "id", "qv", dim = 64, planes = 6, tables = 1, seed = 42L)
      .select("table", "bucket")
    val probed = index.join(broadcast(qBuckets), Seq("table", "bucket"), "left_semi")
      .select("id").distinct().count()
    val total = emb.count()
    assert(probed < total, s"probed $probed of $total — no pruning happened")
  }

  test("quantizeInt8: bounded roundtrip error, zero-vector guard, " +
    "cosine preserved") {
    import spark.implicits._
    val rows = emb.limit(50)
      .select(col("vec_id"), col("embedding"),
        VectorOps.quantizeInt8(col("embedding")).as("z"))
      .select(col("vec_id"), col("embedding"),
        col("z.scale").as("scale"), col("z.q").as("q"))
      .collect()
    rows.foreach { r =>
      val x = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      val q = r.getSeq[Byte](3)
      assert(q.length === x.length)
      assert(q.forall(v => v >= -127 && v <= 127))
      // dequantization error per element is at most half a quant step
      x.zip(q).foreach { case (xi, qi) =>
        assert(math.abs(xi.toDouble - qi / scale) <= 0.5 / scale + 1e-12,
          s"vec ${r.getLong(0)}: $xi vs ${qi / scale}")
      }
    }
    // zero vector: scale falls back to 1.0, all-zero codes
    val z = Seq((1L, Array.fill(4)(0f))).toDF("vec_id", "embedding")
      .select(VectorOps.quantizeInt8(col("embedding")).as("z"))
      .select(col("z.scale"), col("z.q")).collect().head
    assert(z.getDouble(0) === 1.0)
    assert(z.getSeq[Byte](1).forall(_ === 0))
    // empty vector: same 1.0 guard (array_max is NULL there), empty codes
    val e0 = Seq((1L, Array.empty[Float])).toDF("vec_id", "embedding")
      .select(VectorOps.quantizeInt8(col("embedding")).as("z"))
      .select(col("z.scale"), col("z.q")).collect().head
    assert(e0.getDouble(0) === 1.0)
    assert(e0.getSeq[Byte](1).isEmpty)
    // one NaN component must NOT poison the scale (array_max ranks NaN
    // above everything → scale would be NaN and zero the whole vector):
    // valid components keep their scale, the NaN slot quantizes to 0
    val nan = Seq((1L, Array(Float.NaN, 1.0f, -0.5f)))
      .toDF("vec_id", "embedding")
      .select(VectorOps.quantizeInt8(col("embedding")).as("z"))
      .select(col("z.scale"), col("z.q")).collect().head
    assert(nan.getDouble(0) === 127.0)
    assert(nan.getSeq[Byte](1) === Seq[Byte](0, 127, -64))
    // scale invariance: doubling every component (exact in float)
    // halves the scale exactly (power of two) and leaves codes
    // bit-identical — symmetric quantization only sees direction
    val inv = emb.limit(50)
      .select(VectorOps.quantizeInt8(col("embedding")).getField("q").as("q1"),
        VectorOps.quantizeInt8(
          transform(col("embedding"), x => x * lit(2.0f)))
          .getField("q").as("q2"))
      .filter(not(col("q1") === col("q2"))).count()
    assert(inv === 0, s"$inv vectors changed codes under 2x scaling")
    // dequantized cosine stays close to the float cosine
    val pairs = emb.limit(10).select(col("vec_id").as("id_a"),
        col("embedding").as("ea"))
      .crossJoin(emb.limit(10).select(col("vec_id").as("id_b"),
        col("embedding").as("eb")))
      .filter(col("id_a") < col("id_b"))
    val deq = (z: org.apache.spark.sql.Column) =>
      transform(z.getField("q"), q => q.cast("double") / z.getField("scale"))
    val drift = pairs.select(abs(
        VectorOps.cosine(col("ea"), col("eb")).cast("double") -
        VectorOps.cosineHof(
          deq(VectorOps.quantizeInt8(col("ea"))),
          deq(VectorOps.quantizeInt8(col("eb"))))).as("d"))
      .agg(max("d")).collect().head.getDouble(0)
    assert(drift < 0.02, s"quantized cosine drift $drift")
  }
}
