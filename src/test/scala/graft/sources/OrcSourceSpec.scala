package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the scan behavior the src06 gate's scaladoc claims: an ORC
  * table written partitioned by year is read back with PARTITION
  * PRUNING (only the filtered year's directory survives the file
  * listing) and the row-level predicate PUSHED to the ORC reader —
  * plus content fidelity through the format round-trip. */
class OrcSourceSpec extends SparkSpec {
  import spark.implicits._

  test("ORC round-trip: partition pruning + pushed row predicate " +
    "visible in the scan, content preserved") {
    val path = tempDir("orc_rt").toString
    val src = (1 to 3000).map { i =>
      (i.toLong, 1995 + i % 3, (i % 50).toDouble, i * 1.5)
    }.toDF("id", "y", "qty", "price")
    src.repartition(col("y"))
      .write.mode("overwrite").partitionBy("y").orc(path)

    val scanned = spark.read.orc(path)
      .filter(col("y") === 1996 && col("qty") > 40)

    // partition pruning: 1 of the 3 year dirs survives the listing
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Some(f)
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case q: QueryStageExec => findScan(q.plan)
      case other => other.children.view.flatMap(findScan(_)).headOption
    }
    val scan = findScan(scanned.queryExecution.executedPlan).get
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition, got ${scan.selectedPartitions.partitionCount}")
    // row predicate reaches the ORC reader (PushedFilters metadata)
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(qty,40"),
      s"qty predicate not pushed to ORC: $pushed")

    // content fidelity: the round-trip answer equals the in-memory one
    val got = scanned.agg(count(lit(1)), sum("price")).head()
    val want = src.filter(col("y") === 1996 && col("qty") > 40)
      .agg(count(lit(1)), sum("price")).head()
    assert(got.getLong(0) === want.getLong(0))
    assert(math.abs(got.getDouble(1) - want.getDouble(1)) < 1e-9)
    assert(got.getLong(0) > 0)
  }
}
