package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.operators.SalesEtl
import graft.sources.SquareOrders

/** Single-pass pipeline stats: `runPipeline` must produce the same five
  * summary counts the old multi-scan shape computed with 4 extra count()
  * jobs + an output re-read — but in ONE write action (plus the
  * broadcast build for the dim join).
  */
class EtlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val locations = Seq(
    (1, "Wrigleyville", "LWRIG000000001"),
    (2, "Current", "L5WST6KFZBT10"))
    .toDF("id", "name", "square_id")

  private def order(id: String, loc: String, closedAt: String): String = {
    val closed = if (closedAt.isEmpty) "" else s""""closed_at":"$closedAt","""
    s"""{"id":"$id","location_id":"$loc",$closed"line_items":[
       |{"name":"Latte","variation_name":"12 oz","quantity":"2",
       | "base_price_money":{"amount":450},"gross_sales_money":{"amount":900}}]}"""
      .stripMargin.replace("\n", "")
  }

  // 2 in-window valid; 1 rejected (no closed_at); 1 unknown location
  // (in-window); 1 outside the window
  private val docs = Seq(
    order("o1", "L5WST6KFZBT10", "2025-11-10T15:00:00Z"),
    order("o2", "LWRIG000000001", "2025-11-20T15:00:00Z"),
    order("o3", "L5WST6KFZBT10", ""),
    order("o4", "LUNKNOWN000001", "2025-11-12T15:00:00Z"),
    order("o5", "L5WST6KFZBT10", "2025-12-10T15:00:00Z"))

  test("runPipeline: stats match the multi-scan formulas, in <=3 jobs") {
    val located = SquareOrders.fromJson(spark, spark.createDataset(docs))
    val (lo, hi) = EtlPipeline.utcWindow(
      LocalDate.of(2025, 11, 1), LocalDate.of(2025, 11, 30))
    val out = tempDir("etl-obs").toString

    var stats: EtlPipeline.EtlStats = null
    val jobs = jobsDuring {
      stats = EtlPipeline.runPipeline(located, locations, lo, hi, out)
    }

    // the whole run: one write action + the broadcast build (and nothing
    // proportional to the number of stats)
    assert(jobs <= 3, s"expected <=3 jobs, saw $jobs")

    // independent recomputation, old multi-scan shape
    val windowed = located.filter(
      to_timestamp(col("closed_at")) >= lit(lo) &&
        to_timestamp(col("closed_at")) < lit(hi))
    val sales = SalesEtl.toSalesRows(windowed)
    val resolved = SalesEtl.withLocations(sales, locations)
    val (valid, quarantined) = SalesEtl.validate(resolved)
    assert(stats.rejectedOrders === SalesEtl.rejectedOrders(located).count())
    assert(stats.orders === windowed.count())
    assert(stats.unknownLocationRows ===
      SalesEtl.unknownLocations(sales, locations).count())
    assert(stats.quarantinedRows === quarantined.count())
    assert(stats.rowsWritten === valid.count())
    assert(stats.rowsWritten === spark.read.parquet(out).count())

    // sanity on the fixture: every category is exercised
    assert(stats === EtlPipeline.EtlStats(orders = 3, rejectedOrders = 1,
      unknownLocationRows = 1, quarantinedRows = 0, rowsWritten = 2))
  }

  test("runPipeline over an empty month reports zeros, not a crash") {
    // an all-out-of-window run can optimize plan sections to an empty
    // relation whose CollectMetrics nodes vanish — Observation then
    // resolves to an empty map and the old stats read threw
    // NoSuchElementException (found by the monthly_etl.sh smoke)
    val located = SquareOrders.fromJson(spark, spark.createDataset(docs))
    val (lo, hi) = EtlPipeline.utcWindow(
      LocalDate.of(2020, 1, 1), LocalDate.of(2020, 1, 31))
    val out = tempDir("etl-empty").toString
    val stats = EtlPipeline.runPipeline(located, locations, lo, hi, out,
      testLimit = Some(1000))
    assert(stats.orders === 0)
    assert(stats.unknownLocationRows === 0)
    assert(stats.quarantinedRows === 0)
    assert(stats.rowsWritten === 0)
  }

  test("runPipeline with test-limit caps the window sample") {
    val located = SquareOrders.fromJson(spark, spark.createDataset(docs))
    val (lo, hi) = EtlPipeline.utcWindow(
      LocalDate.of(2025, 11, 1), LocalDate.of(2025, 11, 30))
    val out = tempDir("etl-cap").toString
    val stats = EtlPipeline.runPipeline(located, locations, lo, hi, out,
      testLimit = Some(1))
    assert(stats.orders === 1)
    assert(stats.rowsWritten <= 1)
  }
}
