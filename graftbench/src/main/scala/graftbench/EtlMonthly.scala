package graftbench

import java.io.File

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Backfill, EtlPipeline}
import graft.operators.SalesEtl
import graft.sources.SquareOrders

/** The paper's monthly ETL. Set-up writes a seeded year of orders; each
  * op runs `EtlPipeline.runPipeline` over the next month's file into a
  * fresh directory, checks the five `EtlStats` counts against the
  * generator's, then runs the reference's read-side lookups on the month
  * just written (`Backfill.run` dry-run slice count per location,
  * revenue by location, top items) and checks them too. The lookups
  * form one read pass, run [[Workload.readPasses]] times.
  *
  * A few large jobs: sources, SalesEtl and SalesSink dominate, a write
  * sits beside reads, and neither the per-job constant nor ManifestTable
  * matters. With tracing on, nested prefixes of the pipeline (scan, then
  * scan plus transform) also run through the noop sink, since a span
  * around a lazy call would time plan building only. They run as probe
  * spans, so their Spark work stays out of the `spark.*` totals. */
final class EtlMonthly(spark: SparkSession, seed: Long, work: String,
    corruptOp: Int) extends Workload {
  import EtlMonthly._

  private val ordersDir = s"$work/orders"
  private var expected: Map[Int, SquareGen.Expected] = Map.empty
  private val locations = EtlPipeline.builtinLocations(spark)

  /** Writes the twelve months on four threads, and a quarter-size
    * January for the warm-up op. */
  def prepare(): Unit = {
    new File(ordersDir).mkdirs()
    new File(warmDir).mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val warm = pool.submit(() => SquareGen.writeMonth(warmDir, seed + 1, 1, OrdersPerMonth / 4))
      val fs = (1 to 12).map { m =>
        pool.submit(() => m -> SquareGen.writeMonth(ordersDir, seed, m, OrdersPerMonth))
      }
      expected = fs.map(_.get).toMap
      warmExpected = warm.get
    } finally pool.shutdown()
  }

  private val warmDir = s"$work/warmup"
  private var warmExpected: SquareGen.Expected = _

  /** A quarter-size month runs every stage of an op: classes load and
    * the JIT compiles without paying a full cold month. */
  override def warmUp(rec: Recorder): Unit = run(-2, 1, warmDir, warmExpected, rec)

  /** Op -1 (the second warm-up) takes December; timed ops cycle
    * through the year from January. */
  def op(i: Int, rec: Recorder): Unit = {
    val month = Math.floorMod(i, 12) + 1
    run(i, month, ordersDir, expected(month), rec)
  }

  private def run(i: Int, month: Int, dir: String, exp0: SquareGen.Expected,
      rec: Recorder): Unit = {
    val exp = if (i == corruptOp) exp0.copy(written = exp0.written + 1) else exp0
    val start = java.time.LocalDate.of(SquareGen.year, month, 1)
    val (lo, hi) = EtlPipeline.utcWindow(start, start.withDayOfMonth(start.lengthOfMonth()))
    val file = SquareGen.monthFile(dir, month)
    val out = s"$work/sales/op$i"
    deleteTree(new File(s"$work/sales/op${i - 2}"))

    var prefixS = 0.0
    val prefixRows = Observation("graftbench_transform_prefix")
    if (rec.tracing) {
      val scanS = noopSeconds(rec, "sources.scan") {
        SquareOrders.fromJsonFile(spark, file)
      }
      // runPipeline's steps up to the sink; the check below on its
      // written-row count fails the op if the two drift apart
      prefixS = noopSeconds(rec, "sales_etl.transform_prefix") {
        val raw = SquareOrders.fromJsonFile(spark, file)
        val windowed = raw.filter(to_timestamp(col("closed_at")) >= lit(lo) &&
          to_timestamp(col("closed_at")) < lit(hi))
        SalesEtl.withLocationsFlagged(SalesEtl.toSalesRows(windowed), locations)
          .withColumn("_valid", SalesEtl.isValidSalesRow)
          .observe(prefixRows, count(when(col("_known") && col("_valid"), 1)).as("written"))
      }
      rec.add("sources.scan_s", scanS)
      rec.add("sales_etl.transform_s", prefixS - scanS)
    }
    val t0 = System.nanoTime()
    val stats = rec.call(CallKind.Write, "etl.run_pipeline") {
      EtlPipeline.runPipeline(SquareOrders.fromJsonFile(spark, file),
        locations, lo, hi, out)
    }
    val pipelineS = (System.nanoTime() - t0) / 1e9
    Check.equal(s"month $month EtlStats",
      stats, EtlPipeline.EtlStats(exp.orders, exp.rejected, exp.unknownRows,
        exp.quarantined, exp.written))
    if (rec.tracing)
      Check.equal(s"month $month transform prefix rows written",
        prefixRows.get("written"), stats.rowsWritten)

    val monthKey = f"${SquareGen.year}-$month%02d"
    (1 to Workload.readPasses(i)).foreach { _ =>
      rec.call(CallKind.Read, "etl.read") { readPass(out, monthKey, exp, rec) }
    }

    val files = listFiles(new File(out)).filter(_.getName.endsWith(".parquet"))
    if (rec.tracing) {
      rec.add("sales_sink.write_s", pipelineS - prefixS)
      rec.add("sales_sink.files", files.size)
    }
    rec.add("etl.rows_written", stats.rowsWritten)
    rec.add("etl.pipeline_s", pipelineS)
    rec.add("etl.bytes_written", files.map(_.length).sum.toDouble)
  }

  /** The reference's read-side lookups on one written month, checked. */
  private def readPass(out: String, monthKey: String, exp: SquareGen.Expected,
      rec: Recorder): Unit = {
    SquareGen.locations.foreach { case (_, id) =>
      val json = rec.span("etl.read.slice") {
        Backfill.run(spark, out, id, monthKey, None, confirm = false)
      }
      val n = """"matching_rows":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      Check.equal(s"month $monthKey location $id slice rows", n,
        Some(exp.rowsByLocation.getOrElse(id, 0L)))
    }
    val revenue = rec.span("etl.read.revenue") {
      spark.read.parquet(out).filter(col("month") === monthKey)
        .groupBy("location_id").agg(sum("sale_price").as("revenue"))
        .collect().map(r => r.getInt(0) ->
          r.getDecimal(1).movePointRight(2).longValueExact()).toMap
    }
    Check.equal(s"month $monthKey revenue cents by location", revenue,
      exp.revenueCentsByLocation)
    val top = rec.span("etl.read.top_items") {
      spark.read.parquet(out).filter(col("month") === monthKey)
        .groupBy("item_name").agg(sum("qty").as("qty"))
        .orderBy(desc("qty"), asc("item_name")).limit(10)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    }
    Check.equal(s"month $monthKey top items", top, exp.topItems)
  }

  private def rates(l: scala.collection.Map[String, Double]) = (
    l("etl.rows_written") / l("etl.pipeline_s").max(1e-9),
    l("etl.bytes_written") / l("etl.rows_written").max(1.0))

  override def summary(rec: Recorder): Seq[(String, Double, String)] = {
    val (rowsPerS, bytesPerRow) = rates(rec.totals)
    val writes = rec.calls(CallKind.Write)
    Seq(("rows_per_s", rowsPerS, "rows/s"),
      ("write_s_p50", if (writes.isEmpty) 0.0 else Stats.median(writes), "s"),
      ("bytes_written_per_row", bytesPerRow, "B/row"))
  }

  override def layerExtras(rec: Recorder): Map[String, Double] = {
    val (rowsPerS, bytesPerRow) = rates(rec.layer)
    Map("etl.rows_per_s" -> rowsPerS, "io.bytes_written_per_row" -> bytesPerRow)
  }

  private def noopSeconds(rec: Recorder, name: String)(
      df: => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    rec.probe(name)(df.write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e9
  }
}

object EtlMonthly {
  /** Orders per month file: 17-22 times the reference's published load
    * of 4,500-6,000 orders a month (15-20 pages of 100 at each of three
    * locations), at which `runPipeline` takes a fraction of a second.
    * At this size it takes about 1.5 s warm on three local slots, and
    * an op with its read passes about 4 s; larger months would not fit
    * the benchmark's time budget. */
  val OrdersPerMonth = 100000

  def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles)
    else if (f.isFile) Seq(f) else Nil

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
