package graft

import org.apache.spark.sql.SparkSession

import graft.operators.SalesSink

/** S7 backfill CLI — Spark equivalent of the reference's guarded
  * partitioned delete (`database_service.py:415-475`): remove one
  * (location_id, month) slice from the sales table, optionally loading a
  * replacement. The delete drops the slice's partition directory and the
  * replacement is appended, so no other partition is rewritten.
  *
  * Usage: runMain graft.Backfill <tablePath> <locationId> <month>
  *          [replacementParquet] [--confirm]
  *
  * Without --confirm it only counts matching rows (the reference's
  * count-first guard, `database_service.py:443-450`) and makes no
  * change. Every count it reports is metadata-only
  * ([[SalesSink.sliceRows]]): the row counts in the parquet footers of
  * the slice directory's files, read on the driver, so the guard
  * launches no Spark job. That is the number a scan's `count()` returns:
  * a filter on both partition columns reads exactly that directory's
  * data files, and a parquet file's rows are the rows its row groups
  * record.
  */
object Backfill {

  /** Count-first guarded delete/backfill; returns the summary JSON
    * line. Without `confirm` it only counts (no change). */
  def run(spark: SparkSession, path: String, locationId: Int,
      month: String, replacementPath: Option[String],
      confirm: Boolean): String = {
    require(month.matches("""\d{4}-\d{2}"""), s"month must be yyyy-MM, got: $month")
    def sliceCount() = SalesSink.sliceRows(spark, path, locationId, month)
    val matching = sliceCount()
    if (!confirm)
      s"""{"action":"dry-run","matching_rows":$matching,"hint":"pass --confirm to delete"}"""
    else {
      SalesSink.overwriteMonth(spark, path, locationId, month,
        replacementPath.map(spark.read.parquet(_)))
      s"""{"action":"overwrite","deleted_rows":$matching,"rows_now_in_slice":${sliceCount()}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_ == "--confirm")
    val confirm = args.contains("--confirm")
    require(positional.length >= 3,
      "usage: Backfill <tablePath> <locationId> <month 'yyyy-MM'> [replacementParquet] [--confirm]")
    val Array(path, locStr, month) = positional.take(3)
    val spark = GraftSession.getOrCreate("graft-backfill")
    println(run(spark, path, locStr.toInt, month, positional.lift(3), confirm))
    spark.stop()
  }
}
