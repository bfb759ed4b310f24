package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ManifestTable

/** ManifestTable writes beside reads. Set-up creates a seeded,
  * sales-shaped table (created, then appended, with `sortCols` on the
  * long key and `statsCols` on the key and the month). Each op is one
  * [[ChurnPlan]] round: `upsert`, `deleteIds`, `merge` and the guarded
  * monthly reload `replaceRange(month)`, then `compactSmall` of the
  * small files those leave and a `vacuum` that keeps enough versions
  * for the time-travel read. Each op then reads: a full `read` aggregate, a
  * pruned `readRange` over the last two months, and a time-travel read
  * of the version the previous op ended on; that read pass runs
  * [[Workload.readPasses]] times. Row count, key and value checksums
  * must match the model after every op, and every write must commit a
  * higher version.
  *
  * Directions that rework the copy-on-write paths change this and no
  * other workload; it shows a write gain that costs reads or space. */
final class TableChurn(spark: SparkSession, seed: Long, work: String,
    corruptOp: Int) extends Workload {
  import ChurnPlan._
  import TableChurn._
  import spark.implicits._

  private var plan: ChurnPlan = _
  private val path = s"$work/table"
  private var version = 0L
  /** version -> (count, sum of ids), for time-travel checks. */
  private val snapshots = scala.collection.mutable.Map.empty[Long, (Long, Long)]
  private val keys = Seq("id", "month")

  /** Sales-shaped columns derived from (id, month, ver) and the seed. */
  private def rows(base: DataFrame): DataFrame = base
    .withColumn("location_id", (pmod(xxhash64(col("id"), lit(seed)), lit(3L)) + 1).cast("int"))
    .withColumn("item", concat(lit("item-"),
      pmod(xxhash64(col("id"), lit(seed + 1)), lit(40L)).cast("string")))
    .withColumn("price_cents", pmod(xxhash64(col("id"), col("ver"), lit(seed)), lit(2000L)) + 100)
    .withColumn("qty", (pmod(xxhash64(col("ver"), col("id")), lit(3L)) + 1).cast("int"))

  private def local(rs: Rows): DataFrame =
    rows(rs.map { case (id, m, v) => (id, yyyymm(m), v) }.toDF("id", "month", "ver"))

  /** Creates the table from the first third of the months and appends
    * the other two thirds. */
  def prepare(): Unit = {
    plan = new ChurnPlan(seed)
    plan.initial()
    val monthOfId = {
      // ids are allocated month by month: id / RowsPerMonth is the month
      val m = (col("id") / RowsPerMonth).cast("int")
      ((lit(2024) + m / 12).cast("int") * 100 + pmod(m, lit(12)) + 1).cast("int")
    }
    val third = Months / 3 * RowsPerMonth.toLong
    (0 until 3).foreach { part =>
      val df = rows(spark.range(part * third, (part + 1) * third)
        .withColumn("month", monthOfId).withColumn("ver", lit(0L)))
      version =
        if (part == 0) ManifestTable.create(spark, path, df, files = 6,
          sortCols = Seq("id"), statsCols = keys)
        else ManifestTable.append(spark, path, df, files = 6,
          statsCols = keys, sortCols = Seq("id"))
      // the initial ids are 0 until hi: hi rows, id sum hi(hi-1)/2
      val hi = (part + 1) * third
      snapshots(version) = (hi, hi * (hi - 1) / 2)
    }
  }

  /** Time a mutation, check its version, and record its file churn. */
  private def write(rec: Recorder, name: String, mustCommit: Boolean)(
      body: => Long): Unit = {
    val before = ManifestTable.currentEntries(spark, path)._2
    val v = rec.call(CallKind.Write, name)(body)
    if (mustCommit) Check.equal(s"$name commits a new version", v > version, true)
    else Check.equal(s"$name keeps versions monotonic", v >= version, true)
    version = v
    val after = ManifestTable.currentEntries(spark, path)._2
    val beforePaths = before.map(_.path).toSet
    val added = after.filterNot(e => beforePaths(e.path))
    val afterPaths = after.map(_.path).toSet
    rec.add("manifest.files_added", added.size)
    rec.add("manifest.files_removed", before.count(e => !afterPaths(e.path)))
    rec.add("manifest.rows_written", added.map(_.stats.get("__rows").fold(0L)(_._1)).sum)
    rec.add("manifest.bytes_written",
      added.map(e => new File(path, e.path).length).sum.toDouble)
  }

  def op(i: Int, rec: Recorder): Unit = {
    val prev = version
    val r = plan.round(i)
    write(rec, "manifest.upsert", mustCommit = true) {
      ManifestTable.upsert(spark, path, "id", local(r.upsert), files = 1,
        statsCols = keys)
    }
    write(rec, "manifest.delete_ids", mustCommit = true) {
      ManifestTable.deleteIds(spark, path, "id", r.deleteIds, statsCols = keys)
    }
    write(rec, "manifest.merge", mustCommit = true) {
      ManifestTable.merge(spark, path, "id", local(r.merge), files = 1,
        whenMatched = r.mergeMode._1, whenNotMatched = r.mergeMode._2,
        statsCols = keys)
    }
    val m = yyyymm(r.replaceMonth)
    write(rec, "manifest.replace_range", mustCommit = true) {
      ManifestTable.replaceRange(spark, path, "month", m, m,
        local(r.replacement), files = 1, statsCols = keys)
    }
    write(rec, "manifest.compact_small", mustCommit = false) {
      ManifestTable.compactSmall(spark, path, minBytes = SmallFileBytes,
        sortCols = Seq("id"), statsCols = keys)
    }
    rec.span("manifest.vacuum")(ManifestTable.vacuum(spark, path, keepVersions = 8))
    // recorded before the checks, so one failed check fails one op only
    snapshots(version) = (plan.count, plan.sumId)
    rec.add("manifest.rows_changed",
      (r.upsert.size + r.deleteIds.size + r.merge.size + r.replacement.size).toDouble)

    (1 to Workload.readPasses(i)).foreach { _ =>
      rec.call(CallKind.Read, "manifest.read_pass")(readPass(i, prev, rec))
    }

    if (rec.tracing) {
      val (_, debris) = tableBytes()
      rec.add("manifest.live_files", ManifestTable.currentManifest(spark, path)._2.size)
      rec.add("manifest.debris_mb", debris / 1e6)
    }
  }

  /** A full read aggregate, a pruned `readRange` over the last two
    * months and a time-travel read of version `prev`, each checked
    * against the model. */
  private def readPass(i: Int, prev: Long, rec: Recorder): Unit = {
    val want = (if (i == corruptOp) plan.count + 1 else plan.count, plan.sumId, plan.sumVer)
    val got = rec.span("manifest.read") {
      val row = ManifestTable.read(spark, path)
        .agg(count(lit(1)), sum("id"), sum("ver")).head()
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    Check.equal(s"op $i table (rows, key sum, ver sum)", got, want)
    val (lo, hi) = (Months - 2, Months - 1)
    val ranged = rec.span("manifest.read_range") {
      ManifestTable.readRange(spark, path, "month", yyyymm(lo), yyyymm(hi)).count()
    }
    Check.equal(s"op $i readRange rows", ranged, plan.monthCount(lo) + plan.monthCount(hi))
    val old = rec.span("manifest.time_travel") {
      val row = ManifestTable.read(spark, path, version = Some(prev))
        .agg(count(lit(1)), sum("id")).head()
      (row.getLong(0), row.getLong(1))
    }
    Check.equal(s"op $i time travel to v$prev", old, snapshots(prev))
  }

  /** (bytes of every file under the table, bytes of data files the
    * current manifest does not list). */
  private def tableBytes(): (Double, Double) = {
    val live = ManifestTable.currentManifest(spark, path)._2.toSet
    val root = new File(path)
    val files = EtlMonthly.listFiles(root)
    val debris = files.filter(f => f.getName.endsWith(".parquet") &&
      !live(root.toPath.relativize(f.toPath).toString))
    (files.map(_.length).sum.toDouble, debris.map(_.length).sum.toDouble)
  }

  private def ratios(l: scala.collection.Map[String, Double]) = (
    l("manifest.bytes_written") / l("manifest.rows_changed").max(1.0),
    l("manifest.rows_written") / l("manifest.rows_changed").max(1.0))

  override def summary(rec: Recorder): Seq[(String, Double, String)] = {
    val writes = rec.calls(CallKind.Write)
    Seq(("write_s_p50", if (writes.isEmpty) 0.0 else Stats.median(writes), "s"),
      ("bytes_written_per_row", ratios(rec.totals)._1, "B/row"),
      ("disk_bytes_per_row", tableBytes()._1 / plan.count.max(1L), "B/row"))
  }

  override def layerExtras(rec: Recorder): Map[String, Double] = {
    val writes = rec.calls(CallKind.Write)
    val (bytesPerRow, rowsPerRow) = ratios(rec.layer)
    Map("manifest.write_s_p50" -> (if (writes.isEmpty) 0.0 else Stats.median(writes)),
      "io.bytes_written_per_row" -> bytesPerRow,
      "manifest.rows_rewritten_per_row_changed" -> rowsPerRow,
      "manifest.disk_bytes_per_row" -> tableBytes()._1 / plan.count.max(1L))
  }
}

object TableChurn {
  /** compactSmall folds files under this size: the merge inserts and
    * other small rewrites, not the table's main files. */
  val SmallFileBytes: Long = 48L * 1024
}
