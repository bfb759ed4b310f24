package graft.operators

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** Sinks for the sales fact table.
  *
  * The reference bulk-loads into a Postgres table LIST-partitioned by
  * `location_id`, with secondary indexes on month/timestamp/item_name and
  * a guarded per-(location, month) DELETE for backfills
  * (`database_service.py:214-338`, `:415-475`, `README.md:131-141`).
  *
  * Spark-native layout: parquet partitioned by (location_id, month).
  * LIST-partition parity comes from the location dirs; the month index
  * becomes month partition pruning; and the backfill delete becomes a
  * partition-directory drop — O(1) metadata work instead of a table
  * rewrite, which is what makes backfill viable on a 100 TB table.
  * (A plain dynamic-overwrite delete silently no-ops when the surviving
  * slice is empty — an empty DataFrame overwrites no partitions — so the
  * delete is done at the partition layer, not the row layer.)
  */
object SalesSink {

  /** Partitioned append: location dirs (LIST parity) × month dirs
    * (index parity → pruning). */
  def writePartitioned(sales: DataFrame, path: String,
      mode: SaveMode = SaveMode.Append): Unit =
    sales.write.mode(mode).partitionBy("location_id", "month").parquet(path)

  /** The (location_id, month) slice's directory: where
    * [[writePartitioned]] puts the slice's rows, with the month escaped
    * as Spark's writer escapes partition values. */
  def slicePath(path: String, locationId: Int, month: String): Path =
    new Path(new Path(path), s"location_id=$locationId/" +
      ExternalCatalogUtils.getPartitionPathString("month", month))

  /** S7 backfill: drop the (location_id, month) slice — a partition
    * directory delete — then append the replacement, if any. */
  def overwriteMonth(spark: SparkSession, path: String, locationId: Int,
      month: String, replacement: Option[DataFrame] = None): Unit = {
    val slice = slicePath(path, locationId, month)
    val fs = slice.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(slice, true)
    replacement.foreach(writePartitioned(_, path, SaveMode.Append))
  }

  /** Rows in the (location_id, month) slice, from metadata alone: the
    * parquet footers of the files in the directory [[overwriteMonth]]
    * drops, read in parallel on the driver. No Spark job runs.
    *
    * It equals `spark.read.parquet(path).filter(location_id, month)
    * .count()`: that scan reads exactly the slice directory's data
    * files, and a parquet file's row count is the sum of the row counts
    * its footer records per row group. Files Spark's file index leaves
    * out are left out here too ([[skippedByScan]]). A missing slice
    * holds 0 rows; a missing table path, or a directory inside the
    * slice (which the scan would read as another partition level), is
    * refused rather than guessed at. */
  def sliceRows(spark: SparkSession, path: String, locationId: Int,
      month: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val table = new Path(path)
    val fs = table.getFileSystem(conf)
    if (!fs.exists(table))
      throw new FileNotFoundException(s"sales table path does not exist: $path")
    val slice = slicePath(path, locationId, month)
    val listed =
      try fs.listStatus(slice).toSeq
      catch { case _: FileNotFoundException => Nil }
    val files = listed.filterNot(f => skippedByScan(f.getPath.getName))
    files.find(_.isDirectory).foreach { d =>
      throw new IllegalStateException(
        s"slice $slice holds a directory, ${d.getPath.getName}; " +
          "sliceRows counts only the data files of a one-level slice")
    }
    ParquetFooters.rowCounts(files.map(_.getPath), conf).sum
  }

  /** The names Spark's file index leaves out of a scan: `_` and `.`
    * prefixes (job markers, checksums, staging; a `_` name holding `=`
    * is a partition directory) and in-flight `._COPYING_` uploads. */
  private def skippedByScan(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  /** Bucketed managed table: rows hash-bucketed (and sorted) by the join
    * key so repeated joins/aggregations on that key skip the shuffle
    * entirely — the Spark analogue of co-located storage. Joining two
    * tables bucketed the same way produces a SortMergeJoin with NO
    * Exchange on either side (spec-enforced). This is the layout for the
    * 100 TB fact⋈fact case where neither side broadcasts. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, mode: SaveMode = SaveMode.Overwrite,
      path: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
    // explicit path -> external table (keeps gate artifacts out of the
    // session warehouse dir); default stays managed
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Transient-error classifier for the JDBC retry, mirroring the
    * reference's OperationalError/InterfaceError handling
    * (`database_service.py:304-324`): connection-level SQL exceptions and
    * common transient signatures anywhere in the cause chain. */
  def defaultRetryable(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    chain.exists {
      case _: java.sql.SQLTransientException => true
      case _: java.sql.SQLRecoverableException => true
      case _: java.sql.SQLNonTransientConnectionException => true
      case _: java.net.SocketException => true
      case _: java.net.SocketTimeoutException => true
      case t =>
        val m = Option(t.getMessage).getOrElse("").toLowerCase
        Seq("connection reset", "connection refused", "timeout", "deadlock",
          "broken pipe").exists(m.contains)
    }
  }

  /** Driver-level retry with exponential backoff, mirroring the
    * reference's write path (`database_service.py:241-245`): `attempts`
    * tries, `baseDelayMs` first wait, ×`backoff` each retry, retrying
    * only errors `isRetryable` classifies as transient. `sleep` is
    * injectable for tests. */
  def withRetry[T](attempts: Int = 3, baseDelayMs: Long = 2000,
      backoff: Double = 2.0,
      isRetryable: Throwable => Boolean = defaultRetryable,
      sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    require(attempts >= 1, "attempts must be >= 1")
    var delay = baseDelayMs
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: Throwable if attempt < attempts && isRetryable(e) =>
          sleep(delay)
          delay = (delay * backoff).toLong
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** JDBC sink (reference S6): batched appends with driver-level
    * transient-error retry (3×, 2 s base, ×2 backoff — the reference's
    * policy). Task-level retry stays Spark-native; a driver-level retry
    * of a partially-committed append can duplicate rows, exactly as the
    * reference's batch-insert retry can — pair with an idempotent key or
    * staging table when the target demands exactly-once. */
  def writeJdbc(sales: DataFrame, url: String, table: String,
      props: java.util.Properties, batchSize: Int = 100,
      attempts: Int = 3, baseDelayMs: Long = 2000,
      isolationLevel: String = "READ_UNCOMMITTED",
      sleep: Long => Unit = Thread.sleep): Unit =
    withRetry(attempts, baseDelayMs, sleep = sleep) {
      // isolationLevel default mirrors Spark's own (READ_UNCOMMITTED):
      // per-partition insert transactions; raise to READ_COMMITTED /
      // SERIALIZABLE when the target's concurrent readers demand it
      // (JdbcDialectSpec pins the string -> java.sql constant mapping)
      sales.write.mode(SaveMode.Append)
        .option("batchsize", batchSize.toString)
        .option("isolationLevel", isolationLevel)
        .jdbc(url, table, props)
    }
}
