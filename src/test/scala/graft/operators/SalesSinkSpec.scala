package graft.operators

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partitioned sink + S7 delete-month semantics
  * (reference `database_service.py:415-475`). */
class SalesSinkSpec extends SparkSpec {
  import spark.implicits._

  private def sampleSales = Seq(
    ("Latte", 1, "2025-10", 1),
    ("Mocha", 2, "2025-11", 1),
    ("Scone", 3, "2025-11", 2),
    ("Drip", 4, "2025-12", 2))
    .toDF("item_name", "qty", "month", "location_id")

  test("layout: location dirs (LIST parity) x month dirs (pruning)") {
    val dir = tempDir("sales_sink").toString
    SalesSink.writePartitioned(sampleSales, dir, SaveMode.Overwrite)
    val locs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("location_id=")).sorted
    assert(locs.toSeq === Seq("location_id=1", "location_id=2"))
    val months = new java.io.File(s"$dir/location_id=1").listFiles()
      .map(_.getName).filter(_.startsWith("month=")).sorted
    assert(months.toSeq === Seq("month=2025-10", "month=2025-11"))
    // partition pruning reaches both levels
    val pruned = spark.read.parquet(dir)
      .filter($"location_id" === 1 && $"month" === "2025-11")
    assert(pruned.count() === 1)
  }

  test("overwriteMonth deletes one (location, month) slice, leaves the rest") {
    val dir = tempDir("sales_del").toString
    SalesSink.writePartitioned(sampleSales, dir, SaveMode.Overwrite)
    SalesSink.overwriteMonth(spark, dir, locationId = 1, month = "2025-11")
    val left = spark.read.parquet(dir)
      .select("item_name").as[String].collect().toSet
    // Mocha (loc 1, 2025-11) gone; Scone (loc 2, 2025-11) untouched
    assert(left === Set("Latte", "Scone", "Drip"))
  }

  test("overwriteMonth on a location's only month empties it for real " +
    "(regression: dynamic-overwrite silently no-ops on empty survivors)") {
    val dir = tempDir("sales_only").toString
    val one = Seq(("Solo", 1, "2025-11", 7), ("Other", 1, "2025-11", 8))
      .toDF("item_name", "qty", "month", "location_id")
    SalesSink.writePartitioned(one, dir, SaveMode.Overwrite)
    SalesSink.overwriteMonth(spark, dir, 7, "2025-11")
    val left = spark.read.parquet(dir)
      .select("item_name").as[String].collect().toSet
    assert(left === Set("Other"))
  }

  test("overwriteMonth with replacement backfills the slice") {
    val dir = tempDir("sales_bf").toString
    SalesSink.writePartitioned(sampleSales, dir, SaveMode.Overwrite)
    val repl = Seq(("Cortado", 9, "2025-11", 1))
      .toDF("item_name", "qty", "month", "location_id")
    SalesSink.overwriteMonth(spark, dir, 1, "2025-11", Some(repl))
    val loc1 = spark.read.parquet(dir).filter($"location_id" === 1)
      .select("item_name").as[String].collect().toSet
    assert(loc1 === Set("Latte", "Cortado"))
  }

  // --- metadata-only slice count (the backfill guard) ---

  private def scanCount(dir: String, loc: Int, month: String): Long =
    spark.read.parquet(dir)
      .filter($"location_id" === loc && $"month" === month).count()

  /** Three appends of two files a slice; 4 KB row groups make several
    * row groups a file. */
  private def multiFileTable(prefix: String): String = {
    val dir = tempDir(prefix).toString
    (0 until 3).foreach { i =>
      spark.range(0, 3000 + i, 1, 2)
        .select(concat(lit("item-padded-to-fill-row-groups-"),
            col("id").cast("string")).as("item_name"),
          col("id").as("qty"), lit("2025-11").as("month"),
          (col("id") % 2 + 1).cast("int").as("location_id"))
        .write.mode(SaveMode.Append).option("parquet.block.size", 4096)
        .partitionBy("location_id", "month").parquet(dir)
    }
    dir
  }

  private def sliceFiles(dir: String): (FileSystem, Seq[Path]) = {
    val slice = SalesSink.slicePath(dir, 1, "2025-11")
    val fs = slice.getFileSystem(spark.sessionState.newHadoopConf())
    (fs, fs.listStatus(slice).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq)
  }

  test("sliceRows equals the scan count over several files of several " +
    "row groups") {
    val dir = multiFileTable("slice_rows")
    val (fs, parts) = sliceFiles(dir)
    assert(parts.size === 6)
    assert(parts.exists(p => ParquetFooters.withFooter(p, fs.getConf)(
      _.getBlocks.size) > 1), "the fixture must hold a multi-row-group file")
    for (loc <- Seq(1, 2))
      assert(SalesSink.sliceRows(spark, dir, loc, "2025-11") ===
        scanCount(dir, loc, "2025-11"))
    assert(SalesSink.sliceRows(spark, dir, 1, "2025-11") === 4502)
  }

  test("sliceRows skips the names the scan skips: _SUCCESS, .crc, " +
    "._COPYING_") {
    val dir = multiFileTable("slice_hidden")
    val before = SalesSink.sliceRows(spark, dir, 1, "2025-11")
    val (fs, parts) = sliceFiles(dir)
    val slice = parts.head.getParent
    fs.create(new Path(slice, "_SUCCESS")).close()
    val crc = fs.create(new Path(slice, ".part.crc"))
    try crc.write("not parquet".getBytes) finally crc.close()
    // a whole parquet file mid-upload: counted, it would add its rows
    FileUtil.copy(fs, parts.head, fs,
      new Path(slice, "x._COPYING_"), false,
      fs.getConf)
    assert(SalesSink.sliceRows(spark, dir, 1, "2025-11") === before)
    assert(scanCount(dir, 1, "2025-11") === before)
  }

  test("sliceRows: a missing slice counts 0; a missing table refuses") {
    val dir = tempDir("slice_missing").toString
    SalesSink.writePartitioned(sampleSales, dir, SaveMode.Overwrite)
    assert(SalesSink.sliceRows(spark, dir, 1, "2026-01") === 0)
    assert(SalesSink.sliceRows(spark, dir, 9, "2025-11") === 0)
    val gone = s"$dir/no_such_table"
    val e = intercept[java.io.FileNotFoundException] {
      SalesSink.sliceRows(spark, gone, 1, "2025-11")
    }
    assert(e.getMessage.contains(gone))
  }

  test("sliceRows refuses a directory inside the slice") {
    val dir = tempDir("slice_nested").toString
    SalesSink.writePartitioned(sampleSales, dir, SaveMode.Overwrite)
    val slice = SalesSink.slicePath(dir, 1, "2025-11")
    val fs = slice.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(slice, "nested"))
    val e = intercept[IllegalStateException] {
      SalesSink.sliceRows(spark, dir, 1, "2025-11")
    }
    assert(e.getMessage.contains("nested"))
  }

  // --- JDBC retry (reference database_service.py:241-245,304-324) ---

  test("withRetry: one transient failure then success, 2s base backoff") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val out = SalesSink.withRetry(sleep = slept.append(_)) {
      calls += 1
      if (calls == 1) throw new java.sql.SQLTransientException("conn lost")
      "ok"
    }
    assert(out === "ok")
    assert(calls === 2)
    assert(slept.toSeq === Seq(2000L))
  }

  test("withRetry: non-transient error is not retried") {
    var calls = 0
    val e = intercept[IllegalArgumentException] {
      SalesSink.withRetry(sleep = _ => ()) {
        calls += 1
        throw new IllegalArgumentException("bad schema")
      }
    }
    assert(e.getMessage === "bad schema")
    assert(calls === 1)
  }

  test("withRetry: transient errors exhaust 3 attempts with x2 backoff") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    intercept[java.sql.SQLTransientException] {
      SalesSink.withRetry(sleep = slept.append(_)) {
        calls += 1
        throw new java.sql.SQLTransientException("still down")
      }
    }
    assert(calls === 3)
    assert(slept.toSeq === Seq(2000L, 4000L))
  }

  test("defaultRetryable classifies nested causes and messages") {
    val nested = new RuntimeException("wrapper",
      new java.net.SocketTimeoutException("read timed out"))
    assert(SalesSink.defaultRetryable(nested))
    assert(SalesSink.defaultRetryable(new RuntimeException("Connection reset by peer")))
    assert(!SalesSink.defaultRetryable(new IllegalStateException("schema mismatch")))
  }

  test("writeJdbc: batched append survives one simulated transient failure " +
    "(embedded Derby)") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = sampleSales
    var first = true
    // flaky write: the first attempt dies mid-flight with a transient
    // error; the retry wrapper must re-drive the same batched write
    var slept = 0L
    SalesSink.withRetry(baseDelayMs = 1, sleep = slept += _) {
      if (first) { first = false; throw new java.sql.SQLTransientException("reset") }
      SalesSink.writeJdbc(df, url, "sales_rt", props, batchSize = 2,
        baseDelayMs = 1, sleep = _ => ())
    }
    assert(slept === 1L)
    val back = spark.read.jdbc(url, "sales_rt", props)
    assert(back.count() === 4)
    assert(back.columns.sorted.toSeq ===
      Seq("item_name", "location_id", "month", "qty"))
  }

  test("writeJdbc honors a raised isolationLevel and odd batchsize " +
    "end-to-end (embedded Derby wire)") {
    // the two options JdbcDialectSpec pins by mapping only — here the
    // full write path runs them against a real JDBC engine (Derby
    // supports all four java.sql isolation levels)
    val url = "jdbc:derby:memory:graftjdbciso;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    SalesSink.writeJdbc(sampleSales, url, "sales_iso", props,
      batchSize = 3, isolationLevel = "SERIALIZABLE", sleep = _ => ())
    val back = spark.read.jdbc(url, "sales_iso", props)
    assert(back.count() === 4)
    // and an unknown level fails loudly instead of writing untransacted
    intercept[IllegalArgumentException] {
      SalesSink.writeJdbc(sampleSales, url, "sales_iso2", props,
        isolationLevel = "SNAPSHOT", sleep = _ => ())
    }
  }
}
