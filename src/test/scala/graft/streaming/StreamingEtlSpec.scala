package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The streaming ETL must land exactly the rows the batch ETL lands. */
class StreamingEtlSpec extends SparkSpec {
  import spark.implicits._

  test("file-stream orders -> same sales rows as batch, incrementally") {
    val ordersDir = tempDir("stream_orders")
    val outDir = tempDir("stream_out").toString
    val ckpt = tempDir("stream_ckpt").toString
    val locations = Seq((2, "Current", "L5WST6KFZBT10"))
      .toDF("id", "name", "square_id")

    def orderJson(id: String, cents: Long) =
      s"""{"id":"$id","location_id":"L5WST6KFZBT10",
         |"closed_at":"2025-11-24T13:27:45Z","line_items":[
         |{"name":"Latte $id","quantity":"1",
         |"base_price_money":{"amount":$cents},
         |"gross_sales_money":{"amount":$cents}}]}"""
        .stripMargin.replace("\n", "")

    // first file, first run
    Files.writeString(ordersDir.resolve("batch1.jsonl"),
      orderJson("a", 500) + "\n" + orderJson("b", 750))
    val q1 = StreamingEtl.start(spark, ordersDir.toString, locations,
      outDir, ckpt)
    q1.awaitTermination()

    // a second file arrives; restart from checkpoint processes ONLY it
    Files.writeString(ordersDir.resolve("batch2.jsonl"), orderJson("c", 300))
    val q2 = StreamingEtl.start(spark, ordersDir.toString, locations,
      outDir, ckpt)
    q2.awaitTermination()

    val out = spark.read.parquet(outDir)
    assert(out.count() === 3) // no reprocessing of batch1 (checkpoint held)
    val names = out.select("item_name").as[String].collect().toSet
    assert(names === Set("Latte a", "Latte b", "Latte c"))
    assert(out.select("location_id").distinct().as[Int].collect().toSeq === Seq(2))
    assert(out.filter($"item_name" === "Latte b")
      .select("sale_price").collect().head.getDecimal(0).toPlainString === "7.50")
  }

  test("replayed batchId overwrites, never duplicates (exactly-once sink)") {
    val outDir = tempDir("stream_replay").toString
    val batch = Seq(("Latte", 1, "2025-11", 2), ("Mocha", 2, "2025-11", 2))
      .toDF("item_name", "qty", "month", "location_id")
    StreamingEtl.writeBatch(batch, outDir, batchId = 7)
    // simulate the post-failure replay of the SAME micro-batch
    StreamingEtl.writeBatch(batch, outDir, batchId = 7)
    assert(spark.read.parquet(outDir).count() === 2)
    // a different batchId lands alongside
    StreamingEtl.writeBatch(batch.limit(1), outDir, batchId = 8)
    assert(spark.read.parquet(outDir).count() === 3)

    // compaction folds batch dirs into the plain batch-table layout
    val dest = tempDir("stream_compact").toString
    StreamingEtl.compactStream(spark, outDir, dest)
    val compacted = spark.read.parquet(dest)
    assert(compacted.count() === 3)
    assert(!compacted.columns.contains("batch"))
    val dirs = new java.io.File(dest).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("location_id=")))
    assert(!dirs.exists(_.startsWith("batch=")))
  }

  test("manifest sink: replayed batchId no-ops by txn tag; readers see " +
    "whole committed batches only") {
    import graft.operators.ManifestTable
    val table = tempDir("stream_mani").toString
    new java.io.File(table).delete()
    val b0 = Seq(("Latte", 1), ("Mocha", 2)).toDF("item_name", "qty")
    val b1 = Seq(("Drip", 3)).toDF("item_name", "qty")
    assert(StreamingEtl.writeBatchManifest(b0, table, batchId = 0) === 1L)
    assert(StreamingEtl.writeBatchManifest(b1, table, batchId = 1) === 2L)
    // post-commit crash replay of batch 1: same txn tag -> NO-OP
    assert(StreamingEtl.writeBatchManifest(b1, table, batchId = 1) === 2L)
    assert(ManifestTable.read(spark, table).count() === 3L)
    assert(ManifestTable.lastTxn(spark, table) === Some("batch-1"))
    // replay of batch 0 after batch 1 cannot happen (monotonic), and a
    // NEW batch advances normally
    assert(StreamingEtl.writeBatchManifest(b1, table, batchId = 2) === 3L)
    assert(ManifestTable.read(spark, table).count() === 4L)
  }

  test("upsert sink: a batch's corrected keys replace earlier rows, " +
    "new keys insert, replayed batchId no-ops — even after maintenance") {
    import graft.operators.ManifestTable
    val table = tempDir("stream_upsert").toString
    new java.io.File(table).delete()
    val b0 = Seq((1L, "Latte", 1), (2L, "Mocha", 2), (3L, "Drip", 1))
      .toDF("order_id", "item_name", "qty")
    // batch 1 corrects order 2 and adds order 4 — the CDC shape
    val b1 = Seq((2L, "Mocha", 5), (4L, "Flat White", 1))
      .toDF("order_id", "item_name", "qty")
    assert(StreamingEtl.writeBatchUpsert(b0, table, batchId = 0,
      keyCol = "order_id") === 1L)
    assert(StreamingEtl.writeBatchUpsert(b1, table, batchId = 1,
      keyCol = "order_id") === 2L)
    val got = ManifestTable.read(spark, table).orderBy("order_id")
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
    assert(got === Seq((1L, 1), (2L, 5), (3L, 1), (4L, 1)))
    // post-commit crash replay of batch 1: same txn tag -> NO-OP (no
    // double-merge: a second delete-then-insert of key 2 would be
    // content-neutral here but version-visible)
    assert(StreamingEtl.writeBatchUpsert(b1, table, batchId = 1,
      keyCol = "order_id") === 2L)
    // a compact between commit and replay still can't readmit batch 1
    ManifestTable.compact(spark, table, files = 1)
    assert(StreamingEtl.writeBatchUpsert(b1, table, batchId = 1,
      keyCol = "order_id") === 3L)
    assert(ManifestTable.read(spark, table).count() === 4L)
  }

  test("startManifest: end-to-end file-stream -> manifest table equals " +
    "the batch transform; checkpoint restart appends only the new file") {
    val ordersDir = tempDir("mani_orders")
    val table = tempDir("mani_table").toString
    new java.io.File(table).delete()
    val ckpt = tempDir("mani_ckpt").toString
    val locations = Seq((2, "Current", "L5WST6KFZBT10"))
      .toDF("id", "name", "square_id")
    def orderJson(id: String, cents: Long) =
      s"""{"id":"$id","location_id":"L5WST6KFZBT10",
         |"closed_at":"2025-11-24T13:27:45Z","line_items":[
         |{"name":"Latte $id","quantity":"1",
         |"base_price_money":{"amount":$cents},
         |"gross_sales_money":{"amount":$cents}}]}"""
        .stripMargin.replace("\n", "")
    Files.writeString(ordersDir.resolve("b1.jsonl"),
      orderJson("a", 500) + "\n" + orderJson("b", 750))
    StreamingEtl.startManifest(spark, ordersDir.toString, locations,
      table, ckpt).awaitTermination()
    Files.writeString(ordersDir.resolve("b2.jsonl"), orderJson("c", 300))
    StreamingEtl.startManifest(spark, ordersDir.toString, locations,
      table, ckpt).awaitTermination()
    val out = graft.operators.ManifestTable.read(spark, table)
    assert(out.count() === 3)
    assert(out.select("item_name").as[String].collect().toSet ===
      Set("Latte a", "Latte b", "Latte c"))
  }
}
