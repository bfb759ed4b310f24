package graft

import org.apache.spark.sql.SaveMode

import graft.operators.SalesSink

/** A5/S7: the count-first guard must be the default (no change without
  * --confirm), and confirm must delete exactly the one slice.
  */
class BackfillSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String = {
    val dir = tempDir("backfill").toString
    val sales = Seq(
      ("Latte", 1, "2025-10", 1),
      ("Mocha", 2, "2025-11", 1),
      ("Scone", 3, "2025-11", 2))
      .toDF("item_name", "qty", "month", "location_id")
    SalesSink.writePartitioned(sales, dir, SaveMode.Overwrite)
    dir
  }

  test("dry-run counts the slice and changes nothing") {
    val dir = freshTable()
    val out = Backfill.run(spark, dir, 1, "2025-11", None, confirm = false)
    assert(out.contains(""""action":"dry-run""""))
    assert(out.contains(""""matching_rows":1"""))
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("confirm deletes exactly the one slice; replacement backfills it") {
    val dir = freshTable()
    val out = Backfill.run(spark, dir, 1, "2025-11", None, confirm = true)
    assert(out.contains(""""deleted_rows":1""") &&
      out.contains(""""rows_now_in_slice":0"""))
    assert(spark.read.parquet(dir).count() === 2)

    val repl = tempDir("backfill_repl").toString
    Seq(("Cortado", 9, "2025-11", 1))
      .toDF("item_name", "qty", "month", "location_id")
      .write.mode(SaveMode.Overwrite).parquet(repl)
    val out2 = Backfill.run(spark, dir, 1, "2025-11", Some(repl),
      confirm = true)
    assert(out2.contains(""""rows_now_in_slice":1"""))
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("dry-run launches no Spark job") {
    val dir = freshTable()
    var out = ""
    val jobs = jobsDuring {
      out = Backfill.run(spark, dir, 2, "2025-11", None, confirm = false)
    }
    assert(out.contains(""""matching_rows":1"""))
    assert(jobs === 0, s"the dry-run count launched $jobs Spark jobs")
  }

  test("confirm with a replacement reports the replacement's slice rows") {
    val dir = freshTable()
    val repl = tempDir("backfill_repl3").toString
    // three rows for the slice and one for another location, which the
    // append writes elsewhere and the slice count must not see
    Seq(("Cortado", 9, "2025-11", 1), ("Drip", 8, "2025-11", 1),
      ("Chai", 7, "2025-11", 1), ("Tea", 6, "2025-11", 2))
      .toDF("item_name", "qty", "month", "location_id")
      .write.mode(SaveMode.Overwrite).parquet(repl)
    val out = Backfill.run(spark, dir, 1, "2025-11", Some(repl),
      confirm = true)
    assert(out.contains(""""deleted_rows":1""") &&
      out.contains(""""rows_now_in_slice":3"""), out)
    assert(spark.read.parquet(dir)
      .filter($"location_id" === 1 && $"month" === "2025-11").count() === 3)
  }

  test("malformed month is rejected before touching the table") {
    val dir = freshTable()
    intercept[IllegalArgumentException] {
      Backfill.run(spark, dir, 1, "November", None, confirm = true)
    }
    assert(spark.read.parquet(dir).count() === 3)
  }
}
