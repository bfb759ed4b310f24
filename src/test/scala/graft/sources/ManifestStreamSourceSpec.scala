package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.operators.ManifestTable

/** The manifest table as a streaming SOURCE: offsets are manifest
  * versions, batches are the version range's added files (or the CDC
  * diff), restart-exactly-once rides the checkpoint.
  */
class ManifestStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("manifest_src").toString

  private def part(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, ((i * 2654435761L) % 1000L)))
      .toDF("k", "v")

  /** Drain all available versions into `sink` (AvailableNow), once. */
  private def runOnce(path: String, ckpt: String,
      sink: DataFrame => Unit, options: Map[String, String] = Map.empty)
      : Unit = {
    val q = spark.readStream.format("graft-manifest").options(options)
      .load(path)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => sink(b) }
      .start()
    q.awaitTermination()
  }

  test("appends stream exactly once across restarts: first run delivers " +
    "the snapshot, later runs only the versions since the checkpoint") {
    val path = freshDir()
    val ckpt = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def sink(b: DataFrame): Unit = synchronized {
      got ++= b.select("k", "v").collect().map(r =>
        (r.getLong(0), r.getLong(1)))
    }
    runOnce(path, ckpt, sink)
    assert(got.size === 100 && got.map(_._1).toSet === (1L to 100L).toSet)

    got.clear()
    ManifestTable.append(spark, path, part(101, 150), files = 1)
    ManifestTable.append(spark, path, part(151, 160), files = 1)
    runOnce(path, ckpt, sink) // restart: ONLY the two appended versions
    assert(got.size === 60 && got.map(_._1).toSet === (101L to 160L).toSet)

    got.clear()
    runOnce(path, ckpt, sink) // nothing new: no batch at all
    assert(got.isEmpty)
  }

  test("startingVersion skips the initial snapshot; a maintenance " +
    "rewrite fails an append-only stream loudly (never silent dupes)") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2,
      sortCols = Seq("k"), statsCols = Seq("k"))
    ManifestTable.append(spark, path, part(101, 130), files = 1)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sink(b: DataFrame): Unit = synchronized {
      got ++= b.select("k").collect().map(_.getLong(0))
    }
    runOnce(path, freshDir(), sink, Map("startingVersion" -> "1"))
    assert(got.toSet === (101L to 130L).toSet) // v1's 100 rows skipped

    ManifestTable.deleteRange(spark, path, "k", 1L, 10L,
      statsCols = Seq("k"))
    val e = intercept[StreamingQueryException] {
      runOnce(path, freshDir(), sink, Map("startingVersion" -> "2"))
    }
    assert(e.getMessage.contains("append-only") ||
      Option(e.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("cdc mode streams rewrites exactly: deletes arrive as _change=" +
    "'delete' rows carrying the OLD values") {
    val path = freshDir()
    val ckpt = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def sink(b: DataFrame): Unit = synchronized {
      got ++= b.select("k", "_change").collect().map(r =>
        (r.getLong(0), r.getString(1)))
    }
    runOnce(path, ckpt, sink, Map("mode" -> "cdc"))
    assert(got.size === 100 && got.forall(_._2 === "insert"))

    got.clear()
    ManifestTable.deleteRange(spark, path, "k", 10L, 19L,
      statsCols = Seq("k"))
    runOnce(path, ckpt, sink, Map("mode" -> "cdc"))
    assert(got.toSet === (10L to 19L).map((_, "delete")).toSet)

    // ignore-rewrites: the Delta ignoreChanges contract — rewritten
    // survivors arrive again, never a query failure
    val got2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    ManifestTable.append(spark, path, part(200, 210), files = 1)
    runOnce(path, freshDir(), sink = { b =>
      synchronized { got2 ++= b.select("k").collect().map(_.getLong(0)) }
    }, Map("mode" -> "ignore-rewrites", "startingVersion" -> "1"))
    assert((200L to 210L).toSet.subsetOf(got2.toSet)) // the append
    assert(got2.toSet.intersect((10L to 19L).toSet).isEmpty) // deleted gone
    assert(got2.size >= 11) // survivors of rewritten files may repeat

    // a bad mode is refused at definition time
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-manifest")
        .option("mode", "nope").load(path)
    }
  }
}
