package graft.sources.v2

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class GraftLogSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    tempDir(prefix).toString

  private def recs(partition: Int, from: Int, n: Int) =
    (from until from + n).map(i =>
      (1000L + i, s"k${i % 10}", s"v$partition-$i"))

  test("batch read: every record once, offsets dense per partition") {
    val dir = tmp("glog")
    GraftLog.append(dir, 0, recs(0, 0, 25))
    GraftLog.append(dir, 0, recs(0, 25, 17)) // second segment, base 25
    GraftLog.append(dir, 1, recs(1, 0, 9))
    val df = spark.read.format("graft-log").load(dir)
    assert(df.count() === 51)
    // offsets are 0..n-1 within each partition, in record order
    val got = df.select("partition", "offset", "value").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    val expected = (0 until 42).map(i => (0, i.toLong, s"v0-$i")).toSet ++
      (0 until 9).map(i => (1, i.toLong, s"v1-$i"))
    assert(got === expected)
    // one InputPartition per log partition
    assert(df.rdd.getNumPartitions === 2)
  }

  test("malformed line occupies its offset with a NULL payload") {
    val dir = tmp("glog-bad")
    GraftLog.append(dir, 0, recs(0, 0, 2))
    // corrupt the active segment by appending garbage bytes as a new
    // segment-with-one-bad-line
    val f = new java.io.FileWriter(s"$dir/p0/${GraftLog.segName(2L)}")
    f.write("{not json at all\n"); f.close()
    GraftLog.append(dir, 0, recs(0, 3, 1)) // base must be 3, not 2
    val rows = spark.read.format("graft-log").load(dir)
      .orderBy("offset").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(rows(2).isNullAt(3) && rows(2).isNullAt(4),
      "malformed record must surface as NULL payload at its offset")
    assert(rows(3).getString(4) === "v0-3")
  }

  test("offset JSON round-trip") {
    val o = GraftLogOffset(Map(0 -> 42L, 1 -> 9L, 12 -> 1000000L))
    assert(GraftLogOffset.fromJson(o.json()) === o)
    assert(o.json() === """{"0":42,"1":9,"12":1000000}""")
  }

  test("micro-batch: appended segments arrive as exactly the new offsets") {
    val dir = tmp("glog-stream")
    GraftLog.append(dir, 0, recs(0, 0, 5))
    GraftLog.append(dir, 1, recs(1, 0, 3))
    val q = spark.readStream.format("graft-log").load(dir)
      .writeStream.format("memory").queryName("glog1")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("glog1").count() === 8)
    // append while no query runs; a new AvailableNow query with the
    // SAME checkpoint would resume — here a fresh query re-reads all,
    // so assert the offsets, not just counts
    GraftLog.append(dir, 0, recs(0, 5, 4))
    val q2 = spark.readStream.format("graft-log").load(dir)
      .writeStream.format("memory").queryName("glog2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val got = spark.table("glog2")
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got === ((0 until 9).map(i => (0, i.toLong)) ++
      (0 until 3).map(i => (1, i.toLong))).toSet)
  }

  test("checkpoint recovery is exactly-once: restart resumes at the " +
      "committed offset, no duplicates") {
    val dir = tmp("glog-ckpt")
    val ckpt = tmp("glog-ckpt-loc")
    val out = tmp("glog-ckpt-out")
    GraftLog.append(dir, 0, recs(0, 0, 6))
    // parquet sink: the memory sink refuses checkpoint recovery, and
    // recovery is exactly what this test drives
    def run(): Unit = {
      val q = spark.readStream.format("graft-log").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(spark.read.parquet(out).count() === 6)
    GraftLog.append(dir, 0, recs(0, 6, 4))
    run() // same checkpoint: must deliver ONLY offsets 6..9
    val offsets = spark.read.parquet(out).select("offset").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(offsets === (0L to 9L),
      s"duplicates or gaps after recovery: $offsets")
  }

  test("composes with the streaming operators: log → windowedCounts " +
      "== the same batch aggregate") {
    val dir = tmp("glog-compose")
    val ckpt = tmp("glog-compose-ckpt")
    val out = tmp("glog-compose-out")
    // JSON values carry an event type; timestamps 10 min apart so two
    // 1-hour windows fill
    val events = (0 until 12).map(i =>
      (i * 600000L, s"k$i", if (i % 3 == 0) "click" else "view"))
    GraftLog.append(dir, 0, events)
    def shaped(df: org.apache.spark.sql.DataFrame) = df.select(
      (col("timestamp") / 1000).cast("timestamp").as("ts"),
      col("value").as("event_type"),
      lit(1.0).as("value"))
    def run(): Unit = {
      val q = graft.streaming.EventStreams.windowedCounts(
          shaped(spark.readStream.format("graft-log").load(dir)),
          windowLen = "1 hour", delay = "10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    // append-mode windows emit only once the watermark passes, and the
    // watermark advances at batch END — so a far-future record closes
    // the old windows one run LATER: run 2 ingests it (watermark still
    // old during the batch), run 3 emits the now-closed windows
    GraftLog.append(dir, 0, Seq((36000000L, "k99", "view")))
    run()
    GraftLog.append(dir, 0, Seq((36600000L, "k99", "view")))
    run()
    val streamed = spark.read.parquet(out)
      .filter(col("ws") < java.sql.Timestamp.valueOf("1970-01-01 02:00:00"))
      .select("ws", "event_type", "cnt").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.streaming.EventStreams.windowedCounts(
        shaped(spark.read.format("graft-log").load(dir)),
        windowLen = "1 hour", delay = "10 minutes")
      .select("ws", "event_type", "cnt").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // every watermark-closed window must match the batch answer exactly
    val closed = batch.filter(_._1.getTime < 2 * 3600 * 1000L)
    assert(streamed === closed, s"streamed=$streamed closed=$closed")
  }

  test("retention: whole dead segments go, offsets survive, readers " +
      "resume at the earliest retained record") {
    val dir = tmp("glog-retain")
    GraftLog.append(dir, 0, recs(0, 0, 10))   // seg base 0, ends at 10
    GraftLog.append(dir, 0, recs(0, 10, 10))  // seg base 10
    GraftLog.append(dir, 0, recs(0, 20, 5))   // active seg base 20
    // offset 12 is mid-segment: only the FIRST segment (ends at 10) is
    // deletable — retention never splits a segment
    assert(GraftLog.truncateBefore(dir, 0, 12L) === 10L)
    val rows = spark.read.format("graft-log").load(dir)
      .select("offset", "value").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === (10 until 25).map(i => (i.toLong, s"v0-$i")).toSet,
      "retained records keep their original offsets")
    // active segment always survives, even when fully below the cut
    assert(GraftLog.truncateBefore(dir, 0, 999L) === 20L)
    assert(spark.read.format("graft-log").load(dir).count() === 5)
  }

  test("sink: log → transform → log round-trip with dense offsets") {
    val src = tmp("glog-sink-src")
    val dst = tmp("glog-sink-dst")
    val ckpt = tmp("glog-sink-ckpt")
    GraftLog.append(src, 0, recs(0, 0, 10))
    GraftLog.append(src, 1, recs(1, 0, 5))
    def run(): Unit = {
      val q = spark.readStream.format("graft-log").load(src)
        .select(col("partition"), col("timestamp"), col("key"),
          upper(col("value")).as("value"))
        .writeStream.format("graft-log")
        .option("path", dst).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val out1 = spark.read.format("graft-log").load(dst)
      .select("partition", "offset", "value").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(out1 === ((0 until 10).map(i => (0, i.toLong, s"V0-$i")) ++
      (0 until 5).map(i => (1, i.toLong, s"V1-$i"))).toSet)
    // second batch appends at the running end offset, no gaps
    GraftLog.append(src, 0, recs(0, 10, 3))
    run()
    val offs = spark.read.format("graft-log").load(dst)
      .filter(col("partition") === 0).select("offset").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(offs === (0L until 13L), s"offsets not dense: $offs")
  }

  test("sink: replayed epoch commits nothing twice") {
    val dst = tmp("glog-epoch")
    val conf = new SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val w = new GraftLogStreamingWrite(dst, GraftLog.schema, 1, conf)
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(conf.value)
    def stage(name: String, lines: Int): GraftLogTaskCommit = {
      val p = new org.apache.hadoop.fs.Path(s"$dst/p0/$name")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      (0 until lines).foreach(i =>
        out.write(s"""{"timestamp":$i,"key":"k","value":"v$i"}\n"""
          .getBytes("UTF-8")))
      out.close()
      GraftLogTaskCommit(Seq(GraftLogStagedFile(0, p.toString, lines)))
    }
    w.commit(7L, Array(stage(".tmp-7-00000-1.jsonl", 4)))
    assert(GraftLog.append(dst, 0, Seq.empty) === 4L) // end offset 4
    // epoch 7 replays after a failure: re-staged file must be dropped
    w.commit(7L, Array(stage(".tmp-7-00000-1.jsonl", 4)))
    def segs() = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dst/p0"))
      .map(_.getPath.getName)
      .filter(_.matches("\\d{20}(\\.e\\d+)?\\.jsonl")).sorted
    assert(segs().toSeq === Seq(GraftLog.epochSegName(0L, 7L)))
    assert(spark.read.format("graft-log").load(dst).count() === 4)
    // CRASH WINDOW: driver died after the renames but before the epoch
    // marker — replay must WIPE this epoch's partial segments and redo,
    // not append duplicates after them (the r8 idempotent-commit fix)
    val marker = new org.apache.hadoop.fs.Path(s"$dst/_epochs/7")
    fs.delete(marker, false)
    w.commit(7L, Array(stage(".tmp-7-00000-1.jsonl", 4)))
    assert(segs().toSeq === Seq(GraftLog.epochSegName(0L, 7L)))
    assert(spark.read.format("graft-log").load(dst).count() === 4)
  }

  test("sink: rows without a partition column route by key hash") {
    val dst = tmp("glog-hash")
    val ckpt = tmp("glog-hash-ckpt")
    val src = tmp("glog-hash-src")
    GraftLog.append(src, 0, (0 until 40).map(i =>
      (i.toLong, s"key${i % 8}", s"v$i")))
    val q = spark.readStream.format("graft-log").load(src)
      .select(col("timestamp"), col("key"), col("value")) // no partition
      .writeStream.format("graft-log")
      .option("path", dst).option("partitions", "4")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.format("graft-log").load(dst)
      .select("partition", "key").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    assert(out.length === 40)
    // same key always lands in the same partition
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._1).toSet.size === 1)
    }
    assert(out.map(_._1).toSet.subsetOf((0 until 4).toSet))
  }

  test("a partition appearing mid-stream is picked up from offset 0") {
    val dir = tmp("glog-newpart")
    val ckpt = tmp("glog-newpart-ckpt")
    val out = tmp("glog-newpart-out")
    GraftLog.append(dir, 0, recs(0, 0, 2))
    def run(): Unit = {
      val q = spark.readStream.format("graft-log").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    GraftLog.append(dir, 7, recs(7, 0, 3)) // brand-new partition p7
    run()
    val got = spark.read.parquet(out).select("partition", "offset")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got === Set((0, 0L), (0, 1L), (7, 0L), (7, 1L), (7, 2L)))
  }
}
