package graft.operators

import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.SparkSpec

class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val d = tempDir("manifest").toString
    new java.io.File(d).delete()
    d
  }

  private def part(lo: Int, hi: Int) =
    (lo to hi).map(i => (i.toLong, ((i * 2654435761L) % 1000L))).toDF("k", "v")

  test("create/append/read round-trip: content is the union, version " +
    "increments, create refuses a second time") {
    val path = freshDir()
    assert(ManifestTable.create(spark, path, part(1, 500), files = 4) === 1L)
    assert(ManifestTable.append(spark, path, part(501, 800), files = 2) === 2L)
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 800L)
    assert(back.agg(sum("k")).head().getLong(0) === (1 to 800).map(_.toLong).sum)
    val (v, files) = ManifestTable.currentManifest(spark, path)
    assert(v === 2L && files.size === 6)
    intercept[IllegalArgumentException] {
      ManifestTable.create(spark, path, part(1, 5), files = 1)
    }
  }

  test("append(sortCols): appended files are range-clustered — nearly " +
    "disjoint recorded envelopes — with content identical to an " +
    "unsorted append, so later envelope-pruned CoW touches a slice") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 400), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    ManifestTable.append(spark, path, part(401, 800), files = 4,
      statsCols = Seq("k"), sortCols = Seq("k"))
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 800L)
    assert(back.agg(sum("k")).head().getLong(0) ===
      (1 to 800).map(_.toLong).sum)
    // the appended files' recorded envelopes are non-overlapping slices
    // of [401, 800] (range clustering), not four whole-domain spans
    val spans = ManifestTable.currentEntries(spark, path)._2
      .flatMap(_.stats.get("k")).filter(_._1 >= 401L).sortBy(_._1)
    assert(spans.size === 4)
    spans.sliding(2).foreach { case Seq((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"append file envelopes overlap: $spans")
    }
    // a low-key delete in the appended range rewrites ONE appended file
    val before = ManifestTable.currentManifest(spark, path)._2.toSet
    ManifestTable.deleteRange(spark, path, "k", 401L, 410L,
      statsCols = Seq("k"))
    val after = ManifestTable.currentManifest(spark, path)._2.toSet
    assert((before -- after).size === 1,
      s"expected exactly one rewritten file, got ${before -- after}")
    assert(ManifestTable.read(spark, path).count() === 790L)
  }

  test("reads resolve ONLY via the manifest: orphan parquet in the " +
    "table dir is invisible") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    // a crashed/uncommitted writer's files: same schema, poison rows
    part(9000, 9999).repartition(1).write.mode("overwrite")
      .parquet(s"$path/c_orphan")
    assert(ManifestTable.read(spark, path).count() === 100L)
  }

  test("old-or-new, never mixed: a staged manifest is invisible until " +
    "its single publish rename; afterwards reads see exactly the new list") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    // simulate a writer mid-commit: new data files on disk + manifest
    // fully written under a staged name
    part(101, 200).repartition(1).write.mode("overwrite")
      .parquet(s"$path/c_next")
    val newFile = new java.io.File(s"$path/c_next").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).head
    val (_, oldFiles) = ManifestTable.currentManifest(spark, path)
    val staged = new java.io.File(path, "_manifest.staged.test")
    val w = new java.io.PrintWriter(staged, "UTF-8")
    (oldFiles :+ s"c_next/$newFile").foreach(w.println)
    w.close()
    // before the rename: the reader still resolves v1 — the OLD content
    assert(ManifestTable.read(spark, path).count() === 100L)
    // the publish is ONE rename; after it the reader sees the NEW list
    assert(staged.renameTo(new java.io.File(path, "_manifest.2")))
    assert(ManifestTable.read(spark, path).count() === 200L)
    assert(ManifestTable.currentManifest(spark, path)._1 === 2L)
  }

  test("crash recovery is a no-op: leftover staged manifests and orphan " +
    "data dirs never block the next writer, and vacuum removes them") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    // crash debris: a staged manifest that never published + its files
    part(500, 600).repartition(1).write.mode("overwrite")
      .parquet(s"$path/c_crashed")
    val staged = new java.io.File(path, "_manifest.staged.crashed")
    val w = new java.io.PrintWriter(staged, "UTF-8"); w.println("c_crashed/x"); w.close()
    // the next writer proceeds normally past the debris
    assert(ManifestTable.append(spark, path, part(101, 150), files = 1) === 2L)
    assert(ManifestTable.read(spark, path).count() === 150L)
    val deleted = ManifestTable.vacuum(spark, path, keepVersions = 2)
    assert(deleted.exists(_.startsWith("_manifest.staged")), deleted)
    assert(deleted.exists(_.startsWith("c_crashed/")), deleted)
    // both kept snapshots still resolve
    assert(ManifestTable.read(spark, path).count() === 150L)
  }

  test("compact rewrites the snapshot under one commit: content equal, " +
    "file count collapses, old snapshot stays readable until vacuum") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 1000), files = 8)
    ManifestTable.append(spark, path, part(1001, 2000), files = 8)
    val sumBefore = ManifestTable.read(spark, path).agg(sum("k")).head().getLong(0)
    assert(ManifestTable.compact(spark, path, files = 2,
      sortCols = Seq("k")) === 3L)
    val (v, files) = ManifestTable.currentManifest(spark, path)
    assert(v === 3L && files.size === 2)
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 2000L)
    assert(back.agg(sum("k")).head().getLong(0) === sumBefore)
    // clustered: the two files own near-disjoint key slices
    val spans = Layout.fileSpans(back, "k").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val global = spans.map(_._2).max - spans.map(_._1).min
    assert(spans.map(s => s._2 - s._1).sum <= (global * 1.2).toLong)
    // pre-compact files still on disk (a v2 reader's grace) ...
    val (_, v2files) = {
      val in = scala.io.Source.fromFile(s"$path/_manifest.2")
      try (2L, in.getLines().filterNot(_.startsWith("#")).toList)
      finally in.close()
    }
    assert(v2files.forall(f => new java.io.File(path, f).exists()))
    // ... until vacuum with keepVersions = 1 reclaims them
    val deleted = ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(v2files.forall(deleted.contains), deleted)
    assert(ManifestTable.read(spark, path).count() === 2000L)
  }

  test("statsCols: per-file (min, max) ride the manifest; readRange " +
    "prunes by envelope, equals the full filter, and skips files") {
    val path = freshDir()
    // clustered on k so per-file envelopes are narrow — the layout
    // stats-pruning exists for
    ManifestTable.create(spark, path, part(1, 10000), files = 8,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val (_, entries) = ManifestTable.currentEntries(spark, path)
    assert(entries.size === 8 && entries.forall(_.stats.contains("k")))
    val full = ManifestTable.read(spark, path)
      .filter(col("k").between(100L, 220L))
    val ranged = ManifestTable.readRange(spark, path, "k", 100L, 220L)
    assert(ranged.orderBy("k", "v").collect().toSeq ===
      full.orderBy("k", "v").collect().toSeq)
    // the envelope check actually skips files on this clustered layout
    val kept = entries.count(e =>
      e.stats("k") match { case (lo, hi) => hi >= 100L && lo <= 220L })
    assert(kept < entries.size, s"no pruning: $kept of ${entries.size}")
    // stats survive an append and mix with stats-less files safely:
    // the new stats-less file is always kept (conservative)
    ManifestTable.append(spark, path, part(10001, 10100), files = 1)
    val r2 = ManifestTable.readRange(spark, path, "k", 100L, 220L)
    assert(r2.orderBy("k", "v").collect().toSeq ===
      ManifestTable.read(spark, path).filter(col("k").between(100L, 220L))
        .orderBy("k", "v").collect().toSeq)
    // a range outside every envelope returns an empty, schema-correct frame
    val none = ManifestTable.readRange(spark, path, "k", 5000000L, 6000000L)
    assert(none.count() === 0L && none.columns.toSeq === Seq("k", "v"))
    // stats are a TABLE property: a maintenance compact with no
    // explicit statsCols INHERITS them — pruning survives routine
    // maintenance instead of silently degrading
    ManifestTable.compact(spark, path, files = 2, sortCols = Seq("k"))
    val (_, afterCompact) = ManifestTable.currentEntries(spark, path)
    assert(afterCompact.forall(_.stats.contains("k")), afterCompact)
  }

  test("footer-derived stats equal the scan-derived envelopes exactly: " +
    "NULLs ignored, all-NULL columns omitted, non-integral cols fall " +
    "back to the scan and agree") {
    // r15 optimization: writeDataFiles reads per-file (min, max, rows)
    // from parquet FOOTERS instead of re-scanning what it just wrote.
    // This pins the replacement bit-for-bit against an independent
    // per-file Spark aggregation (the old scan recipe, inlined).
    def scanStats(dir: String, files: Seq[String], c: String)
        : Map[String, (Long, Long, Long)] =
      spark.read.parquet(files.map(f => s"$dir/$f"): _*)
        .groupBy(input_file_name().as("__f"))
        .agg(min(col(c).cast("long")).as("lo"),
          max(col(c).cast("long")).as("hi"),
          count(lit(1)).as("n"))
        .collect().map { r =>
          val name = r.getString(0).split('/').takeRight(2).mkString("/")
          name -> (if (r.isNullAt(1)) (Long.MinValue, Long.MinValue,
            r.getLong(3)) else (r.getLong(1), r.getLong(2), r.getLong(3)))
        }.toMap
    // (a) integral stats col with NULLs: envelope = min/max of the
    // non-NULL values, __rows counts every row incl. NULL-k ones
    val path = freshDir()
    val withNulls = (1 to 2000).map { i =>
      (if (i % 7 == 0) None else Some(i.toLong), i.toLong % 97,
        s"s$i")
    }.toDF("k", "v", "s")
    ManifestTable.create(spark, path, withNulls, files = 4,
      sortCols = Seq("v"), statsCols = Seq("k", "v"))
    val (_, entries) = ManifestTable.currentEntries(spark, path)
    assert(entries.size === 4)
    val scanK = scanStats(path, entries.map(_.path), "k")
    val scanV = scanStats(path, entries.map(_.path), "v")
    entries.foreach { e =>
      val (slo, shi, sn) = scanK(e.path)
      assert(e.stats("k") === (slo, shi), s"k envelope drifted: $e")
      assert(e.stats("v") === (scanV(e.path)._1, scanV(e.path)._2))
      assert(e.stats("__rows") === (sn, sn), s"row count drifted: $e")
    }
    assert(ManifestTable.countRows(spark, path) === 2000L)
    // (b) an ALL-NULL stats column omits its envelope (conservative:
    // readers keep the file), other stats still recorded
    val path2 = freshDir()
    val allNull = (1 to 100).map(i => (Option.empty[Long], i.toLong))
      .toDF("k", "v")
    ManifestTable.create(spark, path2, allNull, files = 2,
      statsCols = Seq("k", "v"))
    val (_, e2) = ManifestTable.currentEntries(spark, path2)
    assert(e2.forall(e => !e.stats.contains("k") &&
      e.stats.contains("v") && e.stats.contains("__rows")), e2)
    // the intact v envelopes still prune-and-read exactly
    assert(ManifestTable.readRange(spark, path2, "v", 5L, 10L)
      .count() === 6L)
    // (c) a NON-integral stats col routes through the scan fallback and
    // the recorded envelope is the cast-to-long one (numeric strings)
    val path3 = freshDir()
    val strKeys = (1 to 500).map(i => (i.toString, i.toLong))
      .toDF("sk", "v")
    ManifestTable.create(spark, path3, strKeys, files = 2,
      sortCols = Seq("v"), statsCols = Seq("sk"))
    val (_, e3) = ManifestTable.currentEntries(spark, path3)
    val scanSk = scanStats(path3, e3.map(_.path), "sk")
    e3.foreach { e =>
      val (slo, shi, sn) = scanSk(e.path)
      assert(e.stats("sk") === (slo, shi),
        s"fallback envelope drifted: $e")
      assert(e.stats("__rows") === (sn, sn))
    }
  }

  test("schema evolution: a new column on appended files surfaces with " +
    "mergeSchema (old rows NULL); default reads stay cheap and stable") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    ManifestTable.append(spark, path,
      part(101, 150).withColumn("tag", lit("new")), files = 1)
    val merged = ManifestTable.read(spark, path, mergeSchema = true)
    assert(merged.columns.toSet === Set("k", "v", "tag"))
    assert(merged.filter(col("tag").isNull).count() === 100L)
    assert(merged.filter(col("tag") === "new").count() === 50L)
    // compact unifies the schema — the evolved column is in every file
    // afterwards, so the default (cheap) read sees it too
    ManifestTable.compact(spark, path, files = 1)
    assert(ManifestTable.read(spark, path).columns.toSet ===
      Set("k", "v", "tag"))
  }

  test("zOrder layout + readBox: two-predicate prune on recorded " +
    "envelopes equals the full filter and skips on BOTH axes") {
    val path = freshDir()
    // k is sequential 1..10000, v is pseudo-random 0..999 — independent
    // axes, the shape z-ordering exists for
    ManifestTable.create(spark, path, part(1, 10000), files = 16,
      sortCols = Seq("k", "v"), statsCols = Seq("k", "v"), zOrder = true)
    val (_, entries) = ManifestTable.currentEntries(spark, path)
    assert(entries.size === 16 &&
      entries.forall(e => e.stats.contains("k") && e.stats.contains("v")))
    val full = ManifestTable.read(spark, path)
      .filter(col("k").between(1000L, 3000L) &&
        col("v").between(100L, 300L))
    val boxed = ManifestTable.readBox(spark, path,
      "k", 1000L, 3000L, "v", 100L, 300L)
    assert(boxed.orderBy("k", "v").collect().toSeq ===
      full.orderBy("k", "v").collect().toSeq)
    // each axis independently excludes at least one file, and the
    // conjunction keeps strictly fewer than the table
    def misses(c: String, lo: Long, hi: Long) = entries.count(e =>
      e.stats(c) match { case (flo, fhi) => fhi < lo || flo > hi })
    assert(misses("k", 1000L, 3000L) > 0, "k axis never pruned")
    assert(misses("v", 100L, 300L) > 0, "v axis never pruned")
    val kept = entries.count(e =>
      (e.stats("k") match { case (lo, hi) => hi >= 1000L && lo <= 3000L }) &&
      (e.stats("v") match { case (lo, hi) => hi >= 100L && lo <= 300L }))
    assert(kept < entries.size, s"no pruning: $kept of ${entries.size}")
  }

  test("deleteRange is copy-on-write at FILE level: untouched files " +
    "keep their lines, content equals the anti-filter, stats refresh") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 10000), files = 8,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val (v1, before) = ManifestTable.currentEntries(spark, path)
    val expect = ManifestTable.read(spark, path)
      .filter(!col("k").between(100L, 220L))
      .agg(count(lit(1)), sum("v")).head()
    val v2 = ManifestTable.deleteRange(spark, path, "k", 100L, 220L,
      statsCols = Seq("k"))
    assert(v2 === v1 + 1)
    val (_, after) = ManifestTable.currentEntries(spark, path)
    // file-level CoW: every file whose envelope misses the range kept
    // its exact manifest line; at least one file was rewritten
    val untouchedBefore = before.filter(e =>
      e.stats("k") match { case (lo, hi) => hi < 100L || lo > 220L })
    assert(untouchedBefore.nonEmpty)
    assert(untouchedBefore.forall(e => after.exists(_.path == e.path)))
    assert(after.size >= untouchedBefore.size)
    assert(before.map(_.path).toSet != after.map(_.path).toSet)
    // content contract
    val got = ManifestTable.read(spark, path)
    assert(got.filter(col("k").between(100L, 220L)).count() === 0L)
    assert(got.agg(count(lit(1)), sum("v")).head() === expect)
    // rewritten files carry fresh stats -> future range ops still prune
    assert(after.forall(_.stats.contains("k")))
    // a range outside every envelope is a NO-OP (same version)
    assert(ManifestTable.deleteRange(spark, path, "k", 5000000L,
      6000000L) === v2)
    // a stats-less table deletes correctly by rewriting everything
    // (conservative: no envelopes, every file is "touched")
    val p2 = freshDir()
    ManifestTable.create(spark, p2, part(1, 100), files = 2)
    ManifestTable.deleteRange(spark, p2, "k", 1L, 50L)
    val left = ManifestTable.read(spark, p2)
    assert(left.count() === 50L)
    assert(left.filter(col("k") <= 50L).count() === 0L)
  }

  test("deleteRange KEEPS NULL rows in rewritten files: after a " +
    "schema-evolving append, old files read the delete column as NULL " +
    "— NULL is in no range, so those rows must survive the rewrite") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    // evolve: the new column exists only on the appended file; the two
    // old files have NO stats for it -> conservative rewrite of all
    ManifestTable.append(spark, path,
      part(101, 150).withColumn("t", col("k")), files = 1)
    ManifestTable.deleteRange(spark, path, "t", 120L, 130L)
    val back = ManifestTable.read(spark, path, mergeSchema = true)
    // the 100 NULL-t rows all survive; exactly t in [120,130] removed
    assert(back.filter(col("t").isNull).count() === 100L)
    assert(back.count() === 100L + 50L - 11L)
    assert(back.filter(col("t").between(120L, 130L)).count() === 0L)
  }

  test("maintenance carries the txn tag forward: a compact between a " +
    "batch commit and its replay must not break append idempotence") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    val v2 = ManifestTable.append(spark, path, part(101, 150), files = 1,
      txn = Some("batch-7"))
    assert(ManifestTable.lastTxn(spark, path) === Some("batch-7"))
    val v3 = ManifestTable.compact(spark, path, files = 1)
    assert(v3 === v2 + 1)
    // the tag survived the compact ...
    assert(ManifestTable.lastTxn(spark, path) === Some("batch-7"))
    // ... so the crashed writer's replay is still a no-op
    assert(ManifestTable.append(spark, path, part(101, 150), files = 1,
      txn = Some("batch-7")) === v3)
    assert(ManifestTable.read(spark, path).count() === 150L)
    // a delete is maintenance too — tag still carried
    ManifestTable.deleteRange(spark, path, "k", 1L, 10L)
    assert(ManifestTable.lastTxn(spark, path) === Some("batch-7"))
    // the NEXT batch commits normally
    assert(ManifestTable.append(spark, path, part(151, 160), files = 1,
      txn = Some("batch-8")) > v3)
  }

  test("vacuum keeps what exists: a wider keepVersions after an earlier " +
    "narrower vacuum must not throw on the already-reclaimed manifest") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    ManifestTable.append(spark, path, part(101, 150), files = 1)
    ManifestTable.vacuum(spark, path, keepVersions = 1) // reclaims v1
    // v1 is gone; asking to keep 2 versions must keep what exists
    ManifestTable.vacuum(spark, path, keepVersions = 2)
    assert(ManifestTable.read(spark, path).count() === 150L)
  }

  test("time travel: read(version = Some(v)) resolves exactly snapshot " +
    "v while retained, and fails loudly once vacuumed") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    ManifestTable.append(spark, path, part(101, 200), files = 1)
    ManifestTable.compact(spark, path, files = 1)
    assert(ManifestTable.versions(spark, path) === Seq(1L, 2L, 3L))
    // v1 = pre-append content, v2 = pre-compact content, v3 = current
    val v1 = ManifestTable.read(spark, path, version = Some(1L))
    assert(v1.count() === 100L)
    assert(v1.agg(sum("k")).head().getLong(0) ===
      (1 to 100).map(_.toLong).sum)
    assert(ManifestTable.read(spark, path, version = Some(2L))
      .count() === 200L)
    assert(ManifestTable.read(spark, path, version = Some(3L))
      .collect().toSet ===
      ManifestTable.read(spark, path).collect().toSet)
    // a never-committed version fails loudly
    val e1 = intercept[IllegalArgumentException] {
      ManifestTable.read(spark, path, version = Some(9L))
    }
    assert(e1.getMessage.contains("not retained"))
    // vacuum reclaims v1/v2; the historical read refuses, never serves
    // a neighbor silently
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    val e2 = intercept[IllegalArgumentException] {
      ManifestTable.read(spark, path, version = Some(1L))
    }
    assert(e2.getMessage.contains("not retained"))
    assert(ManifestTable.read(spark, path, version = Some(3L))
      .count() === 200L)
  }

  test("deleteIds is copy-on-write through exact envelope pruning: a " +
    "clustered id set touches only its files, content equals the " +
    "anti-filter, NULL ids survive") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 10000), files = 8,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val (v1, before) = ManifestTable.currentEntries(spark, path)
    // scattered-but-local set: all inside the low end of the key space
    val ids = Seq(5L, 17L, 123L, 404L, 777L)
    val v2 = ManifestTable.deleteIds(spark, path, "k", ids,
      statsCols = Seq("k"))
    assert(v2 === v1 + 1)
    val got = ManifestTable.read(spark, path)
    assert(got.count() === 10000L - ids.size)
    assert(got.filter(col("k").isin(ids: _*)).count() === 0L)
    // file-level CoW: files whose envelope holds none of the ids kept
    // their exact manifest lines
    val (_, after) = ManifestTable.currentEntries(spark, path)
    val untouchedBefore = before.filter { e =>
      val (lo, hi) = e.stats("k"); !ids.exists(i => i >= lo && i <= hi)
    }
    assert(untouchedBefore.nonEmpty)
    assert(untouchedBefore.forall(e => after.exists(_.path == e.path)))
    // ids outside every envelope: a NO-OP at the same version
    assert(ManifestTable.deleteIds(spark, path, "k",
      Seq(5000000L, 6000000L)) === v2)
    // NULL ids survive a conservative (stats-less) rewrite
    val p2 = freshDir()
    val withNulls = spark.range(1, 51).toDF("k")
      .withColumn("t", when(col("k") <= 10L, col("k")))
    ManifestTable.create(spark, p2, withNulls, files = 2)
    ManifestTable.deleteIds(spark, p2, "t", Seq(3L, 7L))
    val left = ManifestTable.read(spark, p2)
    assert(left.count() === 48L)
    assert(left.filter(col("t").isNull).count() === 40L)
  }

  test("empty snapshot: deleting every row commits a snapshot that " +
    "reads as a typed empty frame, and the table stays writable") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val v = ManifestTable.deleteRange(spark, path, "k", 1L, 100L,
      statsCols = Seq("k"))
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 0L)
    assert(back.columns.toSeq === Seq("k", "v"))
    // the table is not bricked: the next append commits and reads
    assert(ManifestTable.append(spark, path, part(200, 250),
      files = 1) === v + 1)
    assert(ManifestTable.read(spark, path).count() === 51L)
  }

  test("torn-manifest self-check: a manifest whose body lost lines vs " +
    "its header count is refused loudly, not served partially") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 4)
    val m = new java.io.File(path, "_manifest.1")
    val lines = scala.io.Source.fromFile(m, "UTF-8").getLines().toList
    // simulate a torn read: the header survives, the tail is cut (drop
    // the checksum sidecar too — a real torn read happens UNDER a valid
    // crc, the hadoop checksum must not be the thing the test trips)
    val w = new java.io.PrintWriter(m, "UTF-8")
    lines.dropRight(2).foreach(w.println)
    w.close()
    new java.io.File(path, "._manifest.1.crc").delete()
    val e = intercept[IllegalArgumentException] {
      ManifestTable.read(spark, path)
    }
    assert(e.getMessage.contains("torn"), e.getMessage)
  }

  test("upsert: updated keys are replaced (all their rows), new keys " +
    "inserted, untouched files keep their lines, txn replay no-ops") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 1000), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val (_, before) = ManifestTable.currentEntries(spark, path)
    val updates = Seq((10L, -1L), (20L, -2L), (500L, -3L), (2000L, -4L))
      .toDF("k", "v")
    val v2 = ManifestTable.upsert(spark, path, "k", updates, files = 1,
      statsCols = Seq("k"), txn = Some("up-1"))
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 1001L) // 1000 - 3 replaced + 3 + 1 new
    assert(back.filter(col("k").isin(10L, 20L, 500L, 2000L))
      .orderBy("k").select("v").collect().map(_.getLong(0)).toSeq ===
      Seq(-1L, -2L, -3L, -4L))
    // untouched by the exact key set {10,20,500,2000}: files whose
    // envelope holds none of them keep their exact manifest lines
    val (_, after) = ManifestTable.currentEntries(spark, path)
    val untouchedBefore = before.filter { e =>
      val (lo, hi) = e.stats("k")
      !Seq(10L, 20L, 500L, 2000L).exists(i => i >= lo && i <= hi)
    }
    assert(untouchedBefore.nonEmpty)
    assert(untouchedBefore.forall(e => after.exists(_.path == e.path)))
    // replaying the same txn is a no-op at the same version
    assert(ManifestTable.upsert(spark, path, "k", updates, files = 1,
      txn = Some("up-1")) === v2)
    assert(ManifestTable.read(spark, path).count() === 1001L)
    // multi-row keys: DELETE-then-INSERT — all old rows of the key go
    val p2 = freshDir()
    ManifestTable.create(spark, p2,
      Seq((1L, 1L), (1L, 2L), (2L, 3L)).toDF("k", "v"), files = 1)
    ManifestTable.upsert(spark, p2, "k",
      Seq((1L, 99L)).toDF("k", "v"), files = 1)
    val got = ManifestTable.read(spark, p2).orderBy("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 99L), (2L, 3L)))
  }

  test("upsert large-set path (envelope prune + anti-join) matches the " +
    "exact-set path's content") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 1000), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val updates = Seq((100L, -1L), (900L, -2L)).toDF("k", "v")
    // maxCollectedKeys = 0 forces the envelope/anti-join path
    ManifestTable.upsert(spark, path, "k", updates, files = 1,
      statsCols = Seq("k"), maxCollectedKeys = 0L)
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 1000L)
    assert(back.filter(col("k").isin(100L, 900L)).orderBy("k")
      .select("v").collect().map(_.getLong(0)).toSeq === Seq(-1L, -2L))
  }

  test("upsert middle band (collected keys past the InSet literal cap): " +
    "exact-key pruning + anti-join filter, content matches") {
    val path = freshDir()
    // 20k rows in 4 clustered files; 9k distinct update keys sit between
    // MaxInSetLiterals (8192, anti-join filter takes over) and
    // maxCollectedKeys (100k, keys still collected for exact pruning)
    ManifestTable.create(spark, path, part(1, 20000), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val created = ManifestTable.currentManifest(spark, path)._2.toSet
    val updates = (1 to 9000)
      .map(i => (i.toLong, -i.toLong)).toDF("k", "v")
    ManifestTable.upsert(spark, path, "k", updates, files = 2,
      statsCols = Seq("k"))
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 20000L)
    // every updated key carries the update's value, the rest original
    assert(back.filter(col("k") <= 9000L).agg(sum("v")).head().getLong(0)
      === -(1L to 9000L).sum)
    assert(back.filter(col("k") > 9000L).count() === 11000L)
    // exact pruning still held: create files whose envelope lies wholly
    // above the update keys keep their exact lines (the 4 clustered
    // files split [1, 20000] into ~5k slices — the top one must survive)
    val after = ManifestTable.currentManifest(spark, path)._2.toSet
    assert((created & after).nonEmpty,
      "expected at least one untouched create file to survive the upsert")
  }

  test("readChanges: the appended delta between two retained versions; " +
    "empty delta is typed; a rewrite in the range refuses loudly") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    ManifestTable.append(spark, path, part(101, 150), files = 1)
    ManifestTable.append(spark, path, part(151, 160), files = 1)
    val delta = ManifestTable.readChanges(spark, path, 1L, 3L)
    assert(delta.count() === 60L)
    assert(delta.agg(sum("k")).head().getLong(0) ===
      (101 to 160).map(_.toLong).sum)
    val none = ManifestTable.readChanges(spark, path, 3L, 3L)
    assert(none.count() === 0L && none.columns.toSeq === Seq("k", "v"))
    ManifestTable.compact(spark, path, files = 1)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.readChanges(spark, path, 1L, 4L)
    }
    assert(e.getMessage.contains("not append-only"), e.getMessage)
    // changes AFTER the compact are append-only again
    ManifestTable.append(spark, path, part(161, 170), files = 1)
    assert(ManifestTable.readChanges(spark, path, 4L, 5L).count() === 10L)
  }

  test("rollback republishes a retained snapshot's file list (and txn) " +
    "as the next version; nothing is rewritten") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    ManifestTable.append(spark, path, part(101, 150), files = 1,
      txn = Some("batch-3"))
    ManifestTable.deleteRange(spark, path, "k", 1L, 120L) // the bad write
    assert(ManifestTable.read(spark, path).count() === 30L)
    val v4 = ManifestTable.rollback(spark, path, 2L)
    assert(v4 === 4L)
    assert(ManifestTable.read(spark, path).count() === 150L)
    // the rolled-back state carries v2's txn: a replay of batch-3 no-ops
    assert(ManifestTable.lastTxn(spark, path) === Some("batch-3"))
    assert(ManifestTable.append(spark, path, part(101, 150), files = 1,
      txn = Some("batch-3")) === v4)
    // rolling forward again also works (rollback of the rollback)
    assert(ManifestTable.rollback(spark, path, 3L) === 5L)
    assert(ManifestTable.read(spark, path).count() === 30L)
  }

  test("countRows is metadata-only on a stats-carrying table (per-file " +
    "__rows recorded at write) and falls back to a data count otherwise") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 1000), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val (_, entries) = ManifestTable.currentEntries(spark, path)
    assert(entries.forall(_.stats.contains("__rows")))
    assert(ManifestTable.countRows(spark, path) === 1000L)
    ManifestTable.deleteRange(spark, path, "k", 1L, 100L,
      statsCols = Seq("k"))
    assert(ManifestTable.countRows(spark, path) === 900L)
    // time-travel count
    assert(ManifestTable.countRows(spark, path,
      version = Some(1L)) === 1000L)
    // stats-less table: no __rows, the fallback data count is correct
    val p2 = freshDir()
    ManifestTable.create(spark, p2, part(1, 50), files = 1)
    assert(ManifestTable.countRows(spark, p2) === 50L)
    // '__rows' is reserved
    intercept[IllegalArgumentException] {
      ManifestTable.create(spark, freshDir(), part(1, 5), files = 1,
        statsCols = Seq("__rows"))
    }
  }

  test("readRange/readBox are version-aware: the pruned read at a " +
    "historical version sees rows a later delete removed") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 1000), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    ManifestTable.deleteRange(spark, path, "k", 100L, 200L,
      statsCols = Seq("k"))
    assert(ManifestTable.readRange(spark, path, "k", 100L, 200L)
      .count() === 0L)
    assert(ManifestTable.readRange(spark, path, "k", 100L, 200L,
      version = Some(1L)).count() === 101L)
  }

  test("replaceRange is the atomic backfill: old range out, replacement " +
    "in, ONE commit; untouched files keep their lines; NULLs survive") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 1000), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val (v1, before) = ManifestTable.currentEntries(spark, path)
    // the "reloaded month": same keys, corrected values
    val reload = (100 to 200).map(i => (i.toLong, -i.toLong)).toDF("k", "v")
    val v2 = ManifestTable.replaceRange(spark, path, "k", 100L, 200L,
      reload, files = 1, statsCols = Seq("k"))
    assert(v2 === v1 + 1)
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 1000L)
    assert(back.filter(col("k").between(100L, 200L) && col("v") >= 0L)
      .count() === 0L) // no old row of the range survived
    assert(back.filter(col("v") < 0L).count() === 101L)
    // file-level CoW: files outside the range keep their exact lines
    val (_, after) = ManifestTable.currentEntries(spark, path)
    val untouchedBefore = before.filter(e =>
      e.stats("k") match { case (lo, hi) => hi < 100L || lo > 200L })
    assert(untouchedBefore.nonEmpty)
    assert(untouchedBefore.forall(e => after.exists(_.path == e.path)))
    // a pre-backfill reader's snapshot still serves (grace until vacuum)
    assert(ManifestTable.read(spark, path, version = Some(v1))
      .filter(col("v") < 0L).count() === 0L)
    // NULL keys in rewritten files survive (stats-less table: all
    // files rewrite conservatively)
    val p2 = freshDir()
    val withNulls = spark.range(1, 21).toDF("k")
      .withColumn("t", when(col("k") <= 5L, col("k")))
    ManifestTable.create(spark, p2, withNulls, files = 1)
    ManifestTable.replaceRange(spark, p2, "t", 1L, 5L,
      Seq((99L, 1L)).toDF("k", "t"), files = 1)
    val left = ManifestTable.read(spark, p2)
    assert(left.filter(col("t").isNull).count() === 15L)
    assert(left.count() === 16L)
  }

  test("processChanges: a consumer checkpoint delivers each appended " +
    "delta exactly once across runs; first run is the full table") {
    val path = freshDir()
    val state = freshDir() + "/consumer.version"
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    var seen = Seq.empty[Long]
    def consume(): Long = ManifestTable.processChanges(spark, path,
      state) { df => seen = seen ++ df.select("k").collect().map(_.getLong(0)) }
    assert(consume() === 1L)
    assert(seen.sorted === (1L to 100L))
    // no new commits: nothing delivered, state untouched
    assert(consume() === 1L)
    assert(seen.size === 100)
    ManifestTable.append(spark, path, part(101, 130), files = 1)
    ManifestTable.append(spark, path, part(131, 140), files = 1)
    assert(consume() === 3L)
    assert(seen.sorted === (1L to 140L)) // the two appends, once each
    // a compact in the un-consumed window refuses loudly (never a
    // silent double-count); after re-basing the consumer state the
    // flow resumes
    ManifestTable.append(spark, path, part(141, 150), files = 1)
    ManifestTable.compact(spark, path, files = 1)
    val e = intercept[IllegalArgumentException] { consume() }
    assert(e.getMessage.contains("not append-only"))
  }

  test("a concurrent commit is detected and refused, never silently " +
    "rebased (a rebase under a compact would resurrect dead files)") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    // another writer publishes v2 out from under this one (same list)
    val v1Files = ManifestTable.currentManifest(spark, path)._2
    val w = new java.io.PrintWriter(
      new java.io.File(path, "_manifest.2"), "UTF-8")
    v1Files.foreach(w.println)
    w.close()
    val e = intercept[IllegalArgumentException] {
      // append resolved v2 as current, so it targets v3 — fine; force
      // the conflict by racing the SAME version: drop v2 to make the
      // append resolve v1, then restore it before the commit... not
      // interleavable from a test, so pin the guard directly instead:
      // currentManifest moved past what create expects
      ManifestTable.create(spark, path, part(1, 5), files = 1)
    }
    assert(e.getMessage.contains("already exists"))
    // and an append AFTER the foreign commit lands at v3 over v2's list
    assert(ManifestTable.append(spark, path, part(101, 110), files = 1) === 3L)
    assert(ManifestTable.read(spark, path).count() === 110L)
  }

  test("retryOnConflict: a writer that loses the commit race re-runs " +
    "against the new snapshot and lands; data errors are NOT retried") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    // the racing writer publishes between the victim's plan and commit:
    // simulate by making the victim's FIRST attempt conflict (a foreign
    // v2 appears), then the retry re-reads v2 and lands at v3
    var attempts = 0
    val v = ManifestTable.retryOnConflict(maxAttempts = 3) {
      attempts += 1
      if (attempts == 1) {
        val files = ManifestTable.currentManifest(spark, path)._2
        val w = new java.io.PrintWriter(
          new java.io.File(path, "_manifest.2"), "UTF-8")
        files.foreach(w.println)
        w.close()
        // this attempt planned against v1 but the table is at v2 now:
        // the typed conflict surfaces through create's expected=0 guard
        throw new ManifestTable.ConcurrentCommitException("simulated race")
      }
      ManifestTable.append(spark, path, part(101, 120), files = 1)
    }
    assert(attempts === 2 && v === 3L)
    assert(ManifestTable.read(spark, path).count() === 120L)
    // exhausting maxAttempts rethrows the conflict
    intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.retryOnConflict(maxAttempts = 2) {
        throw new ManifestTable.ConcurrentCommitException("always")
      }
    }
    // a NON-conflict failure is never retried
    var dataAttempts = 0
    intercept[IllegalArgumentException] {
      ManifestTable.retryOnConflict(maxAttempts = 3) {
        dataAttempts += 1
        ManifestTable.deleteRange(spark, path, "k", 10L, 1L) // lo > hi
      }
    }
    assert(dataAttempts === 1)
  }

  test("diffSnapshots: append-only diff is all inserts ≡ readChanges; " +
    "a pure compact diffs to EMPTY (carried-over rows cancel)") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    val v2 = ManifestTable.append(spark, path, part(101, 150), files = 1)
    val d = ManifestTable.diffSnapshots(spark, path, 1L, v2)
    assert(d.filter(col("_change") =!= "insert").count() === 0L)
    assert(d.count() === 50L)
    assert(d.select("k", "v").exceptAll(
      ManifestTable.readChanges(spark, path, 1L, v2)).count() === 0L)
    val v3 = ManifestTable.compact(spark, path, files = 1)
    assert(ManifestTable.diffSnapshots(spark, path, v2, v3).count() === 0L)
    // and across the whole range: appended rows still the only changes
    assert(ManifestTable.diffSnapshots(spark, path, 1L, v3).count() === 50L)
  }

  test("diffSnapshots: a CoW delete feeds OLD values as deletes only; " +
    "duplicate rows diff by multiplicity; vacuumed versions refused") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val v2 = ManifestTable.deleteRange(spark, path, "k", 10L, 19L,
      statsCols = Seq("k"))
    val d = ManifestTable.diffSnapshots(spark, path, 1L, v2)
    assert(d.filter(col("_change") =!= "delete").count() === 0L)
    assert(d.agg(sum("k")).head().getLong(0) === (10L to 19L).sum)
    // multiplicity: the same batch appended twice is TWO inserts per row
    val v3 = ManifestTable.append(spark, path, part(200, 201), files = 1)
    val v4 = ManifestTable.append(spark, path, part(200, 201), files = 1)
    val dd = ManifestTable.diffSnapshots(spark, path, v2, v4)
    assert(dd.count() === 4L &&
      dd.filter(col("k") === 200L).count() === 2L)
    // an update shows as one delete (old) + one insert (new)
    val v5 = ManifestTable.upsert(spark, path, "k",
      Seq((5L, 777L)).toDF("k", "v"), files = 1, statsCols = Seq("k"))
    val du = ManifestTable.diffSnapshots(spark, path, v4, v5)
      .filter(col("k") === 5L)
    assert(du.count() === 2L)
    assert(du.filter(col("_change") === "insert").head().getLong(1) === 777L)
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    intercept[IllegalArgumentException] {
      ManifestTable.diffSnapshots(spark, path, 1L, v5)
    }
    assert(v3 < v4 && v4 < v5)
  }

  test("filesDf/history: the inspection tables expose per-file stats " +
    "and retained commits without opening a single data file") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    ManifestTable.append(spark, path, part(101, 120), files = 1,
      statsCols = Seq("k"), txn = Some("batch-7"))
    ManifestTable.tag(spark, path, "exp-a")
    val md = ManifestTable.filesDf(spark, path)
    assert(md.count() === 5L)
    assert(md.filter(col("stat_col") === "k")
      .agg(sum("n_rows"), min("stat_min"), max("stat_max")).head() ===
      org.apache.spark.sql.Row(120L, 1L, 120L))
    // version-aware: v1's metadata has 4 files / 100 rows
    assert(ManifestTable.filesDf(spark, path, version = Some(1L))
      .agg(sum("n_rows")).head().getLong(0) === 100L)
    // a stats-less write yields the single null-stat row per file
    val bare = freshDir()
    ManifestTable.create(spark, bare, part(1, 10), files = 2)
    val bm = ManifestTable.filesDf(spark, bare)
    assert(bm.count() === 2L && bm.filter(col("stat_col").isNull)
      .count() === 2L)
    val h = ManifestTable.history(spark, path).orderBy("version")
      .collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // the audit column: which operation produced each version
    assert(h.map(_.getString(1)).toSeq === Seq("create", "append"))
    // a manifest lists ALL live files: v2 = 4 created + 1 appended
    assert(h.map(_.getLong(2)).toSeq === Seq(4L, 5L))
    assert(h.map(_.getLong(3)).toSeq === Seq(100L, 120L))
    assert(h(1).getString(4) === "batch-7")
    assert(h(1).getSeq[String](5) === Seq("exp-a"))
  }

  test("diffSnapshots across a schema-evolving append: evolved inserts " +
    "carry the new column, pre-evolution rows align as NULL") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 50), files = 2,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val evolved = (51 to 60).map(i => (i.toLong, i * 2L, s"tag$i"))
      .toDF("k", "v", "note")
    val v2 = ManifestTable.append(spark, path, evolved, files = 1,
      statsCols = Seq("k"))
    // delete reaches into the OLD files too, so the diff mixes evolved
    // (added) and pre-evolution (removed) schemas in one feed
    val v3 = ManifestTable.deleteRange(spark, path, "k", 45L, 55L,
      statsCols = Seq("k"))
    val d = ManifestTable.diffSnapshots(spark, path, 1L, v3)
    assert(d.columns.toSet === Set("k", "v", "note", "_change"))
    val ins = d.filter(col("_change") === "insert")
    val del = d.filter(col("_change") === "delete")
    assert(ins.select("k").collect().map(_.getLong(0)).toSet ===
      (56L to 60L).toSet) // appended minus the deleted overlap
    assert(ins.filter(col("note").isNull).count() === 0L)
    assert(del.select("k").collect().map(_.getLong(0)).toSet ===
      (45L to 50L).toSet) // the old rows the delete removed
    assert(del.filter(col("note").isNotNull).count() === 0L)
  }

  test("shallowClone chains: a clone of a clone resolves through both " +
    "levels; merge and diff work on the branch") {
    val a = freshDir(); val b = freshDir(); val c = freshDir()
    ManifestTable.create(spark, a, part(1, 60), files = 2,
      sortCols = Seq("k"), statsCols = Seq("k"))
    ManifestTable.shallowClone(spark, a, b)
    // diverge b with an append, then clone b -> c: c's manifest mixes
    // absolute refs into a (carried through b) and into b's own files
    ManifestTable.append(spark, b, part(61, 80), files = 1,
      statsCols = Seq("k"))
    ManifestTable.shallowClone(spark, b, c)
    assert(ManifestTable.read(spark, c).count() === 80L)
    // the branch takes real writes: idempotent-ingest merge on c
    ManifestTable.merge(spark, c, "k", part(71, 90), files = 1,
      whenMatched = "keep", whenNotMatched = "insert",
      statsCols = Seq("k"))
    assert(ManifestTable.read(spark, c).count() === 90L)
    assert(ManifestTable.read(spark, b).count() === 80L) // untouched
    assert(ManifestTable.read(spark, a).count() === 60L) // untouched
    // and the branch's change feed sees exactly its own divergence
    val d = ManifestTable.diffSnapshots(spark, c, 1L, 2L)
    assert(d.select("k").collect().map(_.getLong(0)).toSet ===
      (81L to 90L).toSet)
  }

  test("compactSmall folds ONLY the small-file tail: big files keep " +
    "their bytes and lines, content is preserved, re-run is a no-op") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 5000), files = 2,
      sortCols = Seq("k"), statsCols = Seq("k"))
    (0 until 5).foreach { i =>
      ManifestTable.append(spark, path,
        part(5001 + i * 10, 5010 + i * 10), files = 1,
        statsCols = Seq("k"))
    }
    val (v6, before) = ManifestTable.currentManifest(spark, path)
    assert(v6 === 6L && before.size === 7)
    val (fs0, p0) = (new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(path))
    val sizes = before.map(f =>
      fs0.getFileStatus(new org.apache.hadoop.fs.Path(p0, f)).getLen)
    val thr = (sizes.min + sizes.max) / 2
    val v7 = ManifestTable.compactSmall(spark, path, minBytes = thr,
      files = 1, statsCols = Seq("k"))
    assert(v7 === 7L)
    val (_, after) = ManifestTable.currentManifest(spark, path)
    assert(after.size === 3) // 2 big untouched + 1 folded
    // the two big files' manifest LINES survive verbatim (same bytes)
    val bigLines = ManifestTable.read(spark, path) // content first
    assert(bigLines.count() === 5050L)
    val beforeBig = before.zip(sizes).filter(_._2 >= thr).map(_._1)
    assert(beforeBig.forall(after.contains))
    // idempotent: one folded file left under the threshold is optimal
    assert(ManifestTable.compactSmall(spark, path, minBytes = thr) === 7L)
    assert(ManifestTable.versions(spark, path).max === 7L)
  }

  test("merge matrix: keep+insert is idempotent ingest (no rewrite, " +
    "no-op on re-delivery); delete+ignore is the DataFrame-keyed " +
    "delete; replace+ignore updates existing keys only") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    val (_, v1Files) = ManifestTable.currentManifest(spark, path)

    // keep+insert: source overlaps keys 91..100; only 101..120 land
    val src = part(91, 120)
    val v2 = ManifestTable.merge(spark, path, "k", src, files = 1,
      whenMatched = "keep", whenNotMatched = "insert",
      statsCols = Seq("k"))
    assert(v2 === 2L)
    val back = ManifestTable.read(spark, path)
    assert(back.count() === 120L)
    // overlapping keys kept the ORIGINAL rows (not the source's)
    assert(back.filter(col("k") === 95L).head().getLong(1) ===
      (95L * 2654435761L) % 1000L)
    // NO rewrite: every v1 file line survives verbatim
    val (_, v2Files) = ManifestTable.currentManifest(spark, path)
    assert(v1Files.forall(v2Files.contains))
    // re-merging the same source is a metadata no-op: no new version
    assert(ManifestTable.merge(spark, path, "k", src, files = 1,
      whenMatched = "keep", whenNotMatched = "insert") === 2L)
    assert(ManifestTable.versions(spark, path).max === 2L)

    // delete+ignore: distributed-keyed delete, content ≡ anti-filter
    val delKeys = part(1, 120).filter(col("k") % 7 === 0)
    val v3 = ManifestTable.merge(spark, path, "k", delKeys, files = 1,
      whenMatched = "delete", whenNotMatched = "ignore",
      statsCols = Seq("k"))
    assert(v3 === 3L)
    val after = ManifestTable.read(spark, path)
    assert(after.filter(col("k") % 7 === 0).count() === 0L)
    assert(after.count() === (1L to 120L).count(_ % 7 != 0))

    // replace+ignore: update existing keys only, never insert new ones
    val updates = part(100, 130).withColumn("v", lit(9999L))
    val v4 = ManifestTable.merge(spark, path, "k", updates, files = 1,
      whenMatched = "replace", whenNotMatched = "ignore",
      statsCols = Seq("k"))
    assert(v4 === 4L)
    val fin = ManifestTable.read(spark, path)
    assert(fin.filter(col("k") > 120L).count() === 0L) // no inserts
    // existing keys in the update range got the new value (105 = 7*15
    // was deleted above, so check a surviving key)
    assert(fin.filter(col("k") === 104L).head().getLong(1) === 9999L)
    assert(fin.filter(col("k") === 50L).head().getLong(1) ===
      (50L * 2654435761L) % 1000L) // outside the update: untouched

    // the no-action corner refuses; bad modes refuse
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, path, "k", updates, files = 1,
        whenMatched = "keep", whenNotMatched = "ignore")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, path, "k", updates, files = 1,
        whenMatched = "upsert")
    }
  }

  test("CHECK constraints: enforced at the commit boundary on every " +
    "data-adding write; adding validates the existing table; carried " +
    "by every commit; NULL passes (SQL semantics)") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2,
      sortCols = Seq("k"), statsCols = Seq("k"))
    assert(ManifestTable.addConstraint(spark, path, "v_bounded",
      "v >= 0 AND v < 1000") === 2L)
    assert(ManifestTable.constraints(spark, path) ===
      Map("v_bounded" -> "v >= 0 AND v < 1000"))
    // a violating append refuses WHOLLY — nothing lands, version holds
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, path,
        Seq((200L, -5L)).toDF("k", "v"), files = 1)
    }
    assert(ManifestTable.versions(spark, path).max === 2L)
    assert(ManifestTable.read(spark, path).count() === 100L)
    // a clean append lands, and the constraint RIDES the new manifest
    ManifestTable.append(spark, path, part(101, 110), files = 1)
    assert(ManifestTable.constraints(spark, path).contains("v_bounded"))
    // merge and upsert enforce too
    intercept[IllegalArgumentException] {
      ManifestTable.upsert(spark, path, "k",
        Seq((5L, 99999L)).toDF("k", "v"), files = 1)
    }
    intercept[IllegalArgumentException] {
      ManifestTable.merge(spark, path, "k",
        Seq((500L, -1L)).toDF("k", "v"), files = 1,
        whenMatched = "keep", whenNotMatched = "insert")
    }
    // NULL passes (SQL CHECK semantics): explicit IS NOT NULL forbids
    ManifestTable.append(spark, path,
      Seq((300L, null.asInstanceOf[java.lang.Long]))
        .toDF("k", "v").selectExpr("k", "CAST(v AS BIGINT) AS v"),
      files = 1)
    assert(ManifestTable.read(spark, path).count() === 111L)
    // adding a constraint the EXISTING table violates refuses
    intercept[IllegalArgumentException] {
      ManifestTable.addConstraint(spark, path, "v_notnull",
        "v IS NOT NULL")
    }
    // drop releases enforcement; duplicate add refused while live
    intercept[IllegalArgumentException] {
      ManifestTable.addConstraint(spark, path, "v_bounded", "v >= 0")
    }
    ManifestTable.dropConstraint(spark, path, "v_bounded")
    ManifestTable.append(spark, path, Seq((400L, -5L)).toDF("k", "v"),
      files = 1)
    assert(ManifestTable.constraints(spark, path).isEmpty)
    // MULTIPLE constraints validate in one pass and the refusal names
    // the violated one (r15: single-aggregate enforcement)
    ManifestTable.addConstraint(spark, path, "k_positive", "k > 0")
    ManifestTable.addConstraint(spark, path, "v_small", "v < 100000")
    ManifestTable.append(spark, path, Seq((500L, 7L)).toDF("k", "v"),
      files = 1) // passes both
    val err = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, path,
        Seq((501L, 999999L)).toDF("k", "v"), files = 1)
    }
    assert(err.getMessage.contains("v_small") &&
      !err.getMessage.contains("k_positive"), err.getMessage)
    // the history audit records the constraint lifecycle ops
    val ops = ManifestTable.history(spark, path)
      .orderBy("version").collect().map(_.getString(1)).toSeq
    assert(ops.head === "create" && ops.contains("add-constraint") &&
      ops.contains("drop-constraint"))
  }

  test("concurrent appenders: the per-table commit lock + OCC retry " +
    "serialize every writer in this JVM — all appends land, none lost") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    val threads = 6
    val appendsPer = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            var last = 0L
            (0 until appendsPer).foreach { i =>
              val lo = 1000 + (t * appendsPer + i) * 10
              last = ManifestTable.retryOnConflict(maxAttempts = 60) {
                ManifestTable.append(spark, path, part(lo, lo + 9),
                  files = 1)
              }
            }
            last
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val (v, files) = ManifestTable.currentManifest(spark, path)
    assert(v === 1L + threads * appendsPer) // every commit landed, once
    assert(files.size === 2 + threads * appendsPer)
    assert(ManifestTable.read(spark, path).count() ===
      100L + threads * appendsPer * 10L)
    // and the version chain is gapless — no lost/overwritten manifest
    assert(ManifestTable.versions(spark, path) ===
      (1L to (1L + threads * appendsPer)))
  }

  test("shallowClone: a zero-copy writable branch — no data files " +
    "copied, divergence is private in both directions, the source " +
    "version is pinned against vacuum") {
    val src = freshDir()
    val dst = freshDir()
    ManifestTable.create(spark, src, part(1, 100), files = 4,
      sortCols = Seq("k"), statsCols = Seq("k"))
    assert(ManifestTable.shallowClone(spark, src, dst) === 1L)
    // content equal, yet ZERO parquet bytes under the clone dir
    assert(ManifestTable.read(spark, dst).count() === 100L)
    def parquetCount(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists()) 0
      else {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) f.listFiles().map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(d)
      }
    }
    assert(parquetCount(dst) === 0)
    // the pin: a clone-<name>-v1 tag on the SOURCE
    val pins = ManifestTable.tags(spark, src)
    assert(pins.size === 1 && pins.values.toSeq === Seq(1L) &&
      pins.keys.head.startsWith("clone-"))

    // divergence dst -> src: CoW delete on the clone rewrites ONLY the
    // envelope files (into the clone's own dir); source unchanged
    ManifestTable.deleteRange(spark, dst, "k", 1L, 25L,
      statsCols = Seq("k"))
    assert(ManifestTable.read(spark, dst).count() === 75L)
    assert(ManifestTable.read(spark, src).count() === 100L)
    assert(parquetCount(dst) > 0) // the rewrite landed locally
    // untouched entries still point into the source (still shared)
    val entries = ManifestTable.filesDf(spark, dst)
      .select("file").collect().map(_.getString(0))
    assert(entries.exists(_.contains(src.replace("file:", ""))))

    // divergence src -> dst: appends on the source are invisible here
    ManifestTable.append(spark, src, part(101, 150), files = 1)
    assert(ManifestTable.read(spark, dst).count() === 75L)

    // the pin holds through an aggressive source vacuum: more source
    // commits, keepVersions=1 — the cloned snapshot's files survive
    ManifestTable.append(spark, src, part(151, 160), files = 1)
    ManifestTable.vacuum(spark, src, keepVersions = 1)
    assert(ManifestTable.read(spark, dst).count() === 75L)

    // compact MATERIALIZES the clone: no foreign refs remain, and the
    // pin can then be dropped safely
    ManifestTable.compact(spark, dst, files = 2)
    val after = ManifestTable.filesDf(spark, dst)
      .select("file").collect().map(_.getString(0))
    assert(!after.exists(_.contains(src.replace("file:", ""))))
    ManifestTable.dropTag(spark, src, pins.keys.head)
    ManifestTable.vacuum(spark, src, keepVersions = 1)
    assert(ManifestTable.read(spark, dst).count() === 75L)

    // cloning onto an existing table refuses
    intercept[IllegalArgumentException] {
      ManifestTable.shallowClone(spark, src, dst)
    }
  }

  test("tags: a named ref pins its snapshot against vacuum; dropTag " +
    "releases the pin; tags never silently move or dangle") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    assert(ManifestTable.tag(spark, path, "model-x.train") === 1L)
    ManifestTable.append(spark, path, part(101, 200), files = 1)
    ManifestTable.append(spark, path, part(201, 300), files = 1)
    ManifestTable.append(spark, path, part(301, 400), files = 1)
    // keepVersions=1 would normally reclaim v1..v3 — the tag pins v1
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(ManifestTable.versions(spark, path) === Seq(1L, 4L))
    assert(ManifestTable.readTag(spark, path, "model-x.train")
      .count() === 100L)
    assert(ManifestTable.tags(spark, path) === Map("model-x.train" -> 1L))
    // an existing tag never silently moves; bad names/versions refused
    intercept[IllegalArgumentException] {
      ManifestTable.tag(spark, path, "model-x.train", Some(4L))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.tag(spark, path, "has/slash")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.tag(spark, path, "dangling", Some(3L)) // vacuumed
    }
    // drop releases the pin: the NEXT vacuum reclaims v1, the tag is
    // gone, and readTag refuses loudly
    ManifestTable.dropTag(spark, path, "model-x.train")
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(ManifestTable.versions(spark, path) === Seq(4L))
    assert(ManifestTable.tags(spark, path).isEmpty)
    intercept[IllegalArgumentException] {
      ManifestTable.readTag(spark, path, "model-x.train")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.dropTag(spark, path, "model-x.train")
    }
    // a crashed tag write's staged dot-file is vacuum debris
    val staged = new java.io.File(path, ".tag.staged.deadbeef")
    val w = new java.io.PrintWriter(staged, "UTF-8"); w.println("1"); w.close()
    assert(ManifestTable.tags(spark, path).isEmpty) // invisible to refs
    ManifestTable.vacuum(spark, path, keepVersions = 1)
    assert(!staged.exists())
  }

  test("key sets past the old literal cap rewrite through a left anti " +
    "join: deleteIds of 20,000 scattered ids and merge(delete, ignore) " +
    "of 10,000 keys equal an anti-filter of the snapshot, keep NULL keys " +
    "and untouched lines, and plan no IN list") {
    val rows = (1 to 40000).map(i => (Option(i.toLong), i * 7L % 1000)) ++
      (1 to 100).map(i => (Option.empty[Long], i.toLong))
    def check(keys: Seq[Long])(op: String => Long): Unit = {
      val path = freshDir()
      ManifestTable.create(spark, path, rows.toDF("k", "v"), files = 8,
        sortCols = Seq("k"), statsCols = Seq("k"))
      val (v1, before) = ManifestTable.currentEntries(spark, path)
      val plans = plansOf(path)(assert(op(path) === v1 + 1))
      def content(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
        .sorted.toSeq
      val keySet = keys.toSet
      val expected = content(ManifestTable.read(spark, path,
        version = Some(v1))).filterNot(_._1.exists(keySet))
      val got = content(ManifestTable.read(spark, path))
      assert(got === expected)
      assert(got.count(_._1.isEmpty) === 100)
      val (_, after) = ManifestTable.currentEntries(spark, path)
      val untouched = before.filter { e =>
        val (lo, hi) = e.stats("k"); !keys.exists(k => k >= lo && k <= hi)
      }
      assert(untouched.nonEmpty)
      assert(untouched.forall(after.contains))
      assert(plans.nonEmpty, "no query of the rewrite was captured")
      assert(plans.exists(_.exists {
        case j: Join => j.joinType == LeftAnti
        case _       => false
      }), "no left anti join in the rewrite: " +
        plans.mkString("\n").take(2000))
      val literalLists = plans.flatMap(_.flatMap(_.expressions))
        .flatMap(_.collect { case e @ (_: In | _: InSet) => e })
      assert(literalLists.isEmpty,
        "IN literal list in the rewrite: " +
          literalLists.take(1).map(_.toString.take(300)))
    }
    val ids = new scala.util.Random(7)
      .shuffle((1L to 30000L).filter(_ % 3 != 0))
    assert(ids.size === 20000)
    check(ids)(path => ManifestTable.deleteIds(spark, path, "k", ids,
      statsCols = Seq("k")))
    val keys = 1L to 30000L by 3L
    assert(keys.size === 10000)
    check(keys)(path => ManifestTable.merge(spark, path, "k",
      keys.toDF("k"), files = 1, whenMatched = "delete",
      whenNotMatched = "ignore", statsCols = Seq("k")))
  }

  test("rename through the table's local FileSystem refuses an existing " +
    "target file: it returns false and leaves both files as they were") {
    val dir = new org.apache.hadoop.fs.Path(tempDir("rename").toString)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def put(p: org.apache.hadoop.fs.Path, text: String): Unit = {
      val out = fs.create(p, false)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    def text(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    val target = new org.apache.hadoop.fs.Path(dir, "_manifest.7")
    val staged = new org.apache.hadoop.fs.Path(dir, "_manifest.staged.x")
    put(target, "old\n")
    put(staged, "new\n")
    assert(!fs.rename(staged, target),
      s"${fs.getClass.getName} replaced an existing target on rename")
    assert(text(target) === "old\n")
    assert(text(staged) === "new\n")
  }

  test("pruned reads at a time-travel version: an excluded range is zero " +
    "rows typed as that snapshot, planned as an empty relation; a hitting " +
    "range equals a filter of read(version)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 4000), files = 8,
      sortCols = Seq("k", "v"), statsCols = Seq("k", "v"), zOrder = true)
    // later snapshots: a schema-evolving append and a CoW delete
    ManifestTable.append(spark, path, (4001 to 4100)
      .map(i => (i.toLong, i % 1000L, s"w$i")).toDF("k", "v", "w"),
      files = 1, statsCols = Seq("k", "v"))
    ManifestTable.deleteRange(spark, path, "k", 1000L, 3000L,
      statsCols = Seq("k", "v"))
    val v1 = ManifestTable.read(spark, path, version = Some(1L))
    val rows1 = v1.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def emptyTyped(df: org.apache.spark.sql.DataFrame): Unit = {
      assert(df.schema === v1.schema)
      assert(df.queryExecution.optimizedPlan match {
        case l: LocalRelation => l.data.isEmpty
        case _                => false
      }, df.queryExecution.optimizedPlan.toString)
      assert(df.count() === 0L)
    }
    emptyTyped(ManifestTable.readRange(spark, path, "k", 5000000L,
      6000000L, version = Some(1L)))
    emptyTyped(ManifestTable.readBox(spark, path, "k", 1L, 4000L,
      "v", 5000L, 6000L, version = Some(1L)))
    val entries1 = ManifestTable.filesDf(spark, path, version = Some(1L))
      .filter(col("stat_col") === "k").collect()
      .map(r => (r.getLong(3), r.getLong(4)))
    val hit = entries1.count { case (lo, hi) => hi >= 1L && lo <= 500L }
    assert(hit > 0 && hit < entries1.length, entries1.toSeq)
    assert(rowsOf(ManifestTable.readRange(spark, path, "k", 1L, 500L,
      version = Some(1L))) ===
      rows1.filter(r => r._1 >= 1L && r._1 <= 500L).sorted)
    assert(rowsOf(ManifestTable.readBox(spark, path, "k", 1L, 500L,
      "v", 100L, 400L, version = Some(1L))) ===
      rows1.filter(r => r._1 >= 1L && r._1 <= 500L &&
        r._2 >= 100L && r._2 <= 400L).sorted)
  }

  test("countRows(version) equals history()'s n_rows for every retained " +
    "version") {
    val path = freshDir()
    val stats = Seq("k")
    ManifestTable.create(spark, path, part(1, 1000), files = 4,
      sortCols = stats, statsCols = stats)
    ManifestTable.append(spark, path, part(1001, 1300), files = 2,
      statsCols = stats)
    ManifestTable.deleteRange(spark, path, "k", 200L, 450L, statsCols = stats)
    ManifestTable.upsert(spark, path, "k", part(1250, 1400), files = 1,
      statsCols = stats)
    ManifestTable.compact(spark, path, files = 3, sortCols = stats)
    ManifestTable.vacuum(spark, path, keepVersions = 4)
    val h = ManifestTable.history(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(h.keySet === ManifestTable.versions(spark, path).toSet)
    assert(h.keySet === Set(2L, 3L, 4L, 5L))
    h.foreach { case (v, n) =>
      assert(ManifestTable.countRows(spark, path, Some(v)) === n, s"v$v")
      assert(ManifestTable.read(spark, path, version = Some(v)).count() === n)
    }
  }

  test("a publish that loses the rename race to another process is " +
    "retryable: the refused manifest rename is a ConcurrentCommitException " +
    "and the refused tag rename keeps its \"already exists\" refusal") {
    val path = freshDir()
    ManifestTable.create(spark, path, part(1, 100), files = 2)
    LostPublishRaceFs.during(spark) { loseNext =>
      loseNext()
      val e = intercept[ManifestTable.ConcurrentCommitException] {
        ManifestTable.append(spark, path, part(101, 150), files = 1)
      }
      assert(e.getMessage.contains("_manifest.2 already exists"), e.getMessage)
      // the other writer's v2 is current now: a retry re-plans on it;
      // its first attempt loses v3 the same way, its second commits v4
      loseNext()
      assert(ManifestTable.retryOnConflict(2) {
        ManifestTable.append(spark, path, part(151, 160), files = 1)
      } === 4L)
      loseNext()
      val t = intercept[IllegalArgumentException] {
        ManifestTable.tag(spark, path, "train")
      }
      assert(!t.isInstanceOf[ManifestTable.ConcurrentCommitException])
      assert(t.getMessage.contains("tag 'train' already exists"), t.getMessage)
    }
  }
}

/** The table's local FileSystem with scripted lost publish races: once
  * armed, the next rename onto a `_manifest.<n>` or `_tag.<name>` target
  * first copies the staged file there — another writer publishing the
  * same name first — and then delegates, so the local FS sees an
  * existing target. */
class LostPublishRaceFs
    extends org.apache.hadoop.fs.FilterFileSystem(LostPublishRaceFs.local) {
  override def getScheme: String = "file"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    if (dst.getName.matches("""_manifest\.\d+|_tag\..+""") &&
        LostPublishRaceFs.armed.getAndSet(false))
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, getConf)
    super.rename(src, dst)
  }
}

object LostPublishRaceFs {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var local: org.apache.hadoop.fs.FileSystem = _

  /** Run `body` with `file:` paths of the session's Hadoop configuration
    * resolved to an uncached [[LostPublishRaceFs]] over the FileSystem
    * they resolved to before; `body`'s argument arms the next race. */
  def during[T](spark: org.apache.spark.sql.SparkSession)(
      body: (() => Unit) => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    local = org.apache.hadoop.fs.FileSystem.newInstance(
      java.net.URI.create("file:///"), conf)
    conf.set("fs.file.impl", classOf[LostPublishRaceFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body(() => armed.set(true))
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
      armed.set(false)
      local.close()
    }
  }
}
