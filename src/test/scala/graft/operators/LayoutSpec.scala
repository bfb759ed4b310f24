package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  // pseudo-random keys over a wide domain, hash-scattered arrival order
  private def corpus = (1 to 10000)
    .map(i => ((i * 2654435761L) % 100000L, i.toLong)).toDF("k", "v")

  test("writeRangeClustered is content-transparent and yields narrow, " +
    "near-disjoint per-file key spans (hash layout does not)") {
    val path = tempDir("clustered").toString
    Layout.writeRangeClustered(corpus, Seq("k"), path, files = 8)
    val back = spark.read.parquet(path)
    // content contract: nothing lost, duplicated, or altered
    assert(back.count() === 10000L)
    assert(back.agg(sum("v")).head().getLong(0) ===
      (1 to 10000).map(_.toLong).sum)
    // layout contract: Σ per-file span ≈ global span (files own
    // near-disjoint slices). A hash-scattered layout has every file
    // spanning ~the whole domain, Σ spans ≈ files × global.
    def spanStats(p: String): (Long, Long, Int) = {
      val spans = Layout.fileSpans(spark.read.parquet(p), "k")
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      val global = spans.map(_._2).max - spans.map(_._1).min
      (spans.map(s => s._2 - s._1).sum, global, spans.length)
    }
    val (sumSpan, global, nFiles) = spanStats(path)
    assert(nFiles >= 2, s"want multiple files, got $nFiles")
    assert(sumSpan <= (global * 1.2).toLong,
      s"clustered layout not disjoint: Σ spans $sumSpan vs global $global")
    // contrast: the same data written hash-scattered
    val scattered = tempDir("hash").toString
    corpus.repartition(8).write.mode("overwrite").parquet(scattered)
    val (sumScat, globScat, _) = spanStats(scattered)
    assert(sumScat > globScat * 4,
      s"expected scattered spans to overlap heavily: $sumScat vs $globScat")
  }

  test("compact: in-place swap preserves content, hits the file target, " +
    "clusters when asked, and leaves no backup dirs") {
    val path = tempDir("compact").toString
    corpus.repartition(16).write.mode("overwrite").parquet(path)
    assert(new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet")) >= 16)
    Layout.compact(spark, path, files = 2, sortCols = Seq("k"))
    val back = spark.read.parquet(path)
    assert(back.count() === 10000L)
    assert(back.agg(sum("v")).head().getLong(0) ===
      (1 to 10000).map(_.toLong).sum)
    assert(new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet")) === 2)
    // clustered: the two files own near-disjoint key slices
    val spans = Layout.fileSpans(back, "k").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    val global = spans.map(_._2).max - spans.map(_._1).min
    assert(spans.map(s => s._2 - s._1).sum <= (global * 1.2).toLong)
    // swap hygiene: neither staging nor backup dir survives
    assert(!new java.io.File(path + "_compacting").exists())
    assert(!new java.io.File(path + "_precompact").exists())
  }

  test("compact refuses after a half-finished swap instead of deleting " +
    "the only remaining copies") {
    // crash-between-renames state: live dir moved aside to _precompact,
    // new dir never installed — _precompact is the ONLY copy. A re-run
    // must refuse (not clean up the backup and then fail on the read).
    val path = tempDir("compactcr").toString
    corpus.repartition(4).write.mode("overwrite").parquet(path)
    val live = new java.io.File(path)
    val bak = new java.io.File(path + "_precompact")
    assert(live.renameTo(bak))
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, path, files = 2)
    }
    assert(e.getMessage.contains("_precompact"))
    // the backup survived the refusal — restore works
    assert(bak.renameTo(live))
    assert(spark.read.parquet(path).count() === 10000L)
    // a missing live dir without a backup also refuses loudly
    val ghost = tempDir("ghost").toString
    assert(new java.io.File(ghost).delete())
    val e2 = intercept[IllegalArgumentException] {
      Layout.compact(spark, ghost, files = 2)
    }
    assert(e2.getMessage.contains("does not exist"))
  }

  test("compact normalizes a trailing-slash path (staging dirs are " +
    "siblings, never children of the live table)") {
    val path = tempDir("compactsl").toString
    corpus.repartition(4).write.mode("overwrite").parquet(path)
    Layout.compact(spark, path + "/", files = 2, sortCols = Seq("k"))
    assert(spark.read.parquet(path).count() === 10000L)
    assert(!new java.io.File(path + "_compacting").exists())
    assert(!new java.io.File(path, "_compacting").exists())
  }
}
