package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def refInterleave(a: Long, b: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | ((a >> i & 1L) << (2 * i)) | ((b >> i & 1L) << (2 * i + 1))
    }

  test("zValue matches a bit-twiddling reference on sample points") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L),
      (12345L, 54321L), (65536L, 1L)) // 65536 masks to 0 at 16 bits
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (a, b, z) =>
      assert(z === refInterleave(a & 0xFFFFL, b & 0xFFFFL, 16), s"($a,$b)")
    }
    // locality: z of (1,0)=1, (0,1)=2, (1,1)=3 — unit box fills first
    assert(refInterleave(1, 1, 16) === 3L)
  }

  test("zValueSql: DuckDB-form arithmetic equals the Column form") {
    val df = spark.range(1000).select(
      (col("id") * 7919 % 4096).as("a"), (col("id") * 104729 % 4096).as("b"))
    val viaSql = df.selectExpr(
      s"CAST(${ZOrder.zValueSql("a", "b")} AS BIGINT) AS z")
      .collect().map(_.getLong(0))
    val viaCol = df.select(ZOrder.zValue(col("a"), col("b")).cast("long"))
      .collect().map(_.getLong(0))
    assert(viaSql.toSeq === viaCol.toSeq)
  }

  test("writeZOrdered contracts per-file ranges in BOTH dimensions") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val base = tempDir("zorder").toString
    // natural layout: same file count, same within-file sort discipline,
    // but clustered by arrival (orderkey) — the fair baseline
    li.repartitionByRange(16, col("l_orderkey"))
      .write.mode("overwrite").parquet(s"$base/natural")
    ZOrder.writeZOrdered(li, "l_partkey", "l_suppkey", s"$base/zorder", 16)

    def meanWidth(path: String, c: String): Double =
      ZOrder.fileRanges(spark.read.parquet(path), c)
        .agg(avg(col("width"))).head().getDouble(0)

    val rows = spark.read.parquet(s"$base/zorder").count()
    assert(rows === li.count())
    // per dimension: k files over 2 dims contract each dim ~sqrt(k) in
    // the uniform ideal — assert the direction with margin, and the
    // 2-D AREA (what a box predicate actually prunes against) by >= 4x
    var area = (1.0, 1.0)
    for (c <- Seq("l_partkey", "l_suppkey")) {
      val nat = meanWidth(s"$base/natural", c)
      val z = meanWidth(s"$base/zorder", c)
      assert(z * 1.3 < nat, s"$c: z-order mean width $z vs natural $nat")
      area = (area._1 * nat, area._2 * z)
    }
    assert(area._2 * 4 < area._1,
      s"area: z-order ${area._2} vs natural ${area._1}")
  }

  test("boxFiles: a box query on the z-ordered layout skips most files " +
      "and loses no rows") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")
    val dir = tempDir("zbox").toString
    ZOrder.writeZOrdered(li, "l_partkey", "l_suppkey", dir, 16)
    val written = spark.read.parquet(dir)
    val index = ZOrder.statsIndex(written, "l_partkey", "l_suppkey")
      .cache()
    val (lo1, hi1, lo2, hi2) = (10L, 30L, 2L, 5L)
    val files = ZOrder.boxFiles(index, lo1, hi1, lo2, hi2)
    // pruning: the box covers ~10% of partkey range x ~40% of suppkey
    // range; the z-layout must confine it to a minority of the 16 files
    assert(files.nonEmpty && files.length <= 8,
      s"read ${files.length} of 16 files")
    // correctness: pruned read + exact predicate == full-scan filter
    val boxPred = col("l_partkey").between(lo1, hi1) &&
      col("l_suppkey").between(lo2, hi2)
    val pruned = spark.read.parquet(files: _*).filter(boxPred).count()
    val full = written.filter(boxPred).count()
    assert(pruned === full && full > 0)
  }

  test("fileRanges accounts for every row") {
    val dir = tempDir("zr").toString
    spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    val fr = ZOrder.fileRanges(spark.read.parquet(dir), "id")
    assert(fr.agg(sum("rows")).head().getLong(0) === 100L)
  }
}
