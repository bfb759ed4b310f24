package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The spec suite runs on the configuration the engine ships, and
  * `GraftSession` is the only place in the program that builds one. */
class SessionConfigSpec extends SparkSpec {

  test("the spec session carries the shipped GraftSession values") {
    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.parquet.compression.codec") == "zstd")
    assert(conf.get("spark.sql.parquet.outputTimestampType") ==
      "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("no program file other than GraftSession builds a SparkSession") {
    val root = Paths.get(GraftSession.repoRoot, "src", "main", "scala")
    val files = Files.walk(root)
    val builders =
      try files.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder()"))
        .map((p: Path) => root.relativize(p).toString)
        .toList.sorted
      finally files.close()
    assert(builders == List("graft/GraftSession.scala"))
  }
}
