package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the shipped cache size, so specs run with the same codegen
      // reuse as the engine (see GraftSession.CodegenCacheEntries)
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheEntries.toLong)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
