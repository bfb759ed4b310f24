package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * One parquet file per table under `\$dir/`. All reads go through here so
  * schema expectations live in one place. At cluster scale these would be
  * partitioned directories; the API is identical.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 rejects by
      // default; GraftSession.configure reads nanos as LongType, and
      // this truncates them to the microsecond (matching DuckDB's
      // CAST(ts_ns AS TIMESTAMP) truncation).
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (df.schema("ts").dataType == LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}
