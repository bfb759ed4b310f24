package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnalyticsQueries, CoreQueries, DedupQueries,
  JoinQueries, MultimodalQueries, PipelineQueries, StreamQueries,
  TextQueries, WindowQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2) to DataFrame builders over
  * a testdata dir; `oracleSql` carries the DuckDB-equivalent SQL the driver
  * hash-compares against. Keys must match; column names must match.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q5-shaped multi-join rollup (SURVEY.md §2.6 Q16). */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.queries("q16_fact_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 + north-star
    * extensions (text analysis, dedup, similarity). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.queries ++ TextQueries.queries ++ DedupQueries.queries ++
      StreamQueries.queries ++ MultimodalQueries.queries ++
      WindowQueries.queries ++ JoinQueries.queries ++
      PipelineQueries.queries ++ AnalyticsQueries.queries

  /** The gates a sweep main (Bench, Verify) runs: every gate, or with
    * `only` (`SPARK_GRAFT_ONLY=a,b`) those whose name starts with a
    * listed entry. No gate name is a proper prefix of another, so a
    * full name selects exactly its gate and a short id (`p2`) a family. */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY"))
      : Map[String, (SparkSession, String) => DataFrame] = {
    val prefixes = only.map(_.split(",").map(_.trim).filter(_.nonEmpty))
    queries.filter { case (name, _) =>
      prefixes.forall(_.exists(name.startsWith)) }
  }

  /** Timed runs per gate of a sweep main: `SPARK_GRAFT_ITERS`, or
    * `default` when it is unset, not a number or below 1 — a typo must
    * not throw after a long warm-up, and 0 runs would record every gate
    * as failed. */
  def sweepIters(default: Int): Int =
    sys.env.get("SPARK_GRAFT_ITERS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 1).getOrElse(default)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. A literal
    * `{OUT}` in the SQL is expanded by Verify to its output dir — used by
    * two-stage oracles that read an aux fixture (see [[auxOutputs]]). */
  def oracleSql: Map[String, String] =
    CoreQueries.oracleSql ++ TextQueries.oracleSql ++ DedupQueries.oracleSql ++
      StreamQueries.oracleSql ++ MultimodalQueries.oracleSql ++
      WindowQueries.oracleSql ++ JoinQueries.oracleSql ++
      PipelineQueries.oracleSql ++ AnalyticsQueries.oracleSql

  /** Aux fixtures for two-stage oracles: Verify writes each to
    * {outDir}/aux/{name} so hash-seeded intermediates (e.g. SimHash
    * signatures) become DuckDB-readable inputs for the oracle SQL. */
  def auxOutputs: Map[String, (SparkSession, String) => DataFrame] =
    DedupQueries.auxOutputs ++ TextQueries.auxOutputs ++
      MultimodalQueries.auxOutputs
}
