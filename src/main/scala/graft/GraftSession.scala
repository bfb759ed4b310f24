package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * Library users call `GraftSession.builder()` (or decorate their own
  * builder via [[configure]]) and get: UTC session timezone (oracle
  * parity), AQE with skew-join handling, zstd parquet output, graft's
  * SQL extensions (cosine_sim), a generated-class cache sized to the
  * engine's working set, and local-mode shuffle parallelism from
  * SPARK_GRAFT_CPUS. On a real cluster, master/memory/shuffle come from
  * spark-submit and everything here still applies.
  *
  * This is the only place the engine configures a session: every main,
  * the spec suite and the benchmark build from [[configure]], so what
  * ships is what is verified, tested and measured.
  */
object GraftSession {

  /** Repo root for committed test fixtures (`fixtures/…`). Resolution:
    * GRAFT_REPO_ROOT env var if set, else the JVM working directory —
    * sbt runs tests/mains from the project root, so fixture-backed
    * gates work from any checkout location, not just /root/repo. */
  lazy val repoRoot: String =
    sys.env.getOrElse("GRAFT_REPO_ROOT", sys.props("user.dir"))

  /** Absolute path of a committed fixture directory/file. */
  def fixture(rel: String): String = s"$repoRoot/fixtures/$rel"

  /** Size of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    *
    * Why: the engine serves the same queries again and again, and each
    * one compiles tens of classes. With 100 entries the cache thrashes,
    * so a warm query pays Janino and the JIT again for code it already
    * compiled: a warm sweep of the 250 gates makes ~2,300 compiles
    * costing ~22 s, with 234 of the 250 gates compiling again on their
    * warm runs. 4,096 is the next power of two above that working set.
    * Measured on graftbench `gate_mix` (4-core box, `local[3]`):
    * codegen compiles per warm pass 96 -> 0, Spark task CPU
    * 1.45 -> 0.70 s and CPU per op 9.2 -> 6.2 s (traced, seed 7,
    * 2,000 entries); CPU per op 10.7 -> 7.9 s and 11.2 -> 8.0 s, op
    * p50 4.6 -> 3.4 s and 4.7 -> 3.0 s, heap after GC unchanged at
    * ~86 MB (untraced, seeds 31 and 32).
    *
    * Condition: this is a static conf that Spark reads ONCE per JVM, in
    * `CodeGenerator`'s static initializer, from the conf of whichever
    * session first runs codegen. It takes effect only if that first
    * session was built through [[configure]] (or sets the same value);
    * a later session cannot resize the cache. */
  val CodegenCacheEntries = 4096

  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.parquet.compression.codec", "zstd")
    // µs-unit parquet timestamps (not INT96/ns): matches what every
    // other engine (DuckDB, arrow) emits, so downstream type-sensitive
    // readers see identical schemas from either side
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)

  /** Local-mode builder (tests, CLIs, single-node runs). */
  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    configure(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
  }

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // extensions config only applies at construction; make the SQL
    // functions available even if an existing session was returned
    plans.GraftExtensions.register(s)
    s
  }
}
