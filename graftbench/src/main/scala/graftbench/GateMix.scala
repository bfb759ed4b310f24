package graftbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._

/** Read-side gates from `SparkEntry.queries` over the read-only sf0.01
  * tables. One op is one pass over [[GateMix.gates]] in an order the
  * seed and op id permute. Each gate is fully materialized through the
  * noop sink (every column evaluated; `.count()` would let Catalyst prune
  * unread columns) and its row count and column names and type classes
  * are checked against the DuckDB oracle's, precomputed by oracle.py
  * into gate_expect.tsv.
  *
  * Many small jobs: Spark's per-job constant, planning and codegen
  * dominate here and not in etl_monthly. The gates come from the four
  * groups of a 27-gate candidate list: job-heavy (g03, 33 jobs),
  * noop-heavy (d13: materializing costs far more than `.count()`), LLM
  * pipeline (p09) and BI (e02). At sf0.1 the four cheapest picks still
  * took 9 s a pass and 22 s cold on four slots, too long to repeat a
  * pass within one run; at sf0.01 a warm pass takes about 4 s and the
  * per-job constant dominates even more. The ManifestTable gates
  * (p17-p33) are excluded because table_churn measures that layer. */
final class GateMix(spark: SparkSession, seed: Long, testdata: String,
    corruptOp: Int) extends Workload {

  private val expect: Map[String, GateMix.Expect] = GateMix.loadExpect()
  private val fns = GateMix.gates.map(g => g -> graft.SparkEntry.queries(g)).toMap

  def prepare(): Unit = {
    require(new java.io.File(testdata, "lineitem.parquet").isFile,
      s"gate_mix needs the sf0.01 tables in $testdata")
    GateMix.gates.foreach(g => require(expect.contains(g), s"no oracle expectation for $g"))
  }

  /** Each pass compiles ~90 codegen classes, and the JIT keeps
    * compiling Spark's planner and those classes for many passes: CPU
    * per pass fell from 13 to 7 s over the first eight after the cold
    * run, most of it JIT compile time (8.5 s a pass, then 3 s), which
    * spills across pass boundaries. With two timed passes, CPU per op
    * spread by up to 0.21 across ten runs; with four, averaged, by
    * about 0.08. */
  override val timedOps: Int = 4

  def order(i: Int): Seq[String] =
    new scala.util.Random(seed * 7919L + i).shuffle(GateMix.gates)

  /** The gates' first runs are dominated by class loading and codegen
    * (about three times a warm pass); running them side by side
    * overlaps that single-threaded work. Checks still apply, and no
    * setting the session had may come out changed (a gate that flips a
    * setting around its body would race with its neighbours). */
  override def warmUp(rec: Recorder): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val conf = spark.conf.getAll
    val runs = GateMix.gates.map(g => Future(check(g, -2, materialize(g, fns(g)(spark, testdata)))))
    runs.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    val after = spark.conf.getAll
    require(conf.forall { case (k, v) => after.get(k).contains(v) },
      "gate_mix warm-up changed a session setting")
  }

  /** Evaluate every column through the noop sink; (schema, row count). */
  private def materialize(g: String, df: DataFrame): (StructType, Long) = {
    val obs = Observation(s"graftbench_$g")
    df.observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    (df.schema, obs.get("rows").asInstanceOf[Long])
  }

  private def check(g: String, i: Int, got: (StructType, Long)): Unit = {
    val exp = expect(g)
    Check.equal(s"$g rows", got._2, if (i == corruptOp) exp.rows + 1 else exp.rows)
    Check.equal(s"$g columns", GateMix.columns(got._1), exp.columns)
  }

  def op(i: Int, rec: Recorder): Unit =
    order(i).foreach { g =>
      val got = rec.call(CallKind.Read, s"queries.${GateMix.family(g)}") {
        val df = rec.span("queries.build")(fns(g)(spark, testdata))
        rec.span("queries.run")(materialize(g, df))
      }
      check(g, i, got)
    }
}

object GateMix {
  /** job-heavy, noop-heavy, LLM pipeline, BI. */
  val gates: Seq[String] = Seq("g03_bfs_layers", "d13_fuzzy_join",
    "p09_curate_e2e", "e02_session_counts")

  /** Gate family: the letters before the gate number. */
  def family(g: String): String = g.takeWhile(_.isLetter)

  final case class Expect(rows: Long, columns: Seq[(String, String)])

  /** Columns as (lower-case name, type class), sorted by name, in the
    * classes oracle.py gives DuckDB's types. */
  def columns(s: StructType): Seq[(String, String)] =
    s.fields.map(f => f.name.toLowerCase -> typeClass(f.dataType)).toSeq.sorted

  def typeClass(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType => "float"
    case d: DecimalType => s"decimal(${d.scale})"
    case StringType | _: VarcharType | _: CharType => "string"
    case BooleanType => "bool"
    case DateType => "date"
    case TimestampType | TimestampNTZType => "timestamp"
    case _: ArrayType => "list"
    case _: StructType => "struct"
    case _: MapType => "map"
    case BinaryType => "binary"
    case other => other.simpleString
  }

  /** gate_expect.tsv: gate, oracle row count, then name:class columns. */
  def loadExpect(): Map[String, Expect] = {
    val in = getClass.getResourceAsStream("/gate_expect.tsv")
    require(in != null, "gate_expect.tsv is not on the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split('\t')
        f(0) -> Expect(f(1).toLong, f.drop(2).toSeq.map { c =>
          val i = c.lastIndexOf(':'); (c.take(i), c.drop(i + 1))
        }.sorted)
      }.toMap
    finally in.close()
  }
}
