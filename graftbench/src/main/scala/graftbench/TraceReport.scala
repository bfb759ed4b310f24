package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Folds the traced ops' spans and Spark events into per-op layer
  * values. Every Spark event is attributed to the innermost span of its
  * op that was open at the event's time; `spark.*` and `jvm.*` values
  * are per-op totals, span-named values are the spans' wall (or jobs)
  * per op. Events inside a probe span (work the benchmark adds to time a
  * layer) count in no total, and probe time counts in no op wall of
  * `spark.idle_s` or `spark.busy_frac`. */
final class TraceReport(rec: Recorder, probe: SparkProbe, slots: Int) {
  private val ops: Seq[Int] = rec.keptOps.filter(rec.tracedOps).toSeq
  private val byOp: Map[Int, Seq[rec.Span]] =
    rec.spans.filter(s => ops.contains(s.op)).toSeq.groupBy(_.op)
  private val byId: Map[Int, rec.Span] =
    byOp.values.flatten.map(s => s.id -> s).toMap

  val nOps: Int = ops.size

  private def startMs(s: rec.Span) = rec.epochMs(s.startNs)
  private def endMs(s: rec.Span) = rec.epochMs(s.endNs)

  private def opSpan(i: Int): rec.Span = byOp(i).find(_.name == "op").get

  /** The op and innermost span open at `ms`, if any traced op was. */
  private def innermost(ms: Double): Option[rec.Span] =
    ops.iterator.map(opSpan).find(o => startMs(o) <= ms && ms <= endMs(o))
      .map { o =>
        byOp(o.op).filter(s => startMs(s) <= ms && ms <= endMs(s))
          .maxBy(_.startNs)
      }

  private def ancestors(s: rec.Span): Iterator[rec.Span] =
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent)))
      .takeWhile(_.isDefined).map(_.get)

  private def inProbe(s: rec.Span): Boolean = ancestors(s).exists(_.probe)

  /** The innermost span at `ms`, unless it lies in a probe span. */
  private def counted(ms: Double): Option[rec.Span] =
    innermost(ms).filterNot(inProbe)

  private val tasks = probe.tasks.asScala.toSeq
  private val points = probe.points.asScala.toSeq

  /** Per-op values; callers divide nothing further. */
  def layers: Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    if (nOps == 0) return out.toMap
    def add(k: String, v: Double) = out(k) += v / nOps

    val spanTasks = tasks.flatMap(t => counted(t.finishMs.toDouble).map(_ -> t))
    spanTasks.foreach { case (_, t) =>
      add("spark.tasks", 1)
      add("spark.task_run_s", t.runMs / 1e3)
      add("spark.task_cpu_s", t.cpuNs / 1e9)
      add("spark.task_gc_s", t.gcMs / 1e3)
      add("spark.shuffle_write_mb", t.shuffleWrite / 1e6)
      add("spark.shuffle_read_mb", t.shuffleRead / 1e6)
      add("spark.spill_mb", t.spill / 1e6)
      add("spark.input_mb", t.input / 1e6)
      add("spark.output_mb", t.output / 1e6)
      add("spark.output_rows", t.outputRows.toDouble)
      if (t.failed) add("spark.task_failures", 1)
    }
    val spanPoints = points.flatMap(p => counted(p.ms.toDouble).map(_ -> p))
    spanPoints.foreach { case (s, p) =>
      p.kind match {
        case "job" =>
          add("spark.jobs", 1)
          ancestors(s).find(a => isFamily(a.name))
            .foreach(f => add(s"${f.name}.jobs", 1))
        case "stage" => add("spark.stages", 1)
        case "sql"   => add("spark.sql_execs", 1)
        case "plan"  => add("spark.planning_s", p.value)
        case _       =>
      }
    }
    var wall, opWall, idle, uncovered = 0.0
    ops.foreach { i =>
      val o = opSpan(i)
      val (lo, hi) = (startMs(o), endMs(o))
      opWall += (hi - lo) / 1e3
      val probeMs = union(byOp(i).filter(_.probe).map(s => (startMs(s), endMs(s))))
      wall += (hi - lo - probeMs) / 1e3
      val busy = union(spanTasks.map(_._2)
        .map(t => (t.launchMs.toDouble max lo, t.finishMs.toDouble min hi))
        .filter { case (a, b) => b > a })
      idle += (hi - lo - probeMs - busy) / 1e3
      val children = byOp(i).filter(_.parent == o.id)
      uncovered += (hi - lo - union(children.map(c => (startMs(c), endMs(c))))) / 1e3
      byOp(i).foreach { s =>
        if (!inProbe(s)) s.self.foreach { case (k, v) => add(k, v) }
        if (s.name != "op") {
          val key = if (isFamily(s.name)) s"${s.name}.s" else s"${s.name}_s"
          add(key, s.seconds)
        }
      }
    }
    add("spark.idle_s", idle)
    out("spark.busy_frac") =
      spanTasks.map(_._2.runMs / 1e3).sum / (wall * slots)
    out("trace.uncovered_frac") = uncovered / opWall
    out.toMap
  }

  private def isFamily(name: String) =
    name.startsWith("queries.") && name.count(_ == '.') == 1 &&
      !Set("queries.build", "queries.run")(name)

  /** Total length of the union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total, curLo, curHi = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curHi) {
        if (open) total += curHi - curLo
        curLo = a; curHi = b; open = true
      } else curHi = curHi max b
    }
    if (open) total += curHi - curLo
    total
  }
}
