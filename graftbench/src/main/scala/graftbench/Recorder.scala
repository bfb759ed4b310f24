package graftbench

import scala.collection.mutable

/** Times the library calls of each op and keeps the trace spans.
  *
  * Spans (name, start, end, parent, op id) are kept in memory for the
  * whole run and written out at the end. Timings of an op are staged
  * and only kept when the op passes all its checks, so a failed op
  * lands in `failed`, never in a timing. With `tracing` on, polled
  * JVM-wide counters (codegen compiles, files discovered, GC time) are
  * attributed to the innermost open span at each span boundary. */
final class Recorder(poll: () => Map[String, Double]) {
  final class Span(val id: Int, val parent: Int, val op: Int,
      val name: String, val startNs: Long, val probe: Boolean) {
    var endNs: Long = -1L
    val self: mutable.Map[String, Double] = mutable.Map.empty
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var tracing = false
  /** Ids of kept ops that ran with tracing on. */
  val tracedOps = mutable.Set.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val epoch0Ms = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** A span time on the epoch-millisecond clock Spark's events use. */
  def epochMs(ns: Long): Double = epoch0Ms + (ns - nano0) / 1e6
  private val stack = mutable.Stack.empty[Span]
  private var lastPoll: Map[String, Double] = Map.empty
  private var currentOp = -1

  /** Kept samples: op walls, call walls by kind, per-op layer values. */
  val opSeconds = mutable.ArrayBuffer.empty[Double]
  /** Kept call walls by kind and call name. */
  val callSeconds = mutable.Map.empty[(CallKind, String), mutable.ArrayBuffer[Double]]
  /** Per-op values summed over kept traced ops, and over all kept ops. */
  val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Ops kept, and their ids (for trace attribution). */
  val keptOps = mutable.ArrayBuffer.empty[Int]

  private val pendingCalls = mutable.ArrayBuffer.empty[((CallKind, String), Double)]
  private val pendingLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def attributePolled(): Unit = if (tracing) {
    val now = poll()
    stack.headOption.foreach { s =>
      now.foreach { case (k, v) =>
        val d = v - lastPoll.getOrElse(k, v)
        if (d != 0) s.self(k) = s.self.getOrElse(k, 0.0) + d
      }
    }
    lastPoll = now
  }

  def span[T](name: String)(body: => T): T = open(name, probe = false)(body)

  /** A span around work the benchmark adds to a traced op to time a
    * layer (a pipeline prefix forced through the noop sink). Its Spark
    * events are left out of the `spark.*` totals, which count only what
    * the program itself runs. */
  def probe[T](name: String)(body: => T): T = open(name, probe = true)(body)

  private def open[T](name: String, probe: Boolean)(body: => T): T = {
    attributePolled()
    val s = new Span(spans.length, stack.headOption.fold(-1)(_.id),
      currentOp, name, System.nanoTime(), probe)
    spans += s
    stack.push(s)
    try body
    finally {
      attributePolled()
      s.endNs = System.nanoTime()
      stack.pop()
    }
  }

  /** A timed library call: a span plus a read- or write-side sample. */
  def call[T](kind: CallKind, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    pendingCalls += (((kind, name), (System.nanoTime() - t0) / 1e9))
    r
  }

  /** Add to a per-op layer value (kept only if the op passes). */
  def add(name: String, v: Double): Unit = pendingLayer(name) += v

  /** Run one op; true when it passed every check. */
  def op(i: Int, warmup: Boolean)(body: => Unit): Boolean = {
    currentOp = i
    pendingCalls.clear(); pendingLayer.clear()
    if (tracing) lastPoll = poll()
    val t0 = System.nanoTime()
    val ok =
      try { span("op")(body); true }
      catch {
        case e: CheckFailed =>
          System.err.println(s"graftbench: op $i failed a check: ${e.getMessage}")
          false
        case e: Exception =>
          System.err.println(s"graftbench: op $i threw: $e")
          false
      }
    val secs = (System.nanoTime() - t0) / 1e9
    if (ok && !warmup) {
      opSeconds += secs
      keptOps += i
      if (tracing) tracedOps += i
      pendingCalls.foreach { case (k, s) =>
        callSeconds.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += s
      }
      pendingLayer.foreach { case (k, v) =>
        totals(k) += v
        if (tracing) layer(k) += v
      }
    }
    currentOp = -1
    ok
  }

  def calls(kind: CallKind): Seq[Double] = callsByName(kind).values.flatten.toSeq

  /** Kept call walls of one kind, by call name. */
  def callsByName(kind: CallKind): Map[String, Seq[Double]] =
    callSeconds.collect { case ((k, n), xs) if k == kind => n -> xs.toSeq }.toMap
}
