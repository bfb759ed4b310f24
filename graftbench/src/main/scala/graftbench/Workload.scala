package graftbench

/** A check on a program output failed: the op counts as failed and its
  * timings are discarded. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def equal[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, want $want")
}

/** Kind of a timed library call inside an op. */
sealed trait CallKind
object CallKind {
  case object Read extends CallKind
  case object Write extends CallKind
}

/** One closed-loop workload. [[Main]] calls [[prepare]] once, then
  * [[warmUp]], [[Workload.WarmUpOps]] regular ops with negative ids to
  * finish warming up, and `op(0)`, `op(1)`, ... to measure.
  * `op` throws on any failed check. */
trait Workload {
  def prepare(): Unit
  def op(i: Int, rec: Recorder): Unit
  /** Run everything an op runs once, so classes load, codegen caches
    * fill and the JIT compiles before timing starts. */
  def warmUp(rec: Recorder): Unit = op(-1 - Workload.WarmUpOps, rec)
  /** Summary values for the human-readable report (not bounded). */
  def summary(rec: Recorder): Seq[(String, Double, String)] = Nil
  /** Workload-level per-layer values measured once per run. */
  def layerExtras(rec: Recorder): Map[String, Double] = Map.empty
  /** Timed ops per run: a constant of the workload, never a function
    * of the op's speed. */
  def timedOps: Int = Workload.TimedOps
}

object Workload {
  /** Regular ops run after the warm-up and before timing starts. */
  val WarmUpOps = 1
  /** Timed ops per run unless a workload fixes another count, whatever
    * `--seconds` and the op's speed: with `run_seconds` well below two
    * ops the window never adds an op, so a faster program is sampled
    * the same way as a slower one. */
  val TimedOps = 2
  /** Read passes in a timed op (warm-up ops make one). A read pass is
    * every read-side call of the op, once; its median over a run's
    * passes is `read_s_p50`. Timing the whole pass, not single calls,
    * keeps the median from flipping between call kinds. */
  val ReadPasses = 3

  def readPasses(op: Int): Int = if (op < 0) 1 else ReadPasses
}
