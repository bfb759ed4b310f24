package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters for the traced run: a `SparkListener` for
  * jobs, stages, tasks and their metrics, a `QueryExecutionListener`
  * for Catalyst's planning phases, and polled process-wide counters
  * (codegen compiles, files discovered, JVM GC time). Events carry
  * their epoch-millisecond time so they can be attributed to the
  * innermost span open at that moment. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe.{Point, Task}

  val tasks = new ConcurrentLinkedQueue[Task]()
  val points = new ConcurrentLinkedQueue[Point]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      points.add(Point("job", e.time, 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      points.add(Point("stage", e.stageInfo.submissionTime
        .getOrElse(System.currentTimeMillis()), 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.fold(0L)(f)
      tasks.add(Task(i.launchTime, i.finishTime,
        g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
        g(_.shuffleWriteMetrics.bytesWritten),
        g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
        g(_.diskBytesSpilled), g(_.inputMetrics.bytesRead),
        g(_.outputMetrics.bytesWritten), g(_.outputMetrics.recordsWritten),
        e.reason != TaskSuccess))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => points.add(Point("sql", s.time, 1))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        points.add(Point("plan", start, ph.values.map(_.durationMs).sum / 1e3))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}

object SparkProbe {
  final case class Task(launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, input: Long, output: Long, outputRows: Long,
      failed: Boolean)
  /** A point event: kind in job | stage | sql | plan, with a value. */
  final case class Point(kind: String, ms: Long, value: Double)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def jvmGcSeconds: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Process-wide counters polled at span boundaries. */
  def poll(): Map[String, Double] = Map(
    "spark.codegen_compiles" ->
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "spark.files_discovered" ->
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "jvm.gc_s" -> jvmGcSeconds)
}
