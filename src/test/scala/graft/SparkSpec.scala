package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** This suite's parent of every [[tempDir]]; made on first use. */
  private var tempRoot: Option[Path] = None

  /** A new empty directory named `<prefix><random>` for a test's files.
    * It lives under this suite's own parent directory, which [[afterAll]]
    * deletes recursively — so a test may also delete the directory to
    * get a path that does not exist yet (a table path to create) and
    * whatever it writes there is still removed. */
  protected def tempDir(prefix: String): Path = synchronized {
    val root = tempRoot.getOrElse {
      val r = Files.createTempDirectory("graft-spec-")
      tempRoot = Some(r)
      r
    }
    Files.createTempDirectory(root, prefix)
  }

  /** The optimized plans of the queries `body` ran whose text contains
    * `tag`. A marker query after `body` flushes the listener bus:
    * listener events arrive in order, so once the marker is seen every
    * earlier one is. */
  protected def plansOf(tag: String)(body: => Unit): Seq[LogicalPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.optimizedPlan)
    }
    val marker = s"plan-marker-${java.util.UUID.randomUUID}"
    spark.listenerManager.register(listener)
    try {
      body
      spark.sql(s"SELECT '$marker'").collect()
      awaitMarker(seen.asScala.exists(_.toString.contains(marker)))
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filter(_.toString.contains(tag))
  }

  /** The number of Spark jobs `body` started. Marker jobs before and
    * after `body` bound the count on the listener bus, as in [[plansOf]]:
    * events arrive in order, so the jobs seen between the two markers
    * are exactly the jobs started between them. */
  protected def jobsDuring(body: => Unit): Int = {
    val id = java.util.UUID.randomUUID
    val (open, close) = (s"jobs-open-$id", s"jobs-close-$id")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    def markerJob(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      markerJob(open)
      body
      markerJob(close)
      awaitMarker(started.contains(close))
    } finally sc.removeSparkListener(listener)
    val seen = started.asScala.toSeq
    seen.indexOf(close) - seen.indexOf(open) - 1
  }

  /** Waits up to 60 s for a listener to have seen a marker. */
  private def awaitMarker(seen: => Boolean): Unit = {
    val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (!seen) {
      assert(System.nanoTime < deadline, "listener never saw the marker")
      Thread.sleep(20)
    }
  }

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    try tempRoot.foreach(r => FileUtils.deleteQuietly(r.toFile))
    finally super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the shipped configuration (GraftSession.configure) over a fixed
    // local[4], so specs test what the engine ships and benchmarks
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
