package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
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
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_.toString.contains(marker))) {
        assert(System.nanoTime < deadline, "listener never saw the marker")
        Thread.sleep(20)
      }
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq.filter(_.toString.contains(tag))
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
