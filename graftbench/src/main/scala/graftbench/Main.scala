package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one closed-loop client, one seed.
  *
  * Usage (normally through run.py, which builds and launches it):
  *   graftbench.Main --workload <etl_monthly|gate_mix|table_churn>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *     --e2e name:unit,... --layers name:unit,... [--corrupt-op <i>]
  *     --testdata <sf0.01 dir>
  *
  * Set-up (`setup_s`) is the measured wall from process start to the
  * first timed op: session start, workload construction, input
  * preparation and the warm-up ops. Ops then run back to back: exactly
  * the workload's [[Workload.timedOps]], or more only if `--seconds` is
  * longer than those take. With `--trace 1` twice as many ops run, half of
  * them traced, so the tracing overhead is measured in the same process.
  * The last stdout line is the result object; the line before it
  * carries the seed, the effective config and every metric with its
  * sample count. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, e2e: Seq[(String, String)],
      layers: Seq[(String, String)], corruptOp: Int, testdata: String)

  /** Task slots: one core fewer than the box (at most 3), so the
    * driver thread, the JIT and the GC do not steal from tasks. On a
    * shared 4-core box that cut the run-to-run spread of gate_mix's
    * CPU per op from 12% to 6%. */
  val Slots: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))

  /** `--corrupt-op` default: no op gets a corrupted expected value. */
  val NoCorruption: Int = Int.MinValue

  private def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    def specs(k: String) = req(k).split(',').toSeq.filter(_.nonEmpty).map { s =>
      val i = s.lastIndexOf(':'); (s.take(i), s.drop(i + 1))
    }
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), specs("e2e"), specs("layers"),
      m.get("corrupt-op").fold(NoCorruption)(_.toInt),
      req("testdata"))
  }

  def session(work: String, slots: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = graft.GraftSession.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The effective config, so a config change shows as a diff here. */
  def config(spark: SparkSession, slots: Int): Seq[(String, Any)] = {
    val c = spark.conf
    Seq(
      "spark_version" -> spark.version,
      "jdk" -> sys.props("java.version"),
      "master" -> spark.sparkContext.master,
      "slots" -> slots,
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "parquet_codec" -> c.get("spark.sql.parquet.compression.codec"),
      "aqe" -> c.get("spark.sql.adaptive.enabled"),
      "session_tz" -> c.get("spark.sql.session.timeZone"),
      "extensions" -> c.get("spark.sql.extensions", ""),
      // the benchmark never calls SweepCache.enable(): every op pays
      // for its own fixtures, as library callers do
      "sweep_cache" -> "off")
  }

  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Live heap after forced GCs. Spark's ContextCleaner frees blocks,
    * shuffles and broadcasts only after the GC that collects their
    * driver-side handles, so GC again until the figure stops falling. */
  private def heapMbAfterGc(): Double = {
    def gcUsed() = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var last = gcUsed()
    var next = gcUsed()
    var rounds = 2
    while (next < last * 0.995 && rounds < 5) {
      last = next; next = gcUsed(); rounds += 1
    }
    next
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    def sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spark = session(a.work, Slots)
    val sessionS = sinceStart
    val rec = new Recorder(() => SparkProbe.poll())
    val wl: Workload = a.workload match {
      case "etl_monthly" => new EtlMonthly(spark, a.seed, a.work, a.corruptOp)
      case "gate_mix"    => new GateMix(spark, a.seed, a.testdata, a.corruptOp)
      case "table_churn" => new TableChurn(spark, a.seed, a.work, a.corruptOp)
      case w             => sys.error(s"unknown workload $w")
    }
    val p0 = System.nanoTime()
    wl.prepare()
    val prepS = (System.nanoTime() - p0) / 1e9
    // the first op after the cold one still ran ~30% slow, so the
    // warm-up includes regular ops too: they are set-up, not samples
    val w0 = System.nanoTime()
    val warmed = rec.op(-1 - Workload.WarmUpOps, warmup = true)(wl.warmUp(rec)) +:
      (-Workload.WarmUpOps until 0).map(i => rec.op(i, warmup = true)(wl.op(i, rec)))
    if (warmed.contains(false)) System.err.println("graftbench: a warm-up op failed")
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sinceStart

    val probe = new SparkProbe(spark)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var attempted, failed = 0
    // process CPU of each op that passed; like an op wall, a failed
    // op's figure is no sample
    val opCpu = mutable.ArrayBuffer.empty[Double]
    val ops = if (a.trace) 2 * wl.timedOps else wl.timedOps
    while (attempted < ops || elapsed < a.seconds) {
      val i = attempted
      attempted += 1
      // traced runs go untraced, traced, traced, untraced, ...: each
      // side gets even and odd ops (table_churn's rounds alternate batch
      // sizes) and early and late ones, so neither biases the overhead
      val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
      if (traced) { probe.start(); rec.tracing = true }
      val cpu0 = cpuSeconds
      if (rec.op(i, warmup = false)(wl.op(i, rec))) opCpu += cpuSeconds - cpu0
      else failed += 1
      if (traced) { probe.stop(); rec.tracing = false }
    }
    val heapMb = heapMbAfterGc()

    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    // each read-call name (a read pass; in gate_mix, one gate) gets its
    // own median, and the metric is the median of those, so it cannot
    // flip between call kinds of different length from run to run
    val readsByName = rec.callsByName(CallKind.Read)
    val readS = med(readsByName.values.map(med).toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_s_p50" -> med(rec.opSeconds.toSeq),
      "read_s_p50" -> readS,
      // CPU is additive and JIT compile work spills from one op into
      // the next, so the mean over the timed ops is steadier than a median
      "cpu_s_per_op" -> (if (opCpu.isEmpty) 0.0 else opCpu.sum / opCpu.size),
      "heap_mb_after_gc" -> heapMb)
    val samples = Map("setup_s" -> 1, "op_s_p50" -> rec.opSeconds.size,
      "read_s_p50" -> readsByName.values.map(_.size).sum, "cpu_s_per_op" -> opCpu.size,
      "heap_mb_after_gc" -> 1)

    val layerValues: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val rep = new TraceReport(rec, probe, Slots)
        val (traced, untraced) = rec.keptOps.zip(rec.opSeconds).toSeq
          .partition { case (i, _) => rec.tracedOps(i) }
        val overhead = med(traced.map(_._2)) - med(untraced.map(_._2))
        val perOp = rec.layer.map { case (k, v) => k -> v / rep.nOps.max(1) }
        rep.layers ++ perOp ++ wl.layerExtras(rec) ++ Map(
          "trace.overhead_s" -> overhead,
          "trace.overhead_frac" -> (if (untraced.isEmpty) 0.0 else overhead / med(untraced.map(_._2))),
          "trace.ops" -> rep.nOps.toDouble)
      }

    val summary = wl.summary(rec)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "config" -> mutable.LinkedHashMap(config(spark, Slots): _*),
      "setup_parts_s" -> Map("session" -> sessionS,
        "prepare" -> prepS, "warmup" -> warmS),
      "attempted" -> attempted, "failed" -> failed,
      "fail_frac" -> failed.toDouble / attempted,
      "op_samples_s" -> rec.opSeconds.toSeq,
      "op_cpu_samples_s" -> opCpu.toSeq,
      "end_to_end" -> a.e2e.map { case (n, u) =>
        n -> Map("value" -> e2e.getOrElse(n, 0.0), "unit" -> u,
          "n" -> samples.getOrElse(n, 0)) }.toMap,
      "summary" -> summary.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    if (a.trace) report("per_layer") = layerValues.toSeq.sortBy(_._1).toMap
    val reportJson = Json.render(report)
    Files.write(new File(a.work, "report.json").toPath,
      reportJson.getBytes(StandardCharsets.UTF_8))
    if (a.trace) writeSpans(rec, new File(a.work, "spans.json"))
    println(s"graftbench report $reportJson")

    val chosen = if (a.trace) a.layers.map { case (n, u) =>
      n -> Map("value" -> layerValues.getOrElse(n, 0.0), "unit" -> u) }
    else a.e2e.map { case (n, u) =>
      n -> Map("value" -> e2e.getOrElse(n, 0.0), "unit" -> u) }
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> mutable.LinkedHashMap(chosen: _*))
    spark.stop()
    println(Json.render(result))
    System.out.flush()
    sys.exit(0) // no lingering non-daemon thread may keep the JVM alive
  }

  private def writeSpans(rec: Recorder, f: File): Unit = {
    val rows = rec.spans.map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "probe" -> s.probe,
        "start_ms" -> rec.epochMs(s.startNs),
        "end_ms" -> rec.epochMs(s.endNs), "self" -> s.self.toMap)
    }
    Files.write(f.toPath, Json.render(rows).getBytes(StandardCharsets.UTF_8))
  }
}
