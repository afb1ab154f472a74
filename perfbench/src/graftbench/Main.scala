package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** A correctness check. `run(corrupt)` returns the failure, if any; with
  * `corrupt = true` it checks against a deliberately wrong expectation and
  * must fail. Every run does both; the self-test asserts the second, so no
  * check passes vacuously. */
final case class Check(name: String, run: Boolean => Option[String])

/** What a workload measured: end-to-end metrics (untraced figures),
  * per-layer metrics (traced run only), the operation counts and checks. */
final class Result {
  val endToEnd = ArrayBuffer[Metric]()
  val perLayer = ArrayBuffer[Metric]()
  val detail = ArrayBuffer[Metric]()
  val checks = ArrayBuffer[Check]()
  var attempted = 0L
  var failed = 0L
}

/** Everything a workload needs: the session, its inputs' seed, the run
  * length, and the data root (the timing LogStore is routed on it). */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val traced: Boolean,
                val root: String, val cores: Int, jvmStartNs: Long) {
  val res = new Result
  val listener: Option[SpanListener] =
    if (traced) Some(new SpanListener) else None
  var windowStartNs = 0L
  var windowEndNs = 0L
  private var gcAtStart = 0L

  /** Wait until the Spark listener has seen every event posted so far: run
    * a marker job and wait for its end event (the bus delivers in order). */
  def drainListener(): Unit = listener.foreach { l =>
    spark.sparkContext.setJobGroup("graftbench-marker", "marker", false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    def seen = l.jobs.values.asScala.exists(j => j.op == "other" && j.endMs >= 0 &&
      j.startMs * 1000000L - Trace.clockOffsetNs > windowEndNs)
    while (!seen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def startWindow(at: Long = System.nanoTime()): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    gcAtStart = gcMs()
    windowStartNs = at
  }

  def endWindow(): Unit = {
    windowEndNs = System.nanoTime()
    val secs = windowSeconds
    res.detail += Metric("jvm.gc_ms_per_s", (gcMs() - gcAtStart) / secs, "ms/s")
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    res.detail += Metric("jvm.heap_used_peak_mb", heapPeak / 1e6, "MB")
  }

  /** Progress line on stderr, timed from JVM start. */
  def progress(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.nanoTime() - jvmStartNs) / 1e9}%.1f s")

  def windowSeconds: Double = (windowEndNs - windowStartNs) / 1e9
  def inWindow(ns: Long): Boolean = ns >= windowStartNs && ns <= windowEndNs

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}

trait Workload {
  /** Build the inputs and streams, start what runs beside the timed loop,
    * and warm up. Everything here counts as set-up time. */
  def setup(ctx: Ctx): Unit
  /** The timed window; fills the end-to-end figures and the checks. */
  def measure(ctx: Ctx): Unit
  /** Stop what setup started. */
  def stop(ctx: Ctx): Unit = ()
}

/** Benchmark entry point (one workload, one seed, one run). Launched by
  * perfbench/run.py, which builds the classpath and reads the result file.
  *
  *   graftbench.Main --workload ingest|tail|pipeline --seed N --seconds S
  *                   --trace 0|1 --work DIR --result FILE
  */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // README deployment note: leaf splits for compressed payload scans
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // report every idle trigger, so empty triggers can be counted
      .config("spark.sql.streaming.noDataProgressEventInterval", "0")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = opt("workload")
    val workload: Workload = name match {
      case "ingest"   => new Ingest
      case "tail"     => new Tail
      case "pipeline" => new Pipeline
      case other      => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val spark = session(cores, work)
    val ctx = new Ctx(spark, seed, seconds, traced, s"$work/data", cores, jvmStartNs)
    ctx.progress("session ready")
    if (traced) {
      Trace.enable(spark.sparkContext)
      graft.meta.MetaLog.route(ctx.root, new TimingLogStore(graft.meta.FsLogStore))
      ctx.listener.foreach(spark.sparkContext.addSparkListener)
    }
    try {
      workload.setup(ctx)
      ctx.res.endToEnd += Metric("setup_s", (System.nanoTime() - jvmStartNs) / 1e9, "s")
      ctx.progress("set-up done")
      workload.measure(ctx)
      ctx.progress("window done")
    } finally workload.stop(ctx)

    val failures = ArrayBuffer[String]()
    val selftests = ArrayBuffer[(String, Boolean)]()
    ctx.res.checks.foreach { c =>
      c.run(false).foreach(msg => failures += s"${c.name}: $msg")
      selftests += (c.name -> c.run(true).isDefined)
    }
    ctx.res.attempted += ctx.res.checks.size
    ctx.res.failed += failures.size
    failures.foreach(f => System.err.println(s"CHECK FAILED $f"))

    ctx.res.detail += Metric("jvm.rss_peak_mb", vmHwmMb(), "MB")
    if (traced) {
      ctx.drainListener()
      ctx.listener.foreach(l => l.jobSpans().foreach(Trace.spans.add))
      Layers.compute(ctx)
      Trace.writeJsonLines(Paths.get(work, "spans.jsonl"))
    }
    // a failed commit, fetch or pass leaves the checks passing on a thinner
    // load, so the run is correct only when nothing failed at all
    writeResult(Paths.get(opt("result")), ctx.res, ctx.res.failed == 0, selftests.toSeq)
    spark.stop()
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")

  private def writeResult(path: java.nio.file.Path, r: Result, correct: Boolean,
                          selftests: Seq[(String, Boolean)]): Unit = {
    val st = selftests.map { case (n, ok) => s""""$n":$ok""" }.mkString("{", ",", "}")
    val json = s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""end_to_end":${metricsJson(r.endToEnd.toSeq)},"per_layer":${metricsJson(r.perLayer.toSeq)},""" +
      s""""detail":${metricsJson(r.detail.toSeq)},"selftest":$st}"""
    Files.write(path, json.getBytes("UTF-8"))
  }

  /** Percentile with linear interpolation between closest ranks (the
    * usual median for an even count). */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
