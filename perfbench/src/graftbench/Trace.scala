package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.meta.LogStore

/** One timed interval. `op` is shared by every span of one benchmark
  * operation (a commit, a fetch, a trigger, a pipeline step), so a commit's
  * metadata-log calls and Spark jobs can be found from the commit. `bytes`
  * and `tag` carry what the layer reported (bytes moved, a CAS loss, ...). */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      startNs: Long, endNs: Long, bytes: Long = 0L, tag: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. Spans are held in memory and written
  * out when the run ends. With tracing off every call is a plain pass
  * through, so the untraced run executes the same benchmark code. */
object Trace {
  @volatile private var on = false
  private var sc: SparkContext = _
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  // (span id, op id) of the innermost open span on this thread
  private val current = new ThreadLocal[(Long, String)]

  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"

  /** Wall-clock ns minus monotonic ns: puts Spark's millisecond event times
    * on the span clock. */
  val clockOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def enable(context: SparkContext): Unit = { sc = context; on = true }

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (on) { spans.add(s); () }

  /** Time `body` as a new operation `op` (a fresh op id) named `name`. */
  def op[T](op: String, name: String)(body: => T): T = timed(Some(op), name)(body)

  /** Time `body` as a child of the enclosing span on this thread. */
  def span[T](name: String)(body: => T): T = timed(None, name)(body)

  private def timed[T](newOp: Option[String], name: String)(body: => T): T = {
    if (!on) return body
    val outer = current.get
    val id = nextId()
    val opId = newOp.getOrElse(if (outer == null) name else outer._2)
    val parent = if (outer == null || newOp.isDefined) 0L else outer._1
    val savedSpan = sc.getLocalProperty(SpanKey)
    val savedOp = sc.getLocalProperty(OpKey)
    current.set((id, opId))
    // Spark copies local properties into each job it starts, which is how
    // the SparkListener finds the span a job ran under.
    sc.setLocalProperty(SpanKey, id.toString)
    sc.setLocalProperty(OpKey, opId)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, opId, name, t0, System.nanoTime()))
      current.set(outer)
      sc.setLocalProperty(SpanKey, savedSpan)
      sc.setLocalProperty(OpKey, savedOp)
    }
  }

  /** (parent span, op) for a call made on this thread: the benchmark's own
    * span, else the micro-batch a streaming query thread is running. */
  def callerContext(): (Long, String) = {
    val c = current.get
    if (c != null) return c
    val batch = if (sc == null) null else sc.getLocalProperty("streaming.sql.batchId")
    if (batch != null) (0L, s"trigger-$batch") else (0L, "other")
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${q(s.op)},"name":${q(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"bytes":${s.bytes},"tag":${q(s.tag)}}""")
      w.write('\n')
    } finally w.close()
  }
}

/** A [[LogStore]] that times every metadata-log call and delegates to
  * `inner`. Every call and its return value pass through unchanged,
  * including the CAS result of `putIfAbsent`. */
final class TimingLogStore(inner: LogStore) extends LogStore {
  private def timed[T](name: String, path: String)(body: => T)(bytes: T => Long,
                                                              tag: T => String): T = {
    val (parent, op) = Trace.callerContext()
    val t0 = System.nanoTime()
    val r = body
    val file =
      if (path.endsWith(".checkpoint.json")) "checkpoint"
      else if (path.endsWith("_last_checkpoint")) "pointer"
      else "log"
    Trace.record(Span(Trace.nextId(), parent, op, name, t0, System.nanoTime(), bytes(r),
      file + tag(r)))
    r
  }
  private def none[T]: T => Long = _ => 0L
  private def noTag[T]: T => String = _ => ""

  override def read(path: String): Array[Byte] =
    timed("meta.read", path)(inner.read(path))(_.length.toLong, noTag)
  override def exists(path: String): Boolean =
    timed("meta.exists", path)(inner.exists(path))(none, noTag)
  override def isDir(path: String): Boolean =
    timed("meta.isDir", path)(inner.isDir(path))(none, noTag)
  override def list(dir: String): Seq[String] =
    timed("meta.list", dir)(inner.list(dir))(_.size.toLong, noTag)
  override def putIfAbsent(path: String, bytes: Array[Byte]): Boolean =
    timed("meta.putIfAbsent", path)(inner.putIfAbsent(path, bytes))(
      _ => bytes.length.toLong, won => if (won) "" else ",cas_lost")
  override def putAtomic(path: String, bytes: Array[Byte]): Unit =
    timed("meta.putAtomic", path)(inner.putAtomic(path, bytes))(_ => bytes.length.toLong, noTag)
  override def mkdirs(path: String): Unit =
    timed("meta.mkdirs", path)(inner.mkdirs(path))(none, noTag)
  override def delete(path: String): Unit =
    timed("meta.delete", path)(inner.delete(path))(none, noTag)
}

/** Per-job totals, filled from task-end events. */
final class JobStats(val jobId: Int, val span: Long, val op: String, val name: String,
                     val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var filesWritten = 0L
}

/** SparkListener that assigns every job, and the stages and tasks under it,
  * to the benchmark span that started it (read from the job's local
  * properties), or to the streaming micro-batch that ran it. */
final class SpanListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) null else p.getProperty(k)
    val batch = prop("streaming.sql.batchId")
    val (span, op) =
      if (prop(Trace.SpanKey) != null) (prop(Trace.SpanKey).toLong, prop(Trace.OpKey))
      else if (batch != null) (0L, s"trigger-$batch")
      else (0L, "other")
    val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val js = new JobStats(e.jobId, span, op, name, e.time)
    jobs.put(e.jobId, js)
    e.stageIds.foreach(s => stageJob.put(s, js))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val js = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (js == null || m == null) return
    val info = e.taskInfo
    js.synchronized {
      js.tasks += 1
      js.runMs += m.executorRunTime
      js.gcMs += m.jvmGCTime
      js.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      js.inputBytes += m.inputMetrics.bytesRead
      js.outputBytes += m.outputMetrics.bytesWritten
      // an eslog write task writes exactly one file
      if (m.outputMetrics.bytesWritten > 0) js.filesWritten += 1
      js.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      js.spillBytes += m.diskBytesSpilled
    }
  }

  /** Finished jobs, each recorded as a span under its parent. */
  def jobSpans(): Seq[Span] = jobs.values.asScala.toSeq.filter(_.endMs >= 0).map { j =>
    Span(-j.jobId.toLong - 1, j.span, j.op, "spark.job",
      j.startMs * 1000000L - Trace.clockOffsetNs, j.endMs * 1000000L - Trace.clockOffsetNs,
      0L, j.name)
  }
}
