package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.eslog.{EsCatalog, EsLog}

/** `tail`: reads and writes on one long-lived stream. An open-loop producer
  * makes small commits at a fixed rate; a Structured Streaming query tails
  * the stream into a second one through the exactly-once `eslog` sink; a
  * closed-loop reader fetches fixed spans of the stream's history. Most of
  * the work is the fixed cost per commit: metadata load, planning, job
  * scheduling, the source's offset probes and the sink's append. */
final class Tail extends Workload {
  val HistoryCommits = 2
  val HistoryPartitions = 64 // files per history commit
  val HistoryBatchesPerFile = 4
  val CommitBatches = 16 // 1 MiB of payload per produced commit
  // Below half the closed-loop rate of one producer alone (one commit per
  // ~340 ms on a 4-core host), so neither the producer nor the tailing
  // query (one ~650 ms trigger per commit) runs near saturation.
  val Rate = 1.0 // produced commits per second, open loop
  val RampSeconds = 3 // load runs this long before the window opens
  val FetchSpan = 64 // batches per history fetch
  val QueryName = "graftbench_tail"

  private final case class Produced(dueNs: Long, startNs: Long, doneNs: Long, next: Long)
  private final case class Fetched(startNs: Long, ms: Double, batches: Long)

  private var src: String = _
  private var dst: String = _
  private var query: StreamingQuery = _
  private var listener: StreamingQueryListener = _
  private var histStart = 0L
  private var histEnd = 0L
  private var nextSeq = 0L
  private var lastStampMs = 0L
  private var payloads: Array[Array[Byte]] = _
  private val produced = ArrayBuffer[Produced]()
  private val fetches = ArrayBuffer[Fetched]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val idle = new ConcurrentLinkedQueue[String]() // idle-trigger timestamps
  private var windowStart = 0L
  private var windowEnd = 0L
  private var producer: Thread = _
  private var reader: Thread = _
  private val stopReader = new AtomicBoolean(false)
  private val failures = new AtomicLong(0L)

  private val schema = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("base_timestamp", LongType),
    StructField("properties", MapType(StringType, StringType))))

  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val cat = new EsCatalog(ctx.root)
    cat.createStream("source")
    cat.createStream("tailed")
    src = cat.streamDir("source")
    dst = cat.streamDir("tailed")
    val vocab = Gen.vocabulary(ctx.seed)
    // the source stream's history: many files over several commits
    val perCommit = HistoryPartitions * HistoryBatchesPerFile
    (0 until HistoryCommits).foreach { c =>
      val frame = Gen.frame(spark, ctx.seed, 30L + c, c.toLong * perCommit, perCommit, vocab, ctx.cores)
      EsLog.append(spark, src, frame, 0L, numPartitions = HistoryPartitions)
    }
    ctx.progress("history written")
    val st = EsLog.describe(src)
    histStart = st.startOffset
    histEnd = st.nextOffset
    val maxCommits = (Rate * (RampSeconds + ctx.seconds)).toInt + 4
    val r = Gen.rng(ctx.seed, 20L, 0L)
    val words = vocab.map(_.getBytes("UTF-8"))
    payloads = Array.fill(maxCommits * CommitBatches)(Gen.payload(words, r))

    listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == QueryName) { progress.add(e.progress); () }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
        if (query != null && e.id == query.id) { idle.add(e.timestamp); () }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    // The start is pinned: "latest" would be read when the query thread
    // builds the source, which may be after the warm-up commit below.
    // A micro-batch's frame lists its files in Spark's split order, not in
    // offset order, and an append keeps its input's partition order, so the
    // sink sorts on the batches' create time to keep the stream's order.
    query = spark.readStream.format("eslog").option("startingOffsets", histEnd.toString).load(src)
      .writeStream.format("eslog").queryName(QueryName)
      .option("checkpointLocation", s"${ctx.root}/_checkpoints/tail")
      .option("sortKey", "base_timestamp")
      .start(dst)
    // warm-up: one commit and one fetch, until the commit is visible downstream
    produce(ctx, System.nanoTime())
    fetch(ctx, Gen.rng(ctx.seed, 3L, 1L))
    awaitVisible(produced.last.next)

    // Start the load now and open the window after a ramp, so the window
    // sees a steady state rather than the load's first seconds.
    val loadStart = System.nanoTime()
    windowStart = loadStart + RampSeconds * 1000000000L
    windowEnd = windowStart + ctx.seconds * 1000000000L
    producer = new Thread(() => {
      var i = 0
      var due = loadStart
      while (due < windowEnd) {
        val now = System.nanoTime()
        if (due > now) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
        try produce(ctx, due)
        catch { case e: Exception => failures.incrementAndGet(); e.printStackTrace() }
        i += 1
        due = loadStart + (i * 1e9 / Rate).toLong
      }
    }, "graftbench-producer")
    reader = new Thread(() => {
      val r = Gen.rng(ctx.seed, 3L, 2L)
      while (!stopReader.get && System.nanoTime() < windowEnd) {
        try fetch(ctx, r)
        catch { case e: Exception => failures.incrementAndGet(); e.printStackTrace() }
      }
    }, "graftbench-reader")
    producer.start()
    reader.start()
    val now = System.nanoTime()
    if (windowStart > now) Thread.sleep((windowStart - now) / 1000000L)
  }

  private def produce(ctx: Ctx, dueNs: Long): Unit = {
    val startNs = System.nanoTime()
    val first = nextSeq
    // each batch's create time, unique and rising with seq
    val stampMs = math.max(System.currentTimeMillis(), lastStampMs + 1)
    lastStampMs = stampMs + CommitBatches - 1
    val rows = (0 until CommitBatches).map { k =>
      Row(payloads((first + k).toInt), stampMs + k, Map("seq" -> (first + k).toString))
    }
    val df = ctx.spark.createDataFrame(rows.asJava, schema)
    val (_, next) = Trace.op(s"append#${produced.size}", "eslog.append") {
      EsLog.append(ctx.spark, src, df, 0L)
    }
    nextSeq += CommitBatches
    produced.synchronized { produced += Produced(dueNs, startNs, System.nanoTime(), next) }
  }

  private def fetch(ctx: Ctx, r: java.util.SplittableRandom): Unit = {
    val start = histStart + r.nextLong(histEnd - FetchSpan - histStart + 1)
    val t0 = System.nanoTime()
    val row = Trace.op(s"fetch#${fetches.size}", "fetch") {
      val df = Trace.span("eslog.fetch")(EsLog.fetch(ctx.spark, src, start, start + FetchSpan))
      Trace.span("fetch.aggregate") {
        df.agg(count(lit(1)), bit_xor(xxhash64(col("payload")))).collect()(0)
      }
    }
    fetches.synchronized { fetches += Fetched(t0, (System.nanoTime() - t0) / 1e6, row.getLong(0)) }
  }

  private def maxVisibleOffset: Long =
    progress.asScala.map(_.sources(0).endOffset.toLong).foldLeft(-1L)(math.max)

  private def awaitVisible(next: Long): Unit = {
    val deadline = System.nanoTime() + 120000000000L
    while (maxVisibleOffset < next && System.nanoTime() < deadline) {
      if (query.exception.isDefined) throw query.exception.get
      Thread.sleep(10)
    }
    require(maxVisibleOffset >= next, s"tailing query did not reach offset $next")
  }

  override def measure(ctx: Ctx): Unit = {
    val res = ctx.res
    ctx.startWindow(windowStart)
    producer.join()
    stopReader.set(true)
    reader.join()
    ctx.endWindow()
    awaitVisible(produced.last.next)
    query.stop()

    // progress and idle events carry wall-clock times; the window is on nanoTime
    val wallMinusNanoMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    def toNs(iso: String, plusMs: Long = 0L): Long =
      (java.time.Instant.parse(iso).toEpochMilli + plusMs - wallMinusNanoMs) * 1000000L
    def finishNs(p: StreamingQueryProgress): Long =
      toNs(p.timestamp, p.durationMs.get("triggerExecution").longValue)
    val allBatches = progress.asScala.toSeq
    val window = produced.filter(c => c.dueNs >= windowStart).toSeq
    val batches = allBatches.filter(p => ctx.inWindow(toNs(p.timestamp)))
    val idleInWindow = idle.asScala.count(t => ctx.inWindow(toNs(t)))
    // a commit is visible once a micro-batch reaching its end offset has
    // finished, sink commit included
    def visibleNs(c: Produced): Long =
      allBatches.filter(_.sources(0).endOffset.toLong >= c.next).map(finishNs).min
    val visibleMs = window.map(c => (visibleNs(c) - c.dueNs) / 1e6)
    val appendMs = window.map(c => (c.doneNs - c.dueNs) / 1e6)
    val lateMs = window.map(c => (c.startNs - c.dueNs) / 1e6)
    val windowFetches = fetches.filter(f => ctx.inWindow(f.startNs)).toSeq
    val fetchMs = windowFetches.map(_.ms)
    val payload = window.size.toLong * CommitBatches * Gen.BatchBytes
    val files = EsLog.describe(dst).allFiles
    val stored = files.map(_.bytes).sum.toDouble / (files.map(_.rows).sum.toDouble * Gen.BatchBytes)
    res.attempted += produced.size + fetches.size + allBatches.size + failures.get
    res.failed += failures.get

    res.endToEnd += Metric("op_p50_ms", Main.pct(visibleMs, 0.5), "ms")
    res.endToEnd += Metric("payload_mb_per_s",
      payload / 1e6 / ((visibleNs(window.last) - windowStart) / 1e9), "MB/s")
    res.endToEnd += Metric("stored_bytes_per_payload_byte", stored, "ratio")
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    res.detail ++= Seq(
      Metric("visible_p50_ms", Main.pct(visibleMs, 0.5), "ms"),
      Metric("visible_p90_ms", Main.pct(visibleMs, 0.9), "ms"),
      Metric("append_p50_ms", Main.pct(appendMs, 0.5), "ms"),
      Metric("append_p90_ms", Main.pct(appendMs, 0.9), "ms"),
      Metric("append_samples", appendMs.size, "count"),
      Metric("fetch_p50_ms", Main.pct(fetchMs, 0.5), "ms"),
      Metric("fetch_p90_ms", Main.pct(fetchMs, 0.9), "ms"),
      Metric("fetch_samples", fetchMs.size, "count"),
      Metric("rate_commits_per_s", Rate, "1/s"),
      Metric("gen.late_ms_p90", Main.pct(lateMs, 0.9), "ms"),
      Metric("gen.payload_bytes", payload, "B"),
      Metric("eslog.manifest_files", EsLog.describe(src).allFiles.size, "count"),
      Metric("sources.trigger_ms", Main.mean(batches.map(dur(_, "triggerExecution"))), "ms"),
      Metric("sources.latest_offset_ms", Main.mean(batches.map(dur(_, "latestOffset"))), "ms"),
      Metric("sources.get_batch_ms", Main.mean(batches.map(dur(_, "getBatch"))), "ms"),
      Metric("sources.add_batch_ms", Main.mean(batches.map(dur(_, "addBatch"))), "ms"),
      Metric("sources.planning_ms", Main.mean(batches.map(dur(_, "queryPlanning"))), "ms"),
      Metric("sources.wal_commit_ms", Main.mean(batches.map(dur(_, "walCommit"))), "ms"),
      Metric("sources.rows_per_trigger", Main.mean(batches.map(_.numInputRows.toDouble)), "count"),
      Metric("sources.backlog_offsets_max", batches.flatMap(p =>
        Option(p.sources(0).metrics.get("backlogOffsets")).map(_.toDouble)).foldLeft(0.0)(math.max), "count"),
      Metric("sources.empty_trigger_frac",
        idleInWindow.toDouble / math.max(1, idleInWindow + batches.size), "ratio"),
      Metric("ops.appends", window.size, "count"),
      Metric("ops.appended_bytes", payload, "B"),
      Metric("ops.fetches", fetchMs.size, "count"),
      Metric("ops.triggers", batches.size, "count"),
      Metric("ops.idle_triggers", idleInWindow, "count"))

    // downstream rows in downstream offset order, as upstream seq numbers
    val rows = EsLog.scan(ctx.spark, dst)
      .select(col("base_offset"), col("properties").getItem("seq").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).map(_._2).toVector
    val expectedSeqs = (0L until nextSeq).toVector
    res.checks += Check("tail.downstream_exactly_once", corrupt => {
      val exp = if (corrupt) expectedSeqs.patch(expectedSeqs.size / 2, Nil, 1) else expectedSeqs
      val got = rows.sorted
      if (got == exp) None
      else Some(s"downstream holds ${got.size} batches (${got.distinct.size} distinct), " +
        s"expected ${exp.size}: missing ${exp.diff(got).take(5)}, extra ${got.diff(exp).take(5)}")
    })
    res.checks += Check("tail.downstream_in_order", corrupt => {
      val sorted = rows.sorted
      val m = sorted.size / 2
      val exp = if (corrupt) sorted.updated(m - 1, sorted(m)).updated(m, sorted(m - 1)) else sorted
      rows.indices.find(i => rows(i) != exp(i))
        .map(i => s"downstream row $i holds batch ${rows(i)}, expected ${exp(i)}")
    })
    val counts = fetches.map(_.batches).toSeq
    res.checks += Check("tail.fetch_batch_counts", corrupt => {
      val exp = if (corrupt) FetchSpan - 1 else FetchSpan
      counts.find(_ != exp).map(n => s"a fetch of $FetchSpan batches returned $n (expected $exp)")
    })
  }

  override def stop(ctx: Ctx): Unit = {
    stopReader.set(true)
    Seq(producer, reader).filter(_ != null).foreach(_.join())
    if (query != null && query.isActive) query.stop()
    if (listener != null) ctx.spark.streams.removeListener(listener)
  }
}
