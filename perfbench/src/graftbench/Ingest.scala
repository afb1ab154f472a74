package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eslog.{EsCatalog, EsLog}

/** `ingest`: the reference's append benchmark shape. One closed-loop
  * producer sends bulk commits of 64 KiB record batches round-robin to a few
  * streams; every few commits a retention pass (size retention + zero-grace
  * vacuum) keeps disk use bounded and runs checkpoint/trim/vacuum cycles
  * inside the window. Most of the work is on the per-byte write path. */
final class Ingest extends Workload {
  val Streams = 2
  val Frames = 2
  val BatchesPerCommit = 2048 // 128 MiB of payload per commit
  val RetentionEvery = 4 // commits between retention passes
  val RetainBytes: Long = 256L * 1024 * 1024 // per stream, stored bytes

  private final case class Commit(stream: Int, frame: Int, first: Long, next: Long)

  private var dirs: IndexedSeq[String] = _
  private var frames: IndexedSeq[DataFrame] = _
  private var frameHashes: IndexedSeq[Array[Long]] = _
  private val commits = ArrayBuffer[Commit]()
  private var nCommit = 0
  private var nRetention = 0

  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val cat = new EsCatalog(ctx.root)
    dirs = (0 until Streams).map { s => cat.createStream(s"ingest-$s"); cat.streamDir(s"ingest-$s") }
    val vocab = Gen.vocabulary(ctx.seed)
    // Frames are generated and cached before the window: the producer holds
    // its batches in memory, as a client would.
    frames = (0 until Frames).map { f =>
      val df = Gen.frame(spark, ctx.seed, 10L + f, 0L, BatchesPerCommit, vocab, 2 * ctx.cores)
        .select("payload").persist()
      df.count()
      df
    }
    ctx.progress("frames generated")
    frameHashes = frames.map(_.select(xxhash64(col("payload"))).collect().map(_.getLong(0)))
    ctx.progress("frame hashes collected")
    // warm-up: one commit per stream and one retention pass
    dirs.indices.foreach(s => commit(ctx, s))
    retention(ctx)
  }

  private def commit(ctx: Ctx, s: Int): Double = {
    val f = (nCommit / Streams) % Frames
    val t0 = System.nanoTime()
    val (first, next) = Trace.op(s"append#$nCommit", "eslog.append") {
      EsLog.append(ctx.spark, dirs(s), frames(f), 0L)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    commits += Commit(s, f, first, next)
    nCommit += 1
    ms
  }

  private def retention(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    Trace.op(s"retention#$nRetention", "eslog.retention") {
      dirs.foreach { d =>
        EsLog.enforceRetentionBytes(d, RetainBytes)
        EsLog.vacuum(d, System.currentTimeMillis(), graceMs = 0L)
      }
    }
    nRetention += 1
    (System.nanoTime() - t0) / 1e6
  }

  override def measure(ctx: Ctx): Unit = {
    val res = ctx.res
    val lat = ArrayBuffer[Double]()
    val retMs = ArrayBuffer[Double]()
    val first = commits.size
    ctx.startWindow()
    val end = ctx.windowStartNs + ctx.seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < end) {
      lat += commit(ctx, nCommit % Streams)
      i += 1
      if (i % RetentionEvery == 0) retMs += retention(ctx)
    }
    ctx.endWindow()
    val payload = (commits.size - first).toLong * BatchesPerCommit * Gen.BatchBytes
    res.attempted += lat.size + retMs.size

    val files = dirs.map(d => EsLog.describe(d).allFiles)
    val stored = files.flatten.map(_.bytes).sum.toDouble
    val storedRows = files.flatten.map(_.rows).sum.toDouble
    res.endToEnd += Metric("op_p50_ms", Main.pct(lat.toSeq, 0.5), "ms")
    res.endToEnd += Metric("payload_mb_per_s", payload / 1e6 / ctx.windowSeconds, "MB/s")
    res.endToEnd += Metric("stored_bytes_per_payload_byte", stored / (storedRows * Gen.BatchBytes), "ratio")
    res.detail ++= Seq(
      Metric("append_mbps", payload / 1e6 / ctx.windowSeconds, "MB/s"),
      Metric("append_p50_ms", Main.pct(lat.toSeq, 0.5), "ms"),
      Metric("append_p90_ms", Main.pct(lat.toSeq, 0.9), "ms"),
      Metric("append_samples", lat.size, "count"),
      Metric("retention_p50_ms", Main.pct(retMs.toSeq, 0.5), "ms"),
      Metric("retention_passes", retMs.size, "count"),
      Metric("gen.payload_bytes", payload, "B"),
      Metric("gen.late_ms_p90", 0.0, "ms"),
      Metric("eslog.manifest_files", files.map(_.size).sum.toDouble / files.size, "count"),
      Metric("ops.appends", lat.size, "count"),
      Metric("ops.appended_bytes", payload, "B"))
    dirs.indices.foreach(s => res.checks += retainedRangeCheck(ctx, s))
  }

  /** The retained range of stream `s` is contiguous, and its row count and
    * payload hashes match what the generator sent for those offsets. */
  private def retainedRangeCheck(ctx: Ctx, s: Int): Check = {
    val dir = dirs(s)
    val st = EsLog.describe(dir)
    val mine = commits.filter(_.stream == s)
    // hashes are compared over the commits retained whole (retention cuts
    // at file boundaries, so the oldest retained commit may be partial)
    val whole = mine.filter(_.first >= st.startOffset)
    val wholeFrom = whole.headOption.map(_.first).getOrElse(st.nextOffset)
    val all = EsLog.scan(ctx.spark, dir)
      .agg(count(lit(1)), countDistinct(col("base_offset")), min("base_offset"), max("base_offset"))
      .collect()(0)
    val hashed = EsLog.fetch(ctx.spark, dir, wholeFrom)
      .agg(count(lit(1)), bit_xor(xxhash64(col("payload"))),
        sum(xxhash64(col("payload")).bitwiseAND(0xFFFFFFFFL)))
      .collect()(0)
    Check(s"ingest.retained_range.stream$s", corrupt => {
      // corrupted expectation: one batch fewer than was sent
      val drop = if (corrupt) 1 else 0
      val exp = whole.map(c => frameHashes(c.frame))
      val expRows = exp.map(_.length).sum - drop
      val expXor = exp.flatten.drop(drop).foldLeft(0L)(_ ^ _)
      val expSum = exp.flatten.drop(drop).map(_ & 0xFFFFFFFFL).sum
      val span = st.nextOffset - st.startOffset
      if (all.getLong(0) != span || all.getLong(1) != span)
        Some(s"rows ${all.getLong(0)} / distinct offsets ${all.getLong(1)} != retained span $span")
      else if (span > 0 && (all.getLong(2) != st.startOffset || all.getLong(3) != st.nextOffset - 1))
        Some(s"offsets [${all.getLong(2)}, ${all.getLong(3)}] != [${st.startOffset}, ${st.nextOffset - 1}]")
      else if (mine.zip(mine.tail).exists { case (a, b) => a.next != b.first })
        Some("commit offsets are not contiguous")
      else if (mine.last.next != st.nextOffset)
        Some(s"last commit ended at ${mine.last.next}, stream at ${st.nextOffset}")
      else if (hashed.getLong(0) != expRows) Some(s"rows ${hashed.getLong(0)} != expected $expRows")
      else if (expRows > 0 && (hashed.getLong(1) != expXor || hashed.getLong(2) != expSum))
        Some("payload hashes differ from the generator's")
      else None
    })
  }

  override def stop(ctx: Ctx): Unit = if (frames != null) frames.foreach(_.unpersist())
}
