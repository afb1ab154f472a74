package graft

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eslog.EsLog
import graft.meta._

/** Shared eslog stream fixtures for the driver-contract queries.
  *
  * Each fixture deterministically derives a stream from the sf parquet tables
  * so the DuckDB oracle can recompute the expected scan results from the same
  * tables (offsets are forced to equal `event_id` by sorting on it — event
  * ids are contiguous 0..n-1 in the test data, so `base_offset = event_id`).
  *
  * Builders are memoized per (sfDir, name): queries may be invoked repeatedly
  * in one JVM without re-appending.
  */
object Fixtures {
  private val cache = TrieMap[String, String]()

  /** Session settings every query needs: an INT64-nanos `events.ts` should
    * read as a plain long (portable, timezone-free), and timestamp math must
    * be UTC so a TIMESTAMP_NTZ `ts` normalizes identically everywhere. */
  def tune(s: SparkSession): Unit = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    // Leaf splits sized for compressed payload scans (README deployment
    // note): payloads compress 10-20x and Spark bins by COMPRESSED bytes,
    // and since the write-time rolling policy cut file counts the default
    // binning lands exactly at defaultParallelism — zero straggler slack,
    // measured 0.97-9.0 s variance on one 2.6 GB hash. 16 MiB bins = 3-4
    // tasks/core: 0.7-0.9 s stable, and the relational heads improved too.
    // (An earlier same-JVM A/B in the pre-rolling regime showed no win; the
    // file-count change moved the regime, and the measurement moved with
    // it.)
    s.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    s.conf.set("spark.sql.files.openCostInBytes", "1m")
  }

  /** The events table with `ts` ALWAYS a BIGINT of epoch nanos. The driver
    * has shipped two physical encodings of this column across rounds —
    * INT64 TIMESTAMP(NANOS) (read as long via `nanosAsLong`) and
    * timestamp[us] (read as TIMESTAMP_NTZ) — so the fixture normalizes at
    * the boundary and every downstream `ts div 1000000` (epoch ms) keeps
    * working unchanged. The DuckDB oracle reads the same parquet natively
    * as TIMESTAMP and uses `epoch_ms(ts)`; micros*1000 here floors to the
    * identical millisecond. */
  def events(s: SparkSession, sfDir: String): DataFrame = {
    tune(s)
    val df = s.read.parquet(s"$sfDir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }
  }

  def documents(s: SparkSession, sfDir: String): DataFrame = {
    tune(s)
    s.read.parquet(s"$sfDir/documents.parquet")
  }

  def embeddings(s: SparkSession, sfDir: String): DataFrame = {
    tune(s)
    s.read.parquet(s"$sfDir/embeddings.parquet")
  }

  private[graft] def fixture(sfDir: String, name: String)(build: String => Unit): String =
    cache.getOrElseUpdate(s"$sfDir#$name", {
      val dir = Files.createTempDirectory(s"graft-$name-").toString
      build(dir)
      dir
    })

  /** Events as appendable record batches: payload = props JSON bytes,
    * properties carry event_type, base_timestamp = epoch millis of ts. */
  private def eventBatches(s: SparkSession, sfDir: String): DataFrame =
    events(s, sfDir).select(
      col("event_id"),
      col("props").cast("binary").as("payload"),
      map(lit("event_type"), col("event_type")).as("properties"),
      expr("ts div 1000000").as("base_timestamp"))

  /** The flagship two-segment stream: first half of events under epoch 1,
    * seal-on-reopen, second half under epoch 2. base_offset == event_id. */
  def eventsStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "events") { dir =>
      val in = eventBatches(s, sfDir)
      val n = in.count()
      val k = n / 2
      EsLog.create(dir, streamId = 42L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in.where(col("event_id") < k), 1L,
        sortKey = Some("event_id"), numPartitions = 4)
      EsLog.open(dir, 2L) // seal-on-open recovery fences epoch 1
      EsLog.append(s, dir, in.where(col("event_id") >= k), 2L,
        sortKey = Some("event_id"), numPartitions = 4)
    }

  /** [[eventsStream]] cloned at its FIRST data commit ([[graft.eslog.EsLog
    * .cloneStream]] version-pinned): an independent stream whose content is
    * the first half of the events — proves log + data files survive the
    * copy byte-for-byte through the driver compare. */
  def clonedEventsStream(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#events-clone", {
      val src = eventsStream(s, sfDir)
      val firstCommit = graft.meta.MetaLog.firstDataCommit(src)
        .getOrElse(sys.error(s"no data commit in $src"))
      val dst = Files.createTempDirectory("graft-events-clone-").toString
      graft.eslog.EsLog.cloneStream(s, src, dst, version = firstCommit)
      dst
    })

  /** Full events stream trimmed to n/4 (exercises trim + vacuum). */
  def trimmedStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "trimmed") { dir =>
      val in = eventBatches(s, sfDir)
      val n = in.count()
      EsLog.create(dir, streamId = 43L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("event_id"), numPartitions = 4)
      EsLog.trim(dir, n / 4)
      ()
    }

  /** Retention stream: base_timestamp = event_id (ms), two appends split at
    * n/2, retention 1000 ms enforced at now = n/2 + 1000 => cutoff n/2 drops
    * exactly the first file. */
  def retentionStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "retention") { dir =>
      val in = events(s, sfDir).select(
        col("event_id"),
        col("props").cast("binary").as("payload"),
        col("event_id").as("base_timestamp"))
      val n = in.count()
      val k = n / 2
      EsLog.create(dir, streamId = 44L, retentionMs = 1000L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in.where(col("event_id") < k), 1L,
        sortKey = Some("event_id"), numPartitions = 2)
      EsLog.append(s, dir, in.where(col("event_id") >= k), 1L,
        sortKey = Some("event_id"), numPartitions = 2)
      EsLog.enforceRetention(dir, nowMs = k + 1000L)
      ()
    }

  /** Size/row retention fixture: four equal single-file appends, then BOTH
    * capacity policies applied with manifest-derived budgets — row
    * retention (keep > n/2 rows => three newest files, cut at n/4), then
    * byte retention (budget = the newest two files' exact manifest bytes
    * => cut at n/2). Every cut is pure manifest arithmetic, so the scan's
    * offset range is oracle-predictable. */
  def sizeRetentionStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "size-retention") { dir =>
      val in = eventBatches(s, sfDir)
      val n = in.count()
      val q = n / 4
      EsLog.create(dir, streamId = 54L)
      EsLog.open(dir, 1L)
      for (i <- 0 until 4) {
        val lo = i * q
        val hi = if (i == 3) n else (i + 1) * q
        EsLog.append(s, dir, in.where(col("event_id") >= lo && col("event_id") < hi),
          1L, sortKey = Some("event_id"), numPartitions = 1)
      }
      EsLog.enforceRetentionRows(dir, n / 2 + 1)
      require(EsLog.startOffset(dir) == q, s"row retention cut ${EsLog.startOffset(dir)} != $q")
      val live = EsLog.describe(dir).allFiles.sortBy(_.startOffset)
      EsLog.enforceRetentionBytes(dir, live.takeRight(2).map(_.bytes).sum)
      require(EsLog.startOffset(dir) == n / 2,
        s"byte retention cut ${EsLog.startOffset(dir)} != ${n / 2}")
      ()
    }

  /** Multi-offset batches: ids 0..999, delta = id%3+1, payload = id string.
    * Total offsets = sum of deltas (= 2000 for 1000 ids). */
  def straddleStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "straddle") { dir =>
      val in = s.range(1000).select(
        col("id"),
        col("id").cast("string").cast("binary").as("payload"),
        (col("id") % 3 + 1).cast("int").as("last_offset_delta"))
      EsLog.create(dir, streamId = 45L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("id"), numPartitions = 4)
      ()
    }

  /** Consumer-group fixture: the at-least-once consume loop over the KV
    * surface ([[EsLog.readGroup]]/[[EsLog.commitGroupOffset]]). Round 1:
    * group "etl" reads the first-half append from the start and CAS-commits
    * its position at n/2; the second half is then appended. The stream is
    * left mid-protocol — position n/2, head n — so the QUERY performs the
    * second (catch-up) read itself, repeatably. CAS fencing is asserted
    * here: a stale expected value and an expected-on-absent both refuse. */
  def groupStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "group") { dir =>
      val in = eventBatches(s, sfDir)
      val n = in.count()
      val k = n / 2
      EsLog.create(dir, streamId = 52L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in.where(col("event_id") < k), 1L,
        sortKey = Some("event_id"), numPartitions = 4)
      val (df1, upTo1, prev1) = EsLog.readGroup(s, dir, "etl")
      require(prev1.isEmpty && upTo1 == k, s"round-1 readGroup ($prev1, $upTo1)")
      require(df1.count() == k, "round-1 delivery")
      require(EsLog.commitGroupOffset(dir, "etl", upTo1, prev1), "round-1 commit")
      // fencing: stale expected and expected-on-absent both refuse
      require(!EsLog.commitGroupOffset(dir, "etl", 999L, Some(123L)), "stale CAS accepted")
      require(!EsLog.commitGroupOffset(dir, "rival", 5L, Some(0L)), "absent-expected accepted")
      EsLog.append(s, dir, in.where(col("event_id") >= k), 1L,
        sortKey = Some("event_id"), numPartitions = 4)
      ()
    }

  /** Exactly-once ETL fixture ([[EsLog.consumeProcessProduce]]): clicks from
    * the events stream piped into a destination stream, the source position
    * committed ATOMICALLY with the destination's data files. The job runs
    * TWICE — the second run must be a no-op (position == head), which is the
    * whole exactly-once claim: any replay re-reads nothing and appends
    * nothing. Destination offsets are deterministic (sortKey = source
    * offset), so the oracle predicts them with a row_number. */
  def etlStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "etl") { dst =>
      val src = eventsStream(s, sfDir)
      EsLog.create(dst, streamId = 53L)
      EsLog.open(dst, 1L)
      def job(): (Long, Long) =
        EsLog.consumeProcessProduce(s, src, dst, "etl", 1L,
          sortKey = Some("src_off")) { df =>
          df.where(col("properties")("event_type") === "click")
            .select(col("base_offset").as("src_off"), col("payload"),
              map(lit("src_off"), col("base_offset").cast("string"),
                lit("event_type"), col("properties")("event_type")).as("properties"),
              col("base_timestamp"))
        }
      val n = EsLog.nextOffset(src)
      val (f1, u1) = job()
      require(f1 == 0L && u1 == n, s"round-1 span ($f1, $u1) != (0, $n)")
      val (f2, u2) = job() // replay: must consume nothing, append nothing
      require(f2 == n && u2 == n, s"replay consumed ($f2, $u2)")
      ()
    }

  /** Fan-in exactly-once ETL fixture ([[EsLog.consumeProcessProduceMulti]]):
    * events split by `event_id % 3` into THREE source streams, clicks from
    * all three merged into one destination — all three source positions and
    * the data in ONE CAS commit. The job runs TWICE; the replay consumes
    * and appends nothing (asserted here), which is the fan-in exactly-once
    * claim. Destination offsets are deterministic: sortKey = (source index,
    * per-source offset) composite, so the oracle predicts them with a
    * two-level row_number. */
  def etlFanInStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "etlfanin") { dst =>
      val in = eventBatches(s, sfDir)
      val srcs = (0 until 3).map { i =>
        val d = Files.createTempDirectory(s"graft-etlfanin-src$i-").toString
        EsLog.create(d, streamId = 60L + i)
        EsLog.open(d, 1L)
        EsLog.append(s, d, in.where(col("event_id") % 3 === i), 1L,
          sortKey = Some("event_id"), numPartitions = 2)
        d
      }
      EsLog.create(dst, streamId = 59L)
      EsLog.open(dst, 1L)
      def job(): Seq[(Long, Long)] =
        EsLog.consumeProcessProduceMulti(s, srcs, dst, "fanin", 1L,
          sortKey = Some("sk")) { slices =>
          slices.zipWithIndex.map { case (df, i) =>
            df.where(col("properties")("event_type") === "click")
              .select(
                (lit(i.toLong) * 1000000000L + col("base_offset")).as("sk"),
                col("payload"),
                map(lit("src"), lit(i.toString),
                  lit("src_off"), col("base_offset").cast("string"),
                  lit("event_type"), col("properties")("event_type")).as("properties"),
                col("base_timestamp"))
          }.reduce(_.unionByName(_))
        }
      val heads = srcs.map(EsLog.nextOffset)
      val spans1 = job()
      require(spans1 == heads.map(h => (0L, h)),
        s"round-1 spans $spans1 != ${heads.map(h => (0L, h))}")
      val dstHead = EsLog.nextOffset(dst)
      val spans2 = job() // replay: every source caught up, nothing lands
      require(spans2 == heads.map(h => (h, h)), s"replay consumed $spans2")
      require(EsLog.nextOffset(dst) == dstHead, "replay appended to destination")
      ()
    }

  /** Fan-OUT exactly-once ETL fixture ([[EsLog.consumeProcessProduceFanOut]]):
    * all events in ONE source stream, clicks routed by `src_off % 3` to
    * THREE destination streams under the intent/apply/complete protocol
    * (source-KV intent fixes the slice; per-destination marker-guarded
    * applies; completion advances the position). The job runs TWICE; the
    * replay consumes and appends nothing (asserted here) — the fan-out
    * exactly-once claim. Destination offsets are deterministic (sortKey =
    * source offset), so the oracle predicts them with a per-destination
    * row_number. Returns the fixture ROOT; destinations live at
    * `root/dst0..2`. */
  def etlFanOutStreams(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "etlfanout") { root =>
      val in = eventBatches(s, sfDir)
      val src = s"$root/src"
      EsLog.create(src, streamId = 64L)
      EsLog.open(src, 1L)
      EsLog.append(s, src, in, 1L, sortKey = Some("event_id"), numPartitions = 2)
      val dsts = (0 until 3).map { i =>
        val d = s"$root/dst$i"
        EsLog.create(d, streamId = 65L + i)
        EsLog.open(d, 1L)
        d
      }
      def job(): (Long, Long) =
        EsLog.consumeProcessProduceFanOut(s, src, dsts, "fanout", 1L,
          sortKey = Some("sk")) { (slice, i) =>
          slice.where(col("properties")("event_type") === "click")
            .where(col("base_offset") % 3 === i)
            .select(col("base_offset").as("sk"), col("payload"),
              map(lit("src_off"), col("base_offset").cast("string"),
                lit("event_type"), col("properties")("event_type")).as("properties"),
              col("base_timestamp"))
        }
      val head = EsLog.nextOffset(src)
      val span1 = job()
      require(span1 == (0L, head), s"round-1 span $span1 != (0, $head)")
      val dstHeads = dsts.map(EsLog.nextOffset)
      val span2 = job() // replay: caught up, nothing lands anywhere
      require(span2 == (head, head), s"replay consumed $span2")
      require(dsts.map(EsLog.nextOffset) == dstHeads, "replay appended to a destination")
      ()
    }

  /** KV fixture: puts, delete, range delete (ranged tombstone), a successful
    * CAS txn, a failed (stale) one, and etcd-parity multi-guard txns with
    * success AND failure branches. */
  def kvStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "kv") { dir =>
      EsLog.create(dir, streamId = 46L)
      EsLog.putKV(dir, "k1", "a"); EsLog.putKV(dir, "k2", "b"); EsLog.putKV(dir, "k3", "c")
      EsLog.delKV(dir, "k2")
      require(EsLog.txnKV(dir, "k1", Some("a"), Seq("k1" -> Some("a2"), "k4" -> Some("d"))))
      require(!EsLog.txnKV(dir, "k1", Some("a"), Seq("k5" -> Some("never"))))
      EsLog.putKV(dir, "z1", "tmp1"); EsLog.putKV(dir, "z2", "tmp2"); EsLog.putKV(dir, "z9", "keep")
      EsLog.delRangeKV(dir, "z1", Some("z9")) // DELETE_RANGE [z1, z9): z9 survives
      // etcd TxnRequest shape: multi-key guard (value + presence + absence)
      // holds -> success ops (a put and a del) land in one commit
      require(EsLog.txnKV(dir,
        Seq(KvValueIs("k1", "a2"), KvPresent("k3"), KvAbsent("nope")),
        onSuccess = Seq("t1" -> Some("yes"), "k4" -> None),
        onFailure = Seq("t1" -> Some("no"))))
      // one failing guard (k3 IS present) -> the FAILURE branch lands instead
      require(!EsLog.txnKV(dir,
        Seq(KvValueIs("k1", "a2"), KvAbsent("k3")),
        onSuccess = Seq("t2" -> Some("yes")),
        onFailure = Seq("t2" -> Some("fallback"), "z9" -> None)))
      ()
    }

  /** Stream whose METADATA LOG rides an (in-memory) object store through the
    * [[MetaLog.route]] seam — the S3-class deployment shape: data files on
    * shared storage, every log read and CAS commit via [[ObjectLogStore]]
    * (conditional PUT). The require proves no `_eslog/` ever touches local
    * FS, so the scan's manifest reads demonstrably go through the store. */
  def objectLogStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "objlog") { dir =>
      MetaLog.route(dir, new ObjectLogStore(new InMemoryObjectStore))
      val in = eventBatches(s, sfDir).where(col("event_id") < 4000)
      EsLog.create(dir, streamId = 48L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("event_id"), numPartitions = 4)
      require(!Files.isDirectory(java.nio.file.Paths.get(dir, MetaLog.LogDirName)),
        "object-log stream leaked its metadata log to local FS")
      ()
    }

  /** DDL fixture: created then altered, never opened. */
  def ddlStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "ddl") { dir =>
      EsLog.create(dir, streamId = 77L, replica = 1, ackCount = 1, retentionMs = -1L)
      EsLog.update(dir, replica = Some(3), ackCount = Some(2), retentionMs = Some(86400000L))
      ()
    }

  /** Deleted stream: create, append, delete; data files must be gone. */
  def deletedStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "deleted") { dir =>
      EsLog.create(dir, streamId = 78L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir,
        s.range(10).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
        1L, numPartitions = 1)
      EsLog.delete(dir)
      ()
    }

  /** Idempotent-commit probe: rejects of an exact retry (Committed) and a
    * gapped commit (OutOfOrder), with the data intact afterwards. */
  def idempotencyProbe(s: SparkSession, sfDir: String): (Boolean, Boolean, Long) = {
    val dir = fixture(sfDir, "idem") { d =>
      EsLog.create(d, streamId = 79L)
      EsLog.open(d, 1L)
      EsLog.append(s, d,
        s.range(100).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
        1L, sortKey = Some("id"), numPartitions = 2)
      ()
    }
    val st = MetaLog.load(dir)
    val seg = st.segments.last
    val retryRejected =
      try { MetaLog.commit(dir, st, Seq(CommitFiles(seg.index, st.epoch, seg.files))); false }
      catch { case _: CommittedException => true }
    val gapRejected =
      try {
        MetaLog.commit(dir, st, Seq(CommitFiles(seg.index, st.epoch,
          Seq(FileMeta("ghost", 10, 10, 150, 160, 0, 0)))))
        false
      } catch { case _: OutOfOrderException => true }
    (retryRejected, gapRejected, EsLog.scan(s, dir).count())
  }

  /** Structured-Streaming roundtrip: the flagship stream drained through the
    * rate-limited eslog source into an eslog sink (AvailableNow). */
  def streamRoundtrip(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "stream-rt") { dst =>
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = eventsStream(s, sfDir)
      val ckpt = Files.createTempDirectory("graft-ckpt-rt-").toString
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select("payload", "properties", "base_timestamp", "last_offset_delta", "flags")
        .writeStream.format("eslog")
        .option("path", dst)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
    }

  /** Streaming event-time windowed aggregation (1h tumbling + watermark) into
    * an in-memory complete-mode table; returns the result table name. */
  def streamHourlyTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-hourly", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = eventsStream(s, sfDir)
      val name = "graft_stream_hourly_" + math.abs(sfDir.hashCode).toString
      val q = s.readStream.format("eslog").load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"), col("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming KMV distinct sketch per hour window: the bounded-state
    * [[org.apache.spark.sql.graftshim.KmvAgg]] custom aggregate running
    * INSIDE a streaming aggregation — its serialize/deserialize/merge path
    * rides the state store across ~8 rate-limited micro-batches, so a green
    * oracle row proves the sketch merges incrementally (arrivals split
    * across batches land in the same window's sketch) exactly as it does
    * map-side in batch. Complete-mode memory table. */
  def streamKmvTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-kmv", {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.graftshim.{GraftShims, KmvAgg}
      tune(s)
      val src = eventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_kmv_" + math.abs(sfDir.hashCode).toString
      val k = 64
      val kept = GraftShims.column(KmvAgg(GraftShims.expr(
        graft.functions.Portable.hash60(col("payload").cast("string"))), k)
        .toAggregateExpression())
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(kept.as("_ks"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"),
          size(col("_ks")).cast("long").as("n_kept"),
          when(size(col("_ks")) > 0,
            element_at(col("_ks"), size(col("_ks")))).as("kth_hash"))
        .withColumn("n_distinct_est",
          when(col("n_kept") < k, col("n_kept"))
            .otherwise(lit((k - 1).toLong) *
              call_function("div", lit(graft.operators.Sketch.HashSpace), col("kth_hash"))))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming COUNT-MIN sketch per hour window: the depth × width counter
    * grid as a plain windowed `groupBy(window, d, slot).count()` — CMS cells
    * are ordinary counters, so the streaming form needs NO custom state:
    * Spark's aggregation state IS the grid, bounded by depth·width counters
    * per in-flight window (4096 here) regardless of event volume. Arrivals
    * split across ~8 rate-limited micro-batches merge cell-wise in the state
    * store — the CMS merge law exercised incrementally; the graded rows are
    * the grid itself, bit-compared against DuckDB recomputing it from the
    * events table. Complete-mode memory table. */
  def streamCmsTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-cms", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = eventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_cms_" + math.abs(sfDir.hashCode).toString
      val depth = 4; val width = 1024
      val hm = graft.functions.Portable.uhashBase(col("payload").cast("string"))
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withWatermark("ts", "1 hour")
        .select(col("ts"), explode(array((0 until depth).map(i =>
          struct(lit(i).as("d"),
            (graft.functions.Portable.uhash(i, hm) % width).as("slot"))): _*)).as("cell"))
        .groupBy(window(col("ts"), "1 hour"),
          col("cell.d").as("d"), col("cell.slot").as("slot"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"),
          col("d"), col("slot"), col("cnt"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming HLL register table per hour window: the [[graft.operators
    * .Sketch.hllCells]] derivation inside a windowed streaming aggregation —
    * `max(rho)` per (window, bucket) rides the state store across
    * micro-batches exactly like a register-wise max merge. State bound:
    * ≤ 2^p = 64 registers per in-flight window. Complete-mode memory table;
    * the oracle recomputes the registers per hour over the same rows, so a
    * green row proves the incremental per-bucket-max merge bit-exact. */
  def streamHllTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-hll", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = eventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_hll_" + math.abs(sfDir.hashCode).toString
      val (bucket, rho) = graft.operators.Sketch.hllCells(col("payload").cast("string"), p = 6)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withWatermark("ts", "1 hour")
        .select(col("ts"), bucket.as("bucket"), rho.as("_rho"))
        .where(col("bucket").isNotNull) // null payloads sketch nothing (= batch twin)
        .groupBy(window(col("ts"), "1 hour"), col("bucket"))
        .agg(max(col("_rho")).as("rho"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"),
          col("bucket"), col("rho"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming BLOOM sketch per hour window, summarized: each value sets k=5
    * slots in [0, m=2²⁰); the per-window slot SET accumulates in the bounded
    * [[org.apache.spark.sql.graftshim.KmvAgg]] aggregate (the k-minimum
    * carrier doubles as a bounded distinct-set collector: with cap 4096 ≥
    * distinct slots per window at every tested SF it holds the COMPLETE set,
    * and beyond the cap it degrades deterministically to the 4096 smallest —
    * the oracle reproduces either regime with a rank filter). State ≤ 4096
    * longs per in-flight window; the graded row is the per-window set
    * fingerprint (count / min / max / xor), fully determined by the slot
    * set. Complete-mode memory table. */
  def streamBloomTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-bloom", {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.graftshim.{GraftShims, KmvAgg}
      tune(s)
      val src = eventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_bloom_" + math.abs(sfDir.hashCode).toString
      val m = 1 << 20; val k = 5; val cap = 4096
      val hm = graft.functions.Portable.uhashBase(col("payload").cast("string"))
      // all k slot exprs explode first; KmvAgg then dedups + bounds the set
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withWatermark("ts", "1 hour")
        .select(col("ts"), explode(array((0 until k).map(i =>
          graft.functions.Portable.uhash(i, hm) % m): _*)).as("slot"))
        .groupBy(window(col("ts"), "1 hour"))
        .agg(GraftShims.column(KmvAgg(
          GraftShims.expr(col("slot")), cap).toAggregateExpression()).as("_ss"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"),
          size(col("_ss")).cast("long").as("n_slots"),
          element_at(col("_ss"), 1).as("slot_min"),
          element_at(col("_ss"), size(col("_ss"))).as("slot_max"),
          expr("aggregate(_ss, 0L, (a, x) -> a ^ x)").as("slot_xor"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming SAMPLE-QUANTILES per hour window: the bounded
    * [[org.apache.spark.sql.graftshim.QuantileSampleAgg]] (bottom-64-by-hash
    * row sample of payload lengths, rowKey = base_offset) inside a windowed
    * streaming aggregation — its serialize/merge path rides the state store
    * across ~8 rate-limited micro-batches, completing the streaming twins
    * for all four bounded-state sketch families (KMV, CMS, Bloom, quantile
    * sample). State ≤ 64 (hash, value) pairs per in-flight window.
    * Complete-mode memory table. */
  def streamQuantileTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-qs", {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.graftshim.{GraftShims, QuantileSampleAgg}
      tune(s)
      val src = eventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_qs_" + math.abs(sfDir.hashCode).toString
      val kept = GraftShims.column(QuantileSampleAgg(
        GraftShims.expr(graft.functions.Portable.hash60(col("base_offset").cast("string"))),
        GraftShims.expr(length(col("payload").cast("string")).cast("long")), 64)
        .toAggregateExpression())
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(kept.as("_vals"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"), col("_vals"))
        .select(col("hour_start_ms"),
          explode(array(lit(0L), lit(500L), lit(1000L))).as("permille"), col("_vals"))
        .select(col("hour_start_ms"), col("permille"),
          graft.operators.Stats.sampleQuantileRead(col("_vals"), col("permille"))
            .as("q_value"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming K-PER-WINDOW uniform sample: the bounded
    * [[org.apache.spark.sql.graftshim.TopKAgg]] sampler (20 smallest
    * seeded-hash draws per hour window) inside a windowed streaming
    * aggregation — with [[streamKmvTable]], [[streamCmsTable]],
    * [[streamBloomTable]] and [[streamQuantileTable]] this puts ALL five
    * bounded-state aggregate families through the state-store
    * serialize/merge path. State ≤ 20 (hash, id) pairs per in-flight
    * window. Complete-mode memory table. */
  def streamSampleTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-sample", {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.graftshim.{GraftShims, TopKAgg}
      tune(s)
      val src = eventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_sample_" + math.abs(sfDir.hashCode).toString
      val kept = GraftShims.column(TopKAgg(
        GraftShims.expr(graft.functions.Portable.hash60(7, col("base_offset").cast("string"))),
        GraftShims.expr(col("base_offset")), 20).toAggregateExpression())
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(kept.as("_ks"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"),
          explode(transform(col("_ks"), e => e("v"))).as("event_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** STREAM-STATIC enrichment — the canonical streaming dimension join,
    * completing the join matrix next to the stream-stream join fixture: the
    * eslog stream's records are enriched through TWO chained broadcast
    * joins against static relations (offset → user lookup, then the
    * customer dimension), then aggregated per market segment. Both joins
    * are stateless (no watermark, no join state) — the static sides
    * broadcast once per micro-batch. Complete-mode memory table. */
  def streamDimEnrichTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-dim", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = eventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_dim_" + math.abs(sfDir.hashCode).toString
      val lookup = events(s, sfDir).select(col("event_id"), col("user_id"))
      val cust = s.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("base_offset"))
        .join(broadcast(lookup), col("base_offset") === col("event_id"))
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          min("user_id").as("min_user"), max("user_id").as("max_user"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Stream-stream inner join: the events stream read twice, split into
    * even/odd halves joined on pair id (= id div 2) with an event-time range
    * condition (|gap| <= 1 hour) and watermarks on BOTH sides — the full
    * Structured Streaming join surface. The synthetic events are completely
    * unordered in event time within their month, so the watermark delay (40
    * days) must cover the whole span for a deterministic replay — that IS the
    * knob's meaning (out-of-orderness tolerance); a production source with
    * bounded disorder uses a tight delay and gets state eviction. */
  def streamJoinTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-join", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = eventsStream(s, sfDir)
      val name = "graft_stream_join_" + math.abs(sfDir.hashCode).toString
      def side = s.readStream.format("eslog").load(src)
        .withColumn("ts", timestamp_millis(col("base_timestamp")))
        .withColumn("event_type", col("properties")("event_type"))
      val evens = side.where(col("base_offset") % 2 === 0)
        .select(expr("base_offset div 2").as("pair_id"),
          col("base_offset").as("even_id"), col("event_type").as("even_type"),
          col("ts").as("even_ts"))
        .withWatermark("even_ts", "40 days")
      val odds = side.where(col("base_offset") % 2 === 1)
        .select(expr("base_offset div 2").as("odd_pair_id"),
          col("base_offset").as("odd_id"), col("event_type").as("odd_type"),
          col("ts").as("odd_ts"))
        .withWatermark("odd_ts", "40 days")
      val joined = evens.join(odds,
        col("pair_id") === col("odd_pair_id") &&
          col("odd_ts") >= col("even_ts") - expr("INTERVAL 1 HOUR") &&
          col("odd_ts") <= col("even_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("pair_id"), col("even_id"), col("odd_id"),
          col("even_type"), col("odd_type"))
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming stateful dedup (dropDuplicates on a derived key) into an
    * append-mode memory table; returns the result table name. */
  def streamDedupTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-dedup", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = eventsStream(s, sfDir)
      val name = "graft_stream_dedup_" + math.abs(sfDir.hashCode).toString
      // ~10 micro-batches at any scale factor
      val perTrigger = math.max(events(s, sfDir).count() / 10, 1000L)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .withColumn("k", col("base_offset") % 100)
        .dropDuplicates("k")
        .select("k")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Straddle-stream clone, sealed and compacted to one file per segment. */
  def compactedStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "compacted") { dir =>
      val in = s.range(1000).select(
        col("id"),
        col("id").cast("string").cast("binary").as("payload"),
        (col("id") % 3 + 1).cast("int").as("last_offset_delta"))
      EsLog.create(dir, streamId = 47L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("id"), numPartitions = 8)
      EsLog.seal(dir)
      EsLog.compact(s, dir, targetBytes = Long.MaxValue)
      require(MetaLog.load(dir).allFiles.size == 1, "compaction did not merge files")
      ()
    }

  /** Catalog with allocated ids and registered streams. */
  def catalogRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "catalog") { root =>
      val cat = new graft.eslog.EsCatalog(root)
      cat.allocateId() // burn id 0 (ALLOCATE_ID as a standalone op)
      cat.createStream("alpha")
      cat.createStream("beta", replica = 3)
      cat.createStream("gamma", retentionMs = 86400000L)
      cat.dropStream("beta")
      EsLog.open(cat.streamDir("alpha"), 1L)
      EsLog.append(s, cat.streamDir("alpha"),
        s.range(7).select(col("id"), col("id").cast("string").cast("binary").as("payload")),
        1L, numPartitions = 1)
      ()
    }

  /** Catalog-wide lag fixture: two streams (events split by parity), group
    * "etl" committed at half of lagA's head, "audit" fully caught up on
    * lagB — the --all-groups admin sweep's input, positions derivable from
    * the events table. */
  def catalogLagRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "catalog-lag") { root =>
      val cat = new graft.eslog.EsCatalog(root)
      val ev = eventBatches(s, sfDir)
      Seq(("lagA", 0), ("lagB", 1)).foreach { case (name, r) =>
        cat.createStream(name)
        val dir = cat.streamDir(name)
        EsLog.open(dir, 1L)
        EsLog.append(s, dir, ev.where(col("event_id") % 2 === r), 1L,
          sortKey = Some("event_id"), numPartitions = 2)
      }
      val aHead = EsLog.nextOffset(cat.streamDir("lagA"))
      require(EsLog.commitGroupOffset(cat.streamDir("lagA"), "etl", aHead / 2, None))
      val bHead = EsLog.nextOffset(cat.streamDir("lagB"))
      require(EsLog.commitGroupOffset(cat.streamDir("lagB"), "audit", bHead, None))
      ()
    }

  /** Catalog with a fan-out pipeline CRASHED mid-apply — the stuck-pipeline
    * shape [[graft.eslog.EsCatalog.fanOutIntents]] exists to surface: the
    * source holds even events with group `fan` committed at half the head;
    * a fan-out run to two destinations cut the intent `(head/2, head)`,
    * applied destination 0, and died (the crash-injection hook) before
    * destination 1 — so ONE in-flight intent survives, deterministically. */
  def catalogFanOutIntentRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "catalog-fanout-intent") { root =>
      val cat = new graft.eslog.EsCatalog(root)
      Seq("src", "d0", "d1").foreach(n => cat.createStream(n))
      val srcDir = cat.streamDir("src")
      EsLog.open(srcDir, 1L)
      EsLog.append(s, srcDir, eventBatches(s, sfDir).where(col("event_id") % 2 === 0),
        1L, sortKey = Some("event_id"), numPartitions = 2)
      Seq("d0", "d1").foreach(n => EsLog.open(cat.streamDir(n), 1L))
      val head = EsLog.nextOffset(srcDir)
      require(EsLog.commitGroupOffset(srcDir, "fan", head / 2, None))
      val crashed = try {
        EsLog.fanOutRun(s, srcDir, Seq(cat.streamDir("d0"), cat.streamDir("d1")),
          "fan", 1L, None,
          afterApply = i => if (i == 0) throw new RuntimeException("seeded crash"))(
          (slice, _) => slice.select(col("payload")))
        false
      } catch { case e: RuntimeException if e.getMessage == "seeded crash" => true }
      require(crashed, "the fixture's fan-out run must crash after destination 0")
      ()
    }

  /** Catalog with three event streams (events split by `event_id % 3`,
    * stream ids 0/1/2 matching the residue) — the whole-namespace
    * subscription input. */
  def catalogSubscribeRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "catalog-sub") { root =>
      val cat = new graft.eslog.EsCatalog(root)
      val ev = events(s, sfDir).select(
        col("event_id"),
        col("event_type").cast("binary").as("payload"),
        expr("ts div 1000000").as("base_timestamp"))
      (0 until 3).foreach { r =>
        val name = s"s$r"
        cat.createStream(name)
        val dir = cat.streamDir(name)
        EsLog.open(dir, 1L)
        EsLog.append(s, dir, ev.where(col("event_id") % 3 === r), 1L,
          sortKey = Some("event_id"), numPartitions = 2)
      }
      ()
    }

  /** Whole-catalog subscription: ONE streaming query over every stream of
    * [[catalogSubscribeRoot]] (`option("scan", "catalog")`), rate-limited so
    * the vector offset advances across several micro-batches, drained into a
    * memory table; returns the table name. */
  def catalogSubscribeTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#catalog-sub-table", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val root = catalogSubscribeRoot(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 6, 1L)
      val name = "graft_catalog_sub_" + math.abs(sfDir.hashCode).toString
      val q = s.readStream.format("eslog")
        .option("scan", "catalog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(root)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Catalog with a name-reuse lifecycle for the REGISTRY watch: create
    * alpha/beta/gamma, drop beta, recreate beta (fresh id 3 — exercises the
    * tombstone purge and the revision semantics that make reuse
    * unambiguous). Deterministic commit sequence → deterministic
    * (revision, op, name, stream_id) events. */
  def catalogWatchRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "catalog-watch") { root =>
      val cat = new graft.eslog.EsCatalog(root)
      cat.createStream("alpha")
      cat.createStream("beta")
      cat.createStream("gamma")
      cat.dropStream("beta")
      cat.createStream("beta")
      ()
    }

  /** Registry WATCH_RESOURCE feed: [[catalogWatchRoot]]'s registry streamed
    * as a change feed into a memory table; returns the table name. */
  def catalogWatchTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#catalog-watch-table", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val cat = new graft.eslog.EsCatalog(catalogWatchRoot(s, sfDir))
      val name = "graft_catalog_watch_" + math.abs(sfDir.hashCode).toString
      val q = cat.watchRegistry(s)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** WATCH_RESOURCE feed: the kv fixture's metadata log streamed as a change
    * feed into a memory table; returns the table name. */
  def streamWatchTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-watch", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = kvStream(s, sfDir)
      val name = "graft_stream_watch_" + math.abs(sfDir.hashCode).toString
      val q = s.readStream.format("eslog")
        .option("watch", "metadata")
        .load(src)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Events stream carrying user_id in properties (for sessionization). */
  def userEventsStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "user-events") { dir =>
      val in = events(s, sfDir).select(
        col("event_id"),
        col("props").cast("binary").as("payload"),
        map(lit("user_id"), col("user_id").cast("string")).as("properties"),
        expr("ts div 1000000").as("base_timestamp"))
      EsLog.create(dir, streamId = 48L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("event_id"), numPartitions = 4)
      ()
    }

  /** Events with BOTH user_id and event_type in properties — the
    * enrichment-stream input (base_offset = event_id). */
  def enrichEventsStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "enrich-events") { dir =>
      val in = events(s, sfDir).select(
        col("event_id"),
        col("props").cast("binary").as("payload"),
        map(lit("user_id"), col("user_id").cast("string"),
          lit("event_type"), col("event_type")).as("properties"),
        expr("ts div 1000000").as("base_timestamp"))
      EsLog.create(dir, streamId = 49L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("event_id"), numPartitions = 4)
      ()
    }

  /** Streaming as-of enrichment over [[enrichEventsStream]]: views probe the
    * latest click the stream had delivered for that user (strictly earlier
    * offset). Rate-limited to ~8 micro-batches so cross-batch GroupState is
    * actually exercised; the result is chunking-invariant by design. */
  def streamEnrichTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-enrich", {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      tune(s)
      val src = enrichEventsStream(s, sfDir)
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_enrich_" + math.abs(sfDir.hashCode).toString
      val ds = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .where(col("properties")("event_type").isin("view", "click"))
        .select(col("properties")("user_id").cast("long").as("user_id"),
          col("base_offset").as("offset"),
          (col("properties")("event_type") === "click").as("is_right"),
          col("base_timestamp").as("t"))
        .as[graft.operators.EnrichEvent]
      val q = graft.operators.AsOfJoin.streamingEnrich(ds).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** Streaming gap-sessionization (flatMapGroupsWithState) over the stream;
    * returns the memory table of sessions the stream has closed. */
  def streamSessionsTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-sessions", {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      tune(s)
      val src = userEventsStream(s, sfDir)
      val name = "graft_stream_sessions_" + math.abs(sfDir.hashCode).toString
      val eventsDs = s.readStream.format("eslog").load(src)
        .select(col("properties")("user_id").cast("long").as("user_id"),
          col("base_timestamp").as("t"))
        .as[graft.operators.SessionEvent]
      val q = graft.operators.Sessionize.streamingClosed(eventsDs, gapMs = 86400000L)
        .toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** The documents table as an eslog stream (two epochs, split at n/2) —
    * the "crawl arriving as a stream" side of the screening fixtures.
    * payload = UTF-8 text bytes, properties carry the doc id. */
  def docsStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "docs") { dir =>
      val in = documents(s, sfDir).select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        map(lit("doc_id"), col("doc_id").cast("string")).as("properties"),
        col("doc_id").as("base_timestamp"))
      // split at the id MEDIAN, not count/2: sparse or offset doc ids must
      // still land half the rows in each epoch (two-epoch coverage is the
      // point of this fixture)
      val k = in.selectExpr("percentile(doc_id, 0.5)").first().getDouble(0)
      EsLog.create(dir, streamId = 82L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in.where(col("doc_id") < k), 1L,
        sortKey = Some("doc_id"), numPartitions = 4)
      EsLog.open(dir, 2L)
      EsLog.append(s, dir, in.where(col("doc_id") >= k), 2L,
        sortKey = Some("doc_id"), numPartitions = 4)
    }

  /** Streaming IVF index maintenance — the streaming half of FAISS `add()`
    * ([[graft.operators.Similarity.appendToIvfIndex]]): the index is BUILT
    * on the even-vec_id half (quantizer fixed), the odd half arrives as an
    * eslog stream (payload = JSON of the float array — Jackson float
    * round-trips are exact) and every micro-batch extends the index via
    * `foreachBatch`. Multi-batch appends produce the same cell rows as one
    * batch append, so the search row shares `sim_ivf_append`'s oracle.
    * Returns the fixture root; the index lives at `<root>/index`. */
  def streamIvfAppendRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "stream-ivf-append") { root =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Similarity
      tune(s)
      val emb = embeddings(s, sfDir)
      val idx = s"$root/index"
      Similarity.writeIvfIndex(Similarity.buildIvfIndexSampled(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", nlist = 16), idx)
      val src = s"$root/src"
      val odd = emb.where(col("vec_id") % 2 === 1).select(
        col("vec_id"),
        to_json(col("embedding")).cast("binary").as("payload"),
        map(lit("vec_id"), col("vec_id").cast("string")).as("properties"))
      EsLog.create(src, streamId = 83L)
      EsLog.open(src, 1L)
      EsLog.append(s, src, odd, 1L, sortKey = Some("vec_id"), numPartitions = 2)
      val perTrigger = math.max(emb.where(col("vec_id") % 2 === 1).count() / 4, 1L)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(
          col("properties")("vec_id").cast("long").as("vec_id"),
          from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)).as("embedding"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         bid: Long) =>
          // the micro-batch id IS the replay guard: a restarted/retried
          // batch re-offers the same bid and the index append skips it
          Similarity.appendToIvfIndex(s, idx, batch, "vec_id", "embedding",
            batchId = Some(s"stream-$bid"))
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      ()
    }

  /** Streaming LSH index maintenance — [[streamIvfAppendRoot]]'s twin on
    * the hyperplane-LSH family ([[graft.operators.Similarity
    * .appendToLshIndex]]): index built on the even-vec_id half, the odd
    * half arrives as an eslog stream and every micro-batch extends the
    * index via `foreachBatch` (micro-batch id = replay guard). The
    * hyperplanes are POSITIONALLY derived, so the streamed index is
    * BIT-IDENTICAL to a one-pass build over the full corpus — the search
    * row shares `sim_lsh`'s oracle. Returns the fixture root; the index
    * lives at `<root>/index`. */
  def streamLshAppendRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "stream-lsh-append") { root =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Similarity
      tune(s)
      val emb = embeddings(s, sfDir)
      val idx = s"$root/index"
      Similarity.writeLshIndex(Similarity.buildLshIndex(
        emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding",
        dim = 64, planes = 8, tables = 4), idx)
      val src = s"$root/src"
      val odd = emb.where(col("vec_id") % 2 === 1).select(
        col("vec_id"),
        to_json(col("embedding")).cast("binary").as("payload"),
        map(lit("vec_id"), col("vec_id").cast("string")).as("properties"))
      EsLog.create(src, streamId = 85L)
      EsLog.open(src, 1L)
      EsLog.append(s, src, odd, 1L, sortKey = Some("vec_id"), numPartitions = 2)
      val perTrigger = math.max(emb.where(col("vec_id") % 2 === 1).count() / 4, 1L)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(
          col("properties")("vec_id").cast("long").as("vec_id"),
          from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)).as("embedding"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         bid: Long) =>
          Similarity.appendToLshIndex(s, idx, batch, "vec_id", "embedding",
            batchId = Some(s"stream-$bid"))
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      ()
    }

  /** Streaming PQ index maintenance — the fifth stream-mutates-the-artifact
    * member ([[graft.operators.Similarity.appendToPqIndex]]): codebooks
    * trained on the even-vec_id half (books fixed at build), the odd half
    * arrives as an eslog stream and every micro-batch extends the persisted
    * index via `foreachBatch` (batch id = replay guard). Encoding is
    * deterministic per row, so the streamed index ADC-scores BIT-IDENTICALLY
    * to the batch-appended one — the search row shares `sim_pq_append`'s
    * oracle. The even-trained books are recomputed by the QUERY (they must
    * feed the oracle stash every run), so this fixture takes them as input.
    * Returns the fixture root; the index lives at `<root>/index`. */
  def streamPqAppendRoot(s: SparkSession, sfDir: String,
                         books: Array[Array[Array[Double]]]): String =
    fixture(sfDir, "stream-pq-append") { root =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Similarity
      tune(s)
      val emb = embeddings(s, sfDir)
      val idx = s"$root/index"
      Similarity.writePqIndex(Similarity.PqIndex(
        Similarity.pqBooksToDF(s, books),
        Similarity.pqEncode(emb.where(col("vec_id") % 2 === 0),
          "vec_id", "embedding", books)
          .select(col("vec_id").as("nid"), col("codes"))), idx)
      val src = s"$root/src"
      val odd = emb.where(col("vec_id") % 2 === 1).select(
        col("vec_id"),
        to_json(col("embedding")).cast("binary").as("payload"),
        map(lit("vec_id"), col("vec_id").cast("string")).as("properties"))
      EsLog.create(src, streamId = 87L)
      EsLog.open(src, 1L)
      EsLog.append(s, src, odd, 1L, sortKey = Some("vec_id"), numPartitions = 2)
      val perTrigger = math.max(emb.where(col("vec_id") % 2 === 1).count() / 4, 1L)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(
          col("properties")("vec_id").cast("long").as("vec_id"),
          from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)).as("embedding"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         bid: Long) =>
          Similarity.appendToPqIndex(s, idx, batch, "vec_id", "embedding",
            batchId = Some(s"stream-$bid"))
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      ()
    }

  /** Streaming IVF-PQ index maintenance — the sixth
    * stream-mutates-the-artifact member ([[graft.operators.Similarity
    * .appendToIvfPqIndex]]): both quantizers trained on the even-vec_id
    * half (fixed at build), the odd half arrives as an eslog stream and
    * every micro-batch extends the persisted composed index via
    * `foreachBatch` (batch id = replay guard). Assignment and encoding are
    * deterministic per row, so the streamed index searches BIT-IDENTICALLY
    * to the batch-appended one — the search row shares
    * `sim_ivf_pq_append`'s oracle. Quantizers arrive as input (the QUERY
    * recomputes them every run to feed the oracle stash). */
  def streamIvfPqAppendRoot(s: SparkSession, sfDir: String,
                            cents: Array[Array[Double]],
                            books: Array[Array[Array[Double]]]): String =
    fixture(sfDir, "stream-ivfpq-append") { root =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Similarity
      tune(s)
      val emb = embeddings(s, sfDir)
      val idx = s"$root/index"
      Similarity.writeIvfPqIndex(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", idx, cents, books)
      val src = s"$root/src"
      val odd = emb.where(col("vec_id") % 2 === 1).select(
        col("vec_id"),
        to_json(col("embedding")).cast("binary").as("payload"),
        map(lit("vec_id"), col("vec_id").cast("string")).as("properties"))
      EsLog.create(src, streamId = 88L)
      EsLog.open(src, 1L)
      EsLog.append(s, src, odd, 1L, sortKey = Some("vec_id"), numPartitions = 2)
      val perTrigger = math.max(emb.where(col("vec_id") % 2 === 1).count() / 4, 1L)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(
          col("properties")("vec_id").cast("long").as("vec_id"),
          from_json(col("payload").cast("string"),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)).as("embedding"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         bid: Long) =>
          Similarity.appendToIvfPqIndex(s, idx, batch, "vec_id", "embedding",
            batchId = Some(s"stream-$bid"))
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      ()
    }

  /** Streaming media chunk-library maintenance — the fourth
    * stream-mutates-the-artifact member ([[graft.operators.Multimodal
    * .appendToMediaLibraryIndex]]): the library is BUILT on the even-id
    * docs, the `doc_id % 4 == 1` quarter arrives as an eslog stream in
    * exactly 4 deterministic micro-batches (`maxOffsetsPerTrigger =
    * ceil(n/4)`, offsets doc_id-sorted so batch membership is row_number
    * arithmetic) and every micro-batch extends the persisted index via
    * `foreachBatch` (batch id = replay guard). The df cap applies per
    * MICRO-BATCH slice — the documented incremental contract at ingest
    * cadence — so the oracle re-derives each batch's own cap. Returns the
    * fixture root; the index lives at `<root>/index`. */
  def streamMediaAppendRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "stream-media-append") { root =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Multimodal
      tune(s)
      val docs = documents(s, sfDir)
      val idx = s"$root/index"
      Multimodal.writeMediaLibraryIndex(
        docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("existing_id"),
            col("text").cast("binary").as("payload")),
        "existing_id", "payload", idx, divisor = 16)
      val src = s"$root/src"
      val quarter = docs.where(col("doc_id") % 4 === 1).select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        map(lit("doc_id"), col("doc_id").cast("string")).as("properties"))
      EsLog.create(src, streamId = 86L)
      EsLog.open(src, 1L)
      EsLog.append(s, src, quarter, 1L, sortKey = Some("doc_id"), numPartitions = 2)
      val n = docs.where(col("doc_id") % 4 === 1).count()
      val perTrigger = math.max((n + 3) / 4, 1L) // ceil: exactly 4 batches
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(
          col("properties")("doc_id").cast("long").as("added_id"),
          col("payload"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         bid: Long) =>
          Multimodal.appendToMediaLibraryIndex(s, idx, batch,
            "added_id", "payload", batchId = Some(s"stream-$bid"))
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      ()
    }

  /** Streaming MinHash-index maintenance — the ingest-cadence half of the
    * incremental-dedup production path ("the index appends, each ingest
    * batch probes", [[graft.operators.Dedup.writeMinHashIndex]]): the index
    * is BUILT on the `h % 20 < 13` slice, the `13 <= h % 20 < 19` slice
    * arrives as an eslog stream in exactly 4 micro-batches
    * (`maxOffsetsPerTrigger = ceil(n/4)`, offsets sorted by doc_id so batch
    * membership is pure arithmetic) and every batch extends the persisted
    * index via `foreachBatch` → [[graft.operators.Dedup.appendToMinHashIndex]]
    * with the micro-batch id as the replay guard. The stop-shingle cap is
    * per MICRO-batch here (each append slice caps itself — the documented
    * incremental contract), which the oracle re-derives with one capped
    * CTE per batch. Returns the fixture root; the index lives at
    * `<root>/index`. */
  def streamMinHashAppendRoot(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "stream-minhash-append") { root =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Dedup
      tune(s)
      val docs = documents(s, sfDir)
      val h = graft.functions.Portable.hash60(col("doc_id").cast("string"))
      val idx = s"$root/index"
      Dedup.writeMinHashIndex(docs.where(h % 20 < 13), "doc_id", "text", idx)
      val src = s"$root/src"
      val mid = docs.where(h % 20 >= 13 && h % 20 < 19).select(
        col("doc_id"),
        col("text").cast("binary").as("payload"),
        map(lit("doc_id"), col("doc_id").cast("string")).as("properties"))
      EsLog.create(src, streamId = 84L)
      EsLog.open(src, 1L)
      EsLog.append(s, src, mid, 1L, sortKey = Some("doc_id"), numPartitions = 2)
      val n = docs.where(h % 20 >= 13 && h % 20 < 19).count()
      val perTrigger = math.max((n + 3) / 4, 1L) // ceil: exactly 4 batches
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(
          col("properties")("doc_id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         bid: Long) =>
          Dedup.appendToMinHashIndex(s, idx, batch, "doc_id", "text",
            batchId = Some(s"stream-$bid"))
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      ()
    }

  /** A stream appended in SCRAMBLED time order — `(event_id * 48271) % n` is
    * a permutation of 0..n-1 (48271 is coprime to any n without it as a
    * factor; fixture requires it), so `base_offset = skey` exactly and the
    * oracle predicts offsets with pure arithmetic, while consecutive offsets
    * carry wildly non-consecutive timestamps: the "late/out-of-order data
    * destroyed time locality" layout. Then layout-aware compaction rewrites
    * it clustered by `Layout.zValue(hour, event-type hash)` with small row
    * groups — [[graft.eslog.EsLog.compact]]'s OPTIMIZE..ZORDER path. Offsets
    * and rows are unchanged (what the oracle row proves); the row-group
    * skip win is pinned in EsLogSpec. */
  def zorderStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "zorder") { dir =>
      val ev = events(s, sfDir)
      val n = ev.count()
      require(n % 48271L != 0, s"48271 divides event count $n")
      val in = ev.select(
        ((col("event_id") * 48271L) % n).as("skey"),
        col("props").cast("binary").as("payload"),
        map(lit("event_type"), col("event_type")).as("properties"),
        expr("ts div 1000000").as("base_timestamp"))
      EsLog.create(dir, streamId = 83L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("skey"), numPartitions = 8)
      EsLog.seal(dir)
      EsLog.compact(s, dir, targetBytes = Long.MaxValue,
        clusterBy = Seq(graft.operators.Layout.zValue(Seq(
          expr("base_timestamp div 3600000").bitwiseAND(65535L),
          graft.functions.Portable.hash60(
            element_at(col("properties"), "event_type")).bitwiseAND(255L)),
          bits = 16)),
        blockBytes = 64L * 1024)
      require(MetaLog.load(dir).allFiles.size == 1, "compaction did not merge files")
      ()
    }

  /** STREAMING decontamination — "screen tomorrow's crawl against the
    * persisted benchmark sketch", proven end-to-end: the benchmark's k-gram
    * Bloom slot table is built ONCE in batch and persisted (the artifact
    * [[graft.operators.Dedup.decontaminateBloom]]'s scaladoc promises), and
    * the docs stream is screened per micro-batch with STATELESS broadcast
    * semi-joins — one per hash function, because Bloom membership ("all k
    * slots set") needs no aggregation when each probe is its own join — so
    * the ONLY stateful operator is the final per-doc hit count. A gram
    * occurrence survives iff every one of its `hashes` slots is in the
    * sketch; `n_hits` counts surviving occurrences (multiplicity included —
    * per-doc distinct would be a second stateful aggregation, which
    * Structured Streaming does not chain). The flagged DOC SET is exactly
    * `decontaminate_bloom`'s (present iff any gram hits; unit-pinned).
    * The count is keyed by (event-time window, doc), with the watermark
    * declared — in deployment closed windows evict, so in-flight state is
    * bounded by the watermark horizon, not the stream's lifetime (each doc
    * row lands in one window; the verdict itself is batch-local). Complete-
    * mode memory table, like every streaming fixture here. */
  def streamDecontaminateTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-decon", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.functions.Portable
      import graft.operators.{OpUtil, Sampling, Sketch}
      tune(s)
      val src = docsStream(s, sfDir)
      val perTrigger = math.max(documents(s, sfDir).count() / 8, 1L)
      val name = "graft_stream_decon_" + math.abs(sfDir.hashCode).toString
      val m = 1 << 20; val hashes = 5
      val bench = Sampling.sampleByHash(documents(s, sfDir), "doc_id", num = 1, den = 20)
      val bGrams = OpUtil.explodedWordShingles(bench, "doc_id", "text", 3)
        .select(col("g")).distinct()
      // The persisted sketch: materialized once, reused by every micro-batch
      // (an unpersisted static side would re-run the benchmark explode per
      // trigger — exactly what the sketch exists to avoid).
      val slots = Sketch.bloomSketch(bGrams, col("g"), m, hashes).persist()
      slots.count()
      val grams = OpUtil.explodedShinglesFromTokens(
        s.readStream.format("eslog")
          .option("maxOffsetsPerTrigger", perTrigger.toString)
          .load(src)
          .withColumn("ts", timestamp_millis(col("base_timestamp")))
          .withWatermark("ts", "1 hour")
          .select(col("properties")("doc_id").cast("long").as("doc"),
            split(col("payload").cast("string"), " ").as("toks"), col("ts")), k = 3)
        .withColumnRenamed("doc", "doc_id")
      val hm = Portable.uhashBase(col("g"))
      val probed = (0 until hashes).foldLeft(
        grams.select(col("doc_id") +: col("ts") +: (0 until hashes)
          .map(i => (Portable.uhash(i, hm) % m).as(s"_s$i")): _*)) { (df, i) =>
        df.join(broadcast(slots.select(col("slot").as(s"_slot$i"))),
          df(s"_s$i") === col(s"_slot$i"), "left_semi")
      }
      val q = probed.groupBy(window(col("ts"), "1 hour"), col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("doc_id"), col("n_hits"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      slots.unpersist()
      name
    })

  /** The tail of the embeddings table (vec_id >= 400, the "new crawl") as an
    * eslog stream: payload = JSON of the float vector (the codec-free way to
    * carry an array through the binary payload; decode round-trip is
    * unit-pinned), properties carry the id, base_timestamp = vec_id. */
  def embeddingsStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "embstream") { dir =>
      val in = embeddings(s, sfDir).where(col("vec_id") >= 400).select(
        col("vec_id"),
        to_json(struct(col("embedding"))).cast("binary").as("payload"),
        map(lit("vec_id"), col("vec_id").cast("string")).as("properties"),
        col("vec_id").as("base_timestamp"))
      EsLog.create(dir, streamId = 84L)
      EsLog.open(dir, 1L)
      EsLog.append(s, dir, in, 1L, sortKey = Some("vec_id"), numPartitions = 4)
      ()
    }

  /** STREAMING semantic screening — "flag near-duplicate embeddings in the
    * crawl stream against the persisted corpus index": the IVF index is
    * built ONCE in batch from the existing corpus (vec_id < 400) and
    * persisted; each micro-batch of incoming vectors decodes, assigns its
    * nearest cell with the window-free argmax expression and broadcast-joins
    * ONLY that cell's members — completely STATELESS (append-mode output,
    * nothing in the state store; the streaming sibling of
    * `dedup_semantic_probe`). */
  def streamSemanticTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-semantic", {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      import graft.operators.{Dedup, Similarity}
      tune(s)
      val src = embeddingsStream(s, sfDir)
      val emb = embeddings(s, sfDir)
      val idx = Similarity.buildIvfIndexSampled(
        emb.where(col("vec_id") < 400), "vec_id", "embedding", nlist = 16)
      val cells = idx.cells.persist()
      cells.count() // materialize once; every micro-batch reuses it
      val perTrigger = math.max(emb.where(col("vec_id") >= 400).count() / 6, 1L)
      val name = "graft_stream_semantic_" + math.abs(sfDir.hashCode).toString
      val payloadSchema = new StructType()
        .add("embedding", ArrayType(FloatType))
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("vec_id").cast("long").as("vec_id"),
          from_json(col("payload").cast("string"), payloadSchema)
            .getField("embedding").as("embedding"))
      val q = Dedup.semanticProbeStream(
          Similarity.IvfIndex(idx.centroids, cells), stream,
          "vec_id", "embedding", threshold = 0.4)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      cells.unpersist()
      name
    })

  /** STREAMING PCA projection — "compress embeddings at ingest": the model
    * is trained ONCE in batch (the caller's, so it equals `sim_pca`'s) and
    * each micro-batch of incoming vectors projects through the codegen'd
    * affine pass — completely STATELESS (the components are plan literals;
    * the write-path-map shape of [[graft.operators.Similarity.pcaProject]]
    * at streaming cadence). */
  def streamPcaTable(s: SparkSession, sfDir: String,
                     model: graft.operators.Similarity.PcaModel): String =
    cache.getOrElseUpdate(s"$sfDir#stream-pca", {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      import graft.operators.Similarity
      tune(s)
      val src = embeddingsStream(s, sfDir)
      val emb = embeddings(s, sfDir)
      val perTrigger = math.max(emb.where(col("vec_id") >= 400).count() / 6, 1L)
      val name = "graft_stream_pca_" + math.abs(sfDir.hashCode).toString
      val payloadSchema = new StructType()
        .add("embedding", ArrayType(FloatType))
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("vec_id").cast("long").as("vec_id"),
          from_json(col("payload").cast("string"), payloadSchema)
            .getField("embedding").as("embedding"))
      val q = Similarity.pcaProject(stream, "vec_id", "embedding", model)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("i", "yi")))
        .select(col("vec_id"), col("i").cast("int").as("i"), col("yi"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** STREAMING fuzzy decontamination — "screen the crawl stream against
    * the benchmark as it arrives": the benchmark is static; each
    * micro-batch of incoming docs runs the banded-candidate + true-Jaccard
    * probe as a batch job per trigger (`foreachBatch` — the probe's
    * verify needs a per-batch groupBy/window, so it is not stream-legal
    * inline; stateless ACROSS triggers, results append to parquet). The
    * corpus-side stop-shingle cap is disabled (`maxDf = MaxValue`): a cap
    * computed per micro-batch would make results depend on trigger
    * boundaries, and a probe's candidate count is bounded by the
    * benchmark side regardless — the documented slice-local-cap contract
    * applied by REMOVING the slice-dependence. Micro-batch boundaries
    * therefore cannot change the flagged set: every per-doc verdict
    * depends only on the doc and the static benchmark. */
  def streamDecontaminateFuzzyDir(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "stream-decon-fuzzy") { dir =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.{Dedup, Sampling}
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val bench = Sampling.sampleByHash(docs, "doc_id", num = 1, den = 20).persist()
      bench.count() // static side materialized once, reused per trigger
      val out = MetaLog.join(dir, "flagged")
      val perTrigger = math.max(docs.count() / 8, 1L)
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          // batchId-keyed OVERWRITE, not a flat append: foreachBatch offers
          // at-least-once — a replayed trigger rewrites its own directory
          // byte-equivalently instead of appending duplicate flagged rows
          Dedup.decontaminateFuzzy(batch, bench, "doc_id", "text",
            k = 3, numHashes = 16, bands = 4, threshold = 0.5,
            maxDf = Long.MaxValue)
            .write.mode("overwrite").parquet(MetaLog.join(out, s"batch=$batchId"))
          ()
        }
        .option("checkpointLocation", MetaLog.join(dir, "ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000),
        "streamDecontaminateFuzzyDir: query did not drain within 300 s — " +
          "a partial 'flagged' table would fail the oracle confusingly")
      bench.unpersist()
      ()
    }

  /** STREAMING diversity draw — "keep a cluster-balanced reservoir of the
    * incoming embedding stream": the sampled coarse quantizer is built ONCE
    * in batch from the existing corpus (vec_id < 400, the
    * [[graft.operators.Similarity.buildIvfIndexSampled]] centroids — plain
    * SQL-reproducible, so the oracle needs no spliced literals); each
    * micro-batch assigns cells with the window-free argmax expression
    * (stateless), and the only state is the per-cell bounded draw — ≤ 6
    * (hash, id) pairs per cell in [[org.apache.spark.sql.graftshim
    * .TopKAgg]], riding the state store across micro-batches. The streaming
    * sibling of `sample_diverse`. Complete-mode memory table. */
  def streamDiverseTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-diverse", {
      import org.apache.spark.sql.streaming.Trigger
      import org.apache.spark.sql.types._
      import org.apache.spark.sql.graftshim.{GraftShims, TopKAgg}
      import graft.operators.Similarity
      tune(s)
      val src = embeddingsStream(s, sfDir)
      val emb = embeddings(s, sfDir)
      val cdf = emb.where(col("vec_id") < 400)
        .select(col("vec_id").as("cid"), col("embedding").cast("array<double>").as("cvec"))
        .orderBy("cid").limit(16)
      val perTrigger = math.max(emb.where(col("vec_id") >= 400).count() / 6, 1L)
      val name = "graft_stream_diverse_" + math.abs(sfDir.hashCode).toString
      val payloadSchema = new StructType().add("embedding", ArrayType(FloatType))
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("vec_id").cast("long").as("vec_id"),
          from_json(col("payload").cast("string"), payloadSchema)
            .getField("embedding").as("embedding"))
      val kept = GraftShims.column(TopKAgg(
        GraftShims.expr(graft.functions.Portable.hash60(11, col("nid").cast("string"))),
        GraftShims.expr(col("nid")), 6).toAggregateExpression())
      val q = Similarity.assignCellsExpr(stream, "vec_id", "embedding", cdf)
        .groupBy("cell").agg(kept.as("_ks"))
        .select(col("cell"), explode(transform(col("_ks"), e => e("v"))).as("vec_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** STREAMING classifier gate — "score tomorrow's crawl with the trained
    * model": the quantized model is fit ONCE in batch (deterministic, so it
    * equals `text_classify`'s) and each micro-batch of the docs stream is
    * scored by the per-row expression form
    * ([[graft.operators.TextClassifier.scoreLinearExpr]]) — STATELESS
    * (the id-keyed join form would be a stateful streaming aggregation).
    * Completes the persisted-artifact streaming triple: sketch →
    * es_stream_decontaminate, ANN index → es_stream_semantic, model →
    * this. */
  def streamClassifyTable(s: SparkSession, sfDir: String,
                          model: graft.operators.TextClassifier.LinearModel): String =
    cache.getOrElseUpdate(s"$sfDir#stream-classify", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.TextClassifier
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val perTrigger = math.max(docs.count() / 8, 1L)
      val name = "graft_stream_classify_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
      val q = TextClassifier.scoreLinearExpr(stream, "doc_id", "text", model)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** STREAMING container decode — "screen the crawl's media as it
    * arrives": a stream whose record payloads ARE genuine ISO-BMFF bytes
    * ([[syntheticMp4]] appended as the binary payload column), drained in
    * 8 rate-limited micro-batches through a stateless typed mapPartitions
    * decode (one decoder instance per partition — the deployment batch
    * shape, [[graft.operators.Multimodal.decodeMedia]]'s plumbing), NO
    * streaming state anywhere. The streaming sibling of
    * `multimodal_decode_mp4` — identical result set, same oracle. */
  def streamMediaDecodeTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-media-decode", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = fixture(sfDir, "media-decode-src") { d =>
        import s.implicits._
        val recs = documents(s, sfDir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, syntheticMp4(id))))
          .toDF("doc_id", "payload")
          .select(col("payload"),
            map(lit("doc_id"), col("doc_id").cast("string")).as("properties"))
        EsLog.create(d, streamId = 77L)
        EsLog.open(d, 1L)
        EsLog.append(s, d, recs, 1L)
        ()
      }
      val n = documents(s, sfDir).count()
      val name = "graft_stream_media_decode_" + math.abs(sfDir.hashCode).toString
      import s.implicits._
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", math.max(n / 8, 1L).toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("media_id"),
          col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val m = graft.operators.MediaCodecs.decodeMp4(bytes)
          (id, m.brand, m.nTracks.toLong, m.width.toLong, m.height.toLong,
            m.durationMs, m.nSamples, m.audioRate, m.codecs.mkString(","))
        })
        .toDF("media_id", "brand", "n_tracks", "width", "height",
          "duration_ms", "n_samples", "audio_rate", "codecs")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** STREAMING sample-table walk — "index the crawl's media samples as it
    * arrives": record payloads are genuine stsc/stco-tabled MP4s
    * ([[syntheticMp4Samples]]), each micro-batch flatMapped through
    * [[graft.operators.MediaCodecs.mp4SampleTable]] to per-sample byte
    * ranges, stateless. The streaming sibling of `multimodal_mp4_samples` —
    * identical result set, same oracle. */
  def streamMp4SamplesTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-mp4-samples", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = fixture(sfDir, "mp4-samples-src") { d =>
        import s.implicits._
        val recs = documents(s, sfDir).select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id => (id, syntheticMp4Samples(id))))
          .toDF("doc_id", "payload")
          .select(col("payload"),
            map(lit("doc_id"), col("doc_id").cast("string")).as("properties"))
        EsLog.create(d, streamId = 78L)
        EsLog.open(d, 1L)
        EsLog.append(s, d, recs, 1L)
        ()
      }
      val n = documents(s, sfDir).count()
      val name = "graft_stream_mp4_samples_" + math.abs(sfDir.hashCode).toString
      import s.implicits._
      val q = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", math.max(n / 8, 1L).toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("media_id"),
          col("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          val t = graft.operators.MediaCodecs.mp4SampleTable(bytes)
          t.samples.map(sm => (id, sm.trackId.toLong, sm.sampleIdx,
            sm.byteOffset - t.mdatStart, sm.size, sm.dts))
        })
        .toDF("media_id", "track_id", "sample_idx", "rel_offset", "size", "dts")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      name
    })

  /** STREAMING temperature rebalancing — "α-sample the crawl as it
    * arrives": the (source, threshold) artifact is computed ONCE in batch
    * ([[graft.operators.Sampling.temperatureThresholds]] — a static
    * broadcast table, so the per-row draw is a stream-legal codegen'd
    * filter, completely STATELESS). The stream carries doc ids; the source
    * label rides a stream-static broadcast join with the documents table
    * (the deployment shape where the routing table is a dimension). The
    * streaming sibling of `sample_temperature` — identical kept set. */
  def streamTemperatureTable(s: SparkSession, sfDir: String,
                             thr: Seq[(String, Long)]): String =
    cache.getOrElseUpdate(s"$sfDir#stream-temperature", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Sampling
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val srcMap = docs.select(col("doc_id"), col("source")).persist()
      srcMap.count() // materialize once; every micro-batch broadcasts it
      val perTrigger = math.max(docs.count() / 8, 1L)
      val name = "graft_stream_temperature_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"))
        .join(broadcast(srcMap), Seq("doc_id"))
      val q = Sampling.sampleTemperatureWith(stream, "doc_id", "source",
          thr, seed = 5)
        .select("doc_id", "source")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      srcMap.unpersist()
      name
    })

  /** STREAMING media-dedup screen — "check each upload against the
    * library as it arrives": the library's df-capped CDC chunk index is
    * built ONCE in batch over the even-id docs ([[graft.operators
    * .Multimodal.cdcChunkHashes]]) and persisted; each micro-batch of the
    * docs stream chunks statelessly and probes it ([[Multimodal
    * .mediaDedupProbe]] — stream-static join; the pair-count aggregate is
    * the only state). Complete-mode memory table. */
  def streamMediaDedupTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-media-dedup", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Multimodal
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val library = docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("existing_id"),
          col("text").cast("binary").as("payload"))
      val idx = Multimodal.cdcChunkHashes(library, "existing_id", "payload")
        .persist()
      idx.count() // materialize once; every micro-batch re-joins it
      val perTrigger = math.max(docs.count() / 8, 1L)
      val name = "graft_stream_media_dedup_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("media_id"),
          col("payload"))
      val q = Multimodal.mediaDedupProbe(idx, stream, "media_id", "payload",
          divisor = 16, minShared = 4) // fixture scale; deployment default is 16 KiB
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      idx.unpersist()
      name
    })

  /** PERSISTED media-library chunk index over the even-id docs — the same
    * library [[streamMediaDedupTable]] probes in memory, written once per
    * sfDir via [[graft.operators.Multimodal.writeMediaLibraryIndex]]
    * (bucket-partitioned on the chunk hash) so the probe row proves the
    * on-disk deployment shape: partition-pruned, library never shuffled. */
  def mediaLibraryIndexDir(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "media-library-index") { dir =>
      tune(s)
      val library = documents(s, sfDir).where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("existing_id"),
          col("text").cast("binary").as("payload"))
      graft.operators.Multimodal.writeMediaLibraryIndex(
        library, "existing_id", "payload", dir,
        divisor = 16) // fixture scale; the API's default is DeploymentDivisor
    }

  /** STREAMING LM scoring — "score the crawl at ingest against the persisted
    * language model" (CCNet's KenLM-at-ingest role): the bigram-stats
    * artifact is built ONCE in batch ([[graft.operators.TextOps.lmStats]]),
    * each micro-batch of the docs stream scores against it statelessly
    * ([[graft.operators.TextOps.lmScoreWith]] — stream-static gram join);
    * the per-doc sum is the only stateful aggregate. Completes the
    * batch-artifact-screens-live-stream family (sketch → decontaminate,
    * ANN → semantic, classifier → classify, tokenizer → tokenize,
    * LM → score). Complete-mode memory table. */
  def streamLmTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-lm", {
      import org.apache.spark.sql.streaming.Trigger
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val stats = graft.operators.TextOps.lmStats(docs, "doc_id", "text").persist()
      stats.count() // materialize once; every micro-batch re-joins it
      val perTrigger = math.max(docs.count() / 8, 1L)
      val name = "graft_stream_lm_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
      val q = graft.operators.TextOps.lmScoreWith(stream, "doc_id", "text", stats)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      stats.unpersist()
      name
    })

  /** STREAMING quality-bucket assignment — "label the crawl head/middle/tail
    * at ingest": LM stats AND tercile thresholds are batch-built artifacts
    * ([[graft.operators.TextOps.lmStats]]/[[graft.operators.TextOps
    * .lmBucketThresholds]] — thresholds over the FULL corpus, including
    * bigram-less docs); the stream scores and labels against them
    * ([[graft.operators.TextOps.lmBucketsWith]] — broadcast dimension +
    * threshold joins after the score aggregate). Complete-mode memory
    * table. */
  def streamLmBucketsTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-lm-buckets", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.TextOps
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val stats = TextOps.lmStats(docs, "doc_id", "text").persist()
      stats.count()
      val thr = TextOps.lmBucketThresholds(docs, "doc_id", "text", "source").persist()
      thr.count()
      val srcMap = docs.select(col("doc_id"), col("source")).persist()
      srcMap.count()
      val perTrigger = math.max(docs.count() / 8, 1L)
      val name = "graft_stream_lm_buckets_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
      val q = TextOps.lmBucketsWith(stream, "doc_id", "text", srcMap, stats, thr)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      stats.unpersist(); thr.unpersist(); srcMap.unpersist()
      name
    })

  /** STREAMING token-budget admission — "fill the data recipe as the crawl
    * arrives": the per-source running token total is the only state
    * ([[graft.operators.Sampling.tokenBudgetStream]]); delivered as ONE
    * AvailableNow batch here so the admitted set equals the batch
    * operator's exactly (the cross-batch state fold is unit-pinned with
    * awkward chunkings in PlanAuditSpec). Source labels ride the same
    * stream-static dimension join as the temperature twin. */
  def streamTokenBudgetTable(s: SparkSession, sfDir: String): String =
    cache.getOrElseUpdate(s"$sfDir#stream-token-budget", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Sampling
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val srcMap = docs.select(col("doc_id"), col("source"), col("text")).persist()
      srcMap.count()
      val name = "graft_stream_token_budget_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        // one-batch delivery made EXPLICIT (the admitted set must equal the
        // batch operator's; multi-batch admission is a different — valid —
        // fold, pinned separately in the unit)
        .option("maxOffsetsPerTrigger", (1L << 60).toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"))
        .join(broadcast(srcMap), Seq("doc_id"))
      val q = Sampling.tokenBudgetStream(stream, "doc_id", "text", "source",
          (0 until 10).map(i => s"src$i" -> 600L), seed = 7)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      srcMap.unpersist()
      name
    })

  /** STREAMING tokenization — "tokenize the crawl as it arrives": the BPE
    * merges and the frequency-ranked id table are learned ONCE in batch
    * (deterministic, so they equal `text_bpe_ids`'s) and each micro-batch
    * of the docs stream encodes to (doc, pos, token_id) via the map-only
    * encode + broadcast id join — STATELESS (the window-free flatten form
    * of Bpe.encode is what makes this legal). The fourth persisted-artifact
    * streaming screen beside sketch/index/model. */
  def streamBpeTable(s: SparkSession, sfDir: String,
                     merges: Seq[(String, String)]): String =
    cache.getOrElseUpdate(s"$sfDir#stream-bpe", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Bpe
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val ids = Bpe.tokenIds(docs, "doc_id", "text", merges).persist()
      ids.count() // materialize once; every micro-batch broadcasts it
      val perTrigger = math.max(docs.count() / 8, 1L)
      val name = "graft_stream_bpe_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
      val q = Bpe.encodeWithIds(stream, "doc_id", "text", merges, ids)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      ids.unpersist()
      name
    })

  /** STREAMING unigram tokenization — the persisted artifact TABLES
    * (word→segmentation + piece ids) tokenize the docs stream per
    * micro-batch: one generate, one broadcast join, one generate — no
    * shuffle, no state ([[graft.operators.Unigram.encodeWithTables]] is
    * streaming-legal by construction, like [[streamBpeTable]]'s encode).
    * Joins the persisted-artifact quad as the second tokenizer family. */
  def streamUnigramTable(s: SparkSession, sfDir: String,
                         model: graft.operators.Unigram.UnigramModel): String =
    cache.getOrElseUpdate(s"$sfDir#stream-unigram", {
      import org.apache.spark.sql.streaming.Trigger
      import graft.operators.Unigram
      tune(s)
      val src = docsStream(s, sfDir)
      val docs = documents(s, sfDir)
      val seg = Unigram.segTable(s, model).persist()
      val ids = Unigram.idTable(s, model).persist()
      seg.count(); ids.count() // materialize once; micro-batches broadcast
      val perTrigger = math.max(docs.count() / 8, 1L)
      val name = "graft_stream_unigram_" + math.abs(sfDir.hashCode).toString
      val stream = s.readStream.format("eslog")
        .option("maxOffsetsPerTrigger", perTrigger.toString)
        .load(src)
        .select(col("properties")("doc_id").cast("long").as("doc_id"),
          col("payload").cast("string").as("text"))
      val q = Unigram.encodeWithTables(stream, "doc_id", "text", seg)
        .join(broadcast(ids), Seq("piece"))
        .select(col("doc_id"), col("wi"), col("pj"), col("piece_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000)
      seg.unpersist(); ids.unpersist()
      name
    })

  /** Documents round-tripped through the wire codec into a stream. */
  def codecStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "codec") { dir =>
      import s.implicits._
      val frames = documents(s, sfDir).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) =>
          Tuple1(graft.model.FlatRecordBatch.encode(graft.model.RecordBatchRow(
            0L, 0, 0.toShort, 0L, 1, 0L, Map("doc_id" -> id.toString),
            t.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        }.toDF("frame")
      EsLog.create(dir, streamId = 80L)
      EsLog.open(dir, 1L)
      EsLog.ingestRaw(s, dir, frames, 1L)
      ()
    }

  // Events rows in the executor-side shape both interop fixtures need:
  // 4 range partitions sorted by event_id, as (id, payload, event_type, ts).
  private def interopEventSlices(s: SparkSession, sfDir: String) = {
    import s.implicits._
    eventBatches(s, sfDir)
      .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id")
      .select(col("event_id"), col("payload"),
        col("properties")("event_type").as("et"), col("base_timestamp"))
      .as[(Long, Array[Byte], String, Long)]
  }

  private def interopFrame(id: Long, payload: Array[Byte], et: String,
                           ts: Long): Array[Byte] =
    graft.model.FlatRecordBatch.encode(graft.model.RecordBatchRow(
      42L, 0, 0.toShort, id, 1, ts, Map("event_type" -> et), payload))

  /** Events round-tripped through the reference's TIERED-OBJECT layout
    * (`data | 0x66 | sparse index | footer`): four golden objects built
    * byte-by-byte on the executors ([[graft.model.TieredObject.encode]],
    * 4 KiB index granularity so each object carries a real multi-entry
    * sparse index), then ingested by [[EsLog.ingestObjects]]. Embedded
    * base offsets = event ids, preserved across objects by the ingest's
    * embedded-offset sort, so the scan's base_offset == event_id. */
  def tieredObjectStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "tiered-object") { dir =>
      import s.implicits._
      val objs = interopEventSlices(s, sfDir).mapPartitions { it =>
        val rows = it.toVector
        if (rows.isEmpty) Iterator.empty
        else {
          val frames = rows.map { case (id, p, et, ts) => interopFrame(id, p, et, ts) }
          val (bytes, _) = graft.model.TieredObject.encode(
            frames, startOffset = rows.head._1, sparseBytes = 4096)
          Iterator.single(Tuple1(bytes))
        }
      }.toDF("obj")
      EsLog.create(dir, streamId = 95L)
      EsLog.open(dir, 1L)
      EsLog.ingestObjects(s, dir, objs, 1L, sortByEmbeddedOffset = true)
      ()
    }

  /** The events stream round-tripped OUT through [[EsLog.exportObjects]]
    * and back in through [[EsLog.ingestObjects]] — the migration-out twin of
    * [[tieredObjectStream]]. A 64 KiB object cap forces real multi-object
    * rolls and a 4 KiB index granularity real multi-entry sparse indexes at
    * every SF; embedded base offsets (= event ids on the source stream)
    * survive the re-ingest's embedded-offset sort, so the scan's
    * base_offset == event_id. */
  def exportObjectStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "export-object") { dir =>
      val src = eventsStream(s, sfDir)
      val objs = EsLog.exportObjects(s, src,
        maxObjectBytes = 64 * 1024, sparseBytes = 4096)
      EsLog.create(dir, streamId = 97L)
      EsLog.open(dir, 1L)
      EsLog.ingestObjects(s, dir, objs, 1L, sortByEmbeddedOffset = true)
      ()
    }

  /** The events stream round-tripped OUT through [[EsLog.exportWal]] and
    * back in through [[EsLog.ingestWal]] — the migration-out twin of
    * [[walIngestStream]]. 64 KiB fixed-size sealed segments with contiguous
    * WAL offsets; a 512-byte block size forces real First/Middle/Last
    * fragment chains through the CRC-checked recovery scan. */
  def exportWalStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "export-wal") { dir =>
      val src = eventsStream(s, sfDir)
      val segs = EsLog.exportWal(s, src,
        segmentBytes = 64 * 1024, blockSize = 512)
      EsLog.create(dir, streamId = 98L)
      EsLog.open(dir, 1L)
      EsLog.ingestWal(s, dir, segs, 1L, sortByEmbeddedOffset = true)
      ()
    }

  /** Continuous offload ([[EsLog.offloadStream]]): the events stream drains
    * micro-batch by micro-batch (8 triggers) into a bucket directory of
    * reference-layout object files, which then bootstrap a NEW stream via
    * [[EsLog.ingestObjectDir]] — the full replicate-to-reference-then-
    * migrate-back cycle at streaming cadence. Returns the destination
    * stream dir. */
  def streamExportStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "stream-export") { dir =>
      val src = eventsStream(s, sfDir)
      val objDir = MetaLog.join(dir, "objects")
      val ckpt = MetaLog.join(dir, "ckpt")
      val perTrigger = math.max(events(s, sfDir).count() / 8, 1L)
      val q = EsLog.offloadStream(s, src, objDir, ckpt,
        maxObjectBytes = 64 * 1024, sparseBytes = 4096,
        maxOffsetsPerTrigger = perTrigger)
      q.awaitTermination(300000)
      val dst = MetaLog.join(dir, "dst")
      EsLog.create(dst, streamId = 99L)
      EsLog.open(dst, 1L)
      EsLog.ingestObjectDir(s, dst, objDir, 1L)
      ()
    }

  /** Full PD-metadata migration-in ([[graft.eslog.EsCatalog.ingestPdSnapshot]]
    * + [[EsLog.backfillObjects]]): the source deployment's state is a
    * synthetic etcd dump — stream 95 with replica 2, a 1-day retention, trim
    * at n/5, a sealed range `[n/5, n/2)` under epoch 3 and an open range
    * `[n/2, -1)` under epoch 4 (official-FlatBufferBuilder values, the PD's
    * exact key formats) — plus the source's offload bucket (the events
    * stream exported as reference-layout objects, embedded offsets ==
    * event ids). Metadata ingests FIRST (boundaries, epochs, trim, config),
    * then the bucket backfills AT ORIGINAL OFFSETS under those boundaries:
    * pre-trim objects drop, everything else lands in its declared range.
    * Returns the catalog root; the migrated stream is `pd-95`. */
  def pdMigrationCatalog(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "pd-migration") { dir =>
      import graft.model.PdSnapshot
      import graft.model.PdSnapshot.{PdRange, PdStream}
      import s.implicits._
      val src = eventsStream(s, sfDir)
      val objs = EsLog.exportObjects(s, src,
        maxObjectBytes = 64 * 1024, sparseBytes = 4096)
      val n = events(s, sfDir).count()
      val kvs = PdSnapshot.renderStream(PdStream(95L, 2, 1, 86400000L), Seq(
        PdRange(95L, 3L, 0, n / 5, n / 2, Seq(1, 2)),
        PdRange(95L, 4L, 1, n / 2, -1L, Seq(2))))
      val cat = new graft.eslog.EsCatalog(MetaLog.join(dir, "cat"))
      cat.ingestPdSnapshot(s, kvs.toDF("key", "value"))
      EsLog.backfillObjects(s, cat.streamDir("pd-95"),
        objs.select(col("obj")), epoch = 4L)
      ()
    }

  /** Deterministic REAL WAV payload for doc `id`: a genuine RIFF/WAVE file
    * (PCM16 mono, 8 kHz), n = 64 + id % 128 samples,
    * s_i = ((id·31 + i·17) mod 2048) − 1024 — closed-form, so the DuckDB
    * oracle recomputes the decoded features from the same arithmetic. */
  def syntheticWav(id: Long): Array[Byte] = {
    val n = (64 + id % 128).toInt
    graft.operators.MediaCodecs.encodeWavPcm16(8000, 1,
      Array.tabulate(n)(i => (((id * 31 + i * 17) % 2048) - 1024).toShort))
  }

  /** Deterministic REAL BMP payload for doc `id`: 24-bit bottom-up BMP,
    * w = 4 + id % 8, h = 3 + id % 5, channel c at (x, y) =
    * (id + 3x + 7y + c) mod 256 for c in {0=R, 1=G, 2=B}. */
  def syntheticBmp(id: Long): Array[Byte] = {
    val w = (4 + id % 8).toInt
    val h = (3 + id % 5).toInt
    graft.operators.MediaCodecs.encodeBmp24(w, h, (x, y) => (
      ((id + 3 * x + 7 * y) % 256).toInt,
      ((id + 3 * x + 7 * y + 1) % 256).toInt,
      ((id + 3 * x + 7 * y + 2) % 256).toInt))
  }

  /** Deterministic REAL PNG payload for doc `id`: encoded by the JDK's own
    * pure-Java PNG writer, w = 5 + id % 7, h = 4 + id % 6, channel c at
    * (x, y) = (id·5 + 2x + 11y + 3c) mod 256 — PNG is lossless, so the
    * DuckDB oracle recomputes the decoded channel sums from the same
    * arithmetic. */
  def syntheticPng(id: Long): Array[Byte] = {
    val w = (5 + id % 7).toInt
    val h = (4 + id % 6).toInt
    graft.operators.MediaCodecs.encodePng(w, h, (x, y) => (
      ((id * 5 + 2 * x + 11 * y) % 256).toInt,
      ((id * 5 + 2 * x + 11 * y + 3) % 256).toInt,
      ((id * 5 + 2 * x + 11 * y + 6) % 256).toInt))
  }

  /** Deterministic REAL MP4 payload for doc `id`: a genuine ISO-BMFF box
    * tree (ftyp 'isom' | moov(mvhd, trak*) | mdat) with closed-form
    * container fields so the DuckDB oracle recomputes the decoded metadata:
    * movie timescale 600, duration 600·(1 + id mod 10) (→ exactly
    * 1000·(1 + id mod 10) ms), one 'avc1' video track of
    * 16·(4 + id mod 9) × 16·(3 + id mod 7) with 30·(1 + id mod 10)
    * samples, plus — for odd ids — an 'mp4a' audio track at 48 kHz mdhd
    * timescale with 48·(1 + id mod 10) samples. */
  def syntheticMp4(id: Long): Array[Byte] = {
    import graft.operators.MediaCodecs.{Mp4Track, encodeMp4Meta}
    val k = 1 + id % 10
    val dur = 600L * k
    val video = Mp4Track("vide", "avc1",
      (16 * (4 + id % 9)).toInt, (16 * (3 + id % 7)).toInt,
      mediaTimescale = 600L, mediaDuration = dur, sampleCount = 30L * k)
    val tracks =
      if (id % 2 == 1)
        Seq(video, Mp4Track("soun", "mp4a", 0, 0,
          mediaTimescale = 48000L, mediaDuration = 48000L * k,
          sampleCount = 48L * k))
      else Seq(video)
    encodeMp4Meta("isom", timescale = 600L, duration = dur, tracks,
      mdat = Array.tabulate((8 + id % 32).toInt)(i => ((id + i) % 251).toByte))
  }

  /** Deterministic REAL FLAC payload for doc `id`: genuine fLaC magic +
    * bit-packed STREAMINFO + padding block + frame sync, with closed-form
    * fields: rate 8000 + 4000·(id mod 3), channels 1 + id mod 2, bits
    * 8 + 4·(id mod 3), total samples 1000·(1 + id mod 8). */
  def syntheticFlac(id: Long): Array[Byte] =
    graft.operators.MediaCodecs.encodeFlacMeta(
      sampleRate = (8000 + 4000 * (id % 3)).toInt,
      channels = (1 + id % 2).toInt,
      bitsPerSample = (8 + 4 * (id % 3)).toInt,
      totalSamples = 1000L * (1 + id % 8))

  /** Deterministic MP4 with REAL sample tables for doc `id` (the stbl-walk
    * fixture): video track of `3 + id mod 6` samples sized
    * `1 + (id + i) mod 7`, chunked 2 per chunk; odd ids add an audio track
    * of `2 + id mod 4` samples sized `1 + (2·id + i) mod 5`, chunked 3 per
    * chunk; every 5th id uses co64 offsets. Track-contiguous layout, so a
    * sample's mdat-relative offset is the closed-form prefix sum the
    * oracle recomputes; stts deltas are 100 (video) / 1024 (audio). */
  def syntheticMp4Samples(id: Long): Array[Byte] = {
    import graft.operators.MediaCodecs.{Mp4SampleSpec, Mp4Track, encodeMp4Samples}
    val n1 = (3 + id % 6).toInt
    val sizes1 = (0 until n1).map(i => (1 + ((id + i) % 7)).toInt)
    // keyframe cadence 2 + id mod 3 (stss), composition offsets 10·(i mod 3)
    // (ctts) — pts = 100·i + that; the audio track keeps the spec defaults
    // (no stss = all sync, no ctts = pts = dts)
    val video = Mp4SampleSpec(Mp4Track("vide", "avc1", 64, 48,
      mediaTimescale = 600L, mediaDuration = 100L * n1, sampleCount = n1.toLong),
      sizes1, samplesPerChunk = 2,
      syncEvery = (2 + id % 3).toInt,
      cttsOffsets = (0 until n1).map(i => 10 * (i % 3)))
    val specs =
      if (id % 2 == 1) {
        val n2 = (2 + id % 4).toInt
        val sizes2 = (0 until n2).map(i => (1 + ((2 * id + i) % 5)).toInt)
        Seq(video, Mp4SampleSpec(Mp4Track("soun", "mp4a", 0, 0,
          mediaTimescale = 48000L, mediaDuration = 1024L * n2,
          sampleCount = n2.toLong), sizes2, samplesPerChunk = 3))
      } else Seq(video)
    encodeMp4Samples("isom", timescale = 600L, duration = 100L * n1, specs,
      useCo64 = id % 5 == 0)
  }

  /** Deterministic FLAC with REAL frame headers for doc `id` (the
    * frame-index fixture): `3 + id mod 6` fixed-blocksize (4096) frames,
    * frame `i` followed by `4 + (id + i) mod 9` filler bytes. STREAMINFO
    * is the sole metadata block, so the audio stream starts at byte 42 and
    * frame `i`'s offset is the closed form `42 + 6·i + prefix-sum(sizes)`
    * (headers are 6 bytes while frame numbers stay under 128). */
  def syntheticFlacFrames(id: Long): Array[Byte] = {
    val n = (3 + id % 6).toInt
    graft.operators.MediaCodecs.encodeFlacFrames(
      sampleRate = (8000 + 4000 * (id % 3)).toInt,
      channels = (1 + id % 2).toInt,
      bitsPerSample = 16,
      blockSize = 4096,
      frameSizes = (0 until n).map(i => (4 + ((id + i) % 9)).toInt))
  }

  /** [[syntheticFlacFrames]]' sibling WITH a SEEKTABLE metadata block:
    * `4 + id mod 5` frames sized `5 + (id + i) mod 8`, one seek point per
    * 2 frames — point for frame i carries sample `4096·i` and the
    * closed-form byte offset from the first frame (`6·i + prefix-sum`,
    * headers 6 bytes while frame numbers stay under 128). */
  def syntheticFlacSeekable(id: Long): Array[Byte] = {
    val n = (4 + id % 5).toInt
    graft.operators.MediaCodecs.encodeFlacFrames(
      sampleRate = (8000 + 4000 * (id % 3)).toInt,
      channels = (1 + id % 2).toInt,
      bitsPerSample = 16,
      blockSize = 4096,
      frameSizes = (0 until n).map(i => (5 + ((id + i) % 8)).toInt),
      seekEvery = 2)
  }

  /** FLAC with REAL PCM for doc `id` ([[graft.operators.MediaCodecs
    * .encodeFlacPcm]]): `2 + id mod 3` frames of 256 samples — except
    * ids with `id mod 5 = 4`, whose LAST frame carries only 192 (the
    * spec's short-tail case, headed with the inline blocksize code) —
    * `1 + id mod 2` channels, 16-bit. Sample `i` of (frame f, channel c)
    * is the closed form `(id·7 + f·131 + c·17 + i·29) mod 121`, except
    * when `(id + f + c) mod 4 = 0` the whole channel holds the constant
    * `id mod 121` — so both VERBATIM and CONSTANT subframes are exercised
    * and the oracle recomputes every sample. */
  def syntheticFlacPcm(id: Long): Array[Byte] = {
    val nFrames = (2 + id % 3).toInt
    val nCh = (1 + id % 2).toInt
    val frames = (0 until nFrames).map { f =>
      val bs = if (id % 5 == 4 && f == nFrames - 1) 192 else 256
      (0 until nCh).map { c =>
        if ((id + f + c) % 4 == 0) Array.fill(bs)((id % 121).toInt)
        else Array.tabulate(bs)(i =>
          ((id * 7 + f * 131 + c * 17 + i * 29) % 121).toInt)
      }
    }
    // the encoding VARIES by id while the oracle stays decode-side — every
    // layout must reproduce the same closed-form samples: odd ids encode
    // FIXED (order id mod 5) or, when id mod 7 = 3, LPC (coefs [2,-1],
    // shift 0); rice residuals in 2^((id/2) mod 3) partitions — ESCAPE
    // (raw 13-bit) coded for odd ids with id mod 10 = 7; 2-channel
    // ids with id mod 3 > 0 stereo-decorrelate (left/side, side/right,
    // mid/side cycling); even ids stay VERBATIM; constant channels encode
    // CONSTANT everywhere
    graft.operators.MediaCodecs.encodeFlacPcm(
      sampleRate = (8000 + 4000 * (id % 3)).toInt,
      channels = nCh, bitsPerSample = 16, blockSize = 256, samples = frames,
      fixedOrder = if (id % 2 == 1) (id % 5).toInt else -1,
      riceK = 6, partitionOrder = ((id / 2) % 3).toInt,
      lpc = if (id % 7 == 3) Some((Seq(2, -1), 0, 5)) else None,
      stereo = if (nCh == 2 && id % 3 > 0) (8 + ((id / 3) % 3)).toInt else -1,
      escapeBits = if (id % 10 == 7) 13 else -1)
  }

  /** Batch-admin fixture: a fresh catalog driven through a mixed
    * success/already-exists create batch, a mixed delete batch, and a batch
    * describe — the captured responses land in `<dir>/responses` parquet so
    * the query row is pure-read and repeatable (the driver may invoke a
    * query more than once; re-running the batch would flip OK to
    * ALREADY_EXISTS). Ids are pinned by the one-CAS block allocator:
    * create1 [ba=0, bb=1], create2 burns 2 for the existing bb and gives
    * bc=3 — deterministic under the parallel fan-out. */
  def catalogBatchDir(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "catalog-batch") { dir =>
      import graft.eslog.EsCatalog.StreamSpec
      val cat = new graft.eslog.EsCatalog(MetaLog.join(dir, "root"))
      val r1 = cat.createStreams(s, Seq(
        StreamSpec("ba"), StreamSpec("bb", retentionMs = 86400000L)))
      val r2 = cat.createStreams(s, Seq(StreamSpec("bb"), StreamSpec("bc")))
      val del = cat.deleteStreams(s, Seq("ba", "missing"))
      val desc = cat.describeStreams(s, Seq("bb", "ba", "bc"))
        .select(col("name"), col("stream_id"), col("status"))
      r1.withColumn("batch", lit("create1"))
        .unionByName(r2.withColumn("batch", lit("create2")))
        .unionByName(del.withColumn("batch", lit("delete")))
        .unionByName(desc.withColumn("batch", lit("describe")))
        .coalesce(1)
        .write.parquet(MetaLog.join(dir, "responses"))
      ()
    }

  /** Events round-tripped through the reference's WAL-SEGMENT layout
    * (`CRC | Size(3B) | Type | Payload` records + Zero footer): four golden
    * segments built on the executors ([[graft.model.WalSegment
    * .writeSegment]]) — each WAL record carries a 16-entry append payload
    * and a 512-byte block size forces real First/Middle/Last fragment
    * chains — then recovered by [[EsLog.ingestWal]]'s CRC-checked scan. */
  def walIngestStream(s: SparkSession, sfDir: String): String =
    fixture(sfDir, "wal-ingest") { dir =>
      import s.implicits._
      val segs = interopEventSlices(s, sfDir).mapPartitions { it =>
        val rows = it.toVector
        if (rows.isEmpty) Iterator.empty
        else {
          val payloads = rows.grouped(16).map { g =>
            graft.model.FlatRecordBatch.encodeAll(
              g.map { case (id, p, et, ts) =>
                graft.model.RecordBatchRow(42L, 0, 0.toShort, id, 1, ts,
                  Map("event_type" -> et), p)
              })
          }.toSeq
          val walOffset = org.apache.spark.TaskContext.getPartitionId().toLong << 30
          val bytes = graft.model.WalSegment.writeSegment(
            payloads, walOffset, blockSize = 512)
          Iterator.single((walOffset, bytes))
        }
      }.toDF("wal_offset", "seg")
      EsLog.create(dir, streamId = 96L)
      EsLog.open(dir, 1L)
      EsLog.ingestWal(s, dir, segs, 1L, sortByEmbeddedOffset = true)
      ()
    }
}
