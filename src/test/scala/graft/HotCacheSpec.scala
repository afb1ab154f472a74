package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

import graft.eslog.{EsLog, HotCache}

/** HotCache (SURVEY §2.4, reference replication/src/stream/cache.rs):
  * tail-file caching must be bit-identical to cold reads, admission must be
  * restricted to the tail window, eviction must respect the global budget,
  * and the cache must be inert when disabled (the default). */
class HotCacheSpec extends SparkTestBase with BeforeAndAfterEach {

  override def beforeEach(): Unit = {
    HotCache.clear()
    spark.conf.unset(HotCache.GLOBAL_BYTES)
    CountingLocalFileSystem.reset()
  }
  override def afterEach(): Unit = beforeEach()

  private def mkStream(n: Int, appends: Int = 2, id: Long = 77L): String = {
    val dir = tmpDir("hotcache-")
    EsLog.create(dir, streamId = id)
    EsLog.open(dir, 1L)
    val per = n / appends
    (0 until appends).foreach { i =>
      val input = spark.range(i.toLong * per, (i + 1).toLong * per).select(
        col("id").as("event_id"),
        concat(lit("payload-"), col("id")).cast("binary").as("payload"),
        map(lit("k"), col("id").cast("string")).as("properties"),
        col("id").as("base_timestamp"))
      EsLog.append(spark, dir, input, 1L, sortKey = Some("event_id"),
        numPartitions = 2)
    }
    dir
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select(col("base_offset"), col("payload").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def usesInMemory(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("InMemoryTableScan") ||
      df.queryExecution.optimizedPlan.toString.contains("InMemoryRelation")

  test("disabled by default: no InMemoryRelation, no residency") {
    val dir = mkStream(100)
    val df = EsLog.fetch(spark, dir, 50, 100)
    assert(!usesInMemory(df))
    assert(df.count() == 50)
    assert(HotCache.resident.isEmpty)
  }

  test("hot fetch is bit-identical to cold and scans executor memory") {
    val dir = mkStream(100)
    val cold = rows(EsLog.fetch(spark, dir, 30, 90))
    spark.conf.set(HotCache.GLOBAL_BYTES, (64L * 1024 * 1024).toString)
    val hot1 = EsLog.fetch(spark, dir, 30, 90)
    assert(usesInMemory(hot1))
    assert(rows(hot1) == cold)
    assert(HotCache.resident.nonEmpty)
    val before = HotCache.resident.keySet
    val hot2 = EsLog.fetch(spark, dir, 30, 90)
    assert(usesInMemory(hot2))
    assert(rows(hot2) == cold)
    assert(HotCache.resident.keySet == before, "re-fetch must not re-admit")
  }

  test("admission is tail-window only: scanning history does not pollute") {
    val dir = mkStream(1000, appends = 4)
    val bytes = graft.meta.MetaLog.load(dir).allFiles.sortBy(_.startOffset)
    // window fits only the last append's files
    val windowBytes = bytes.takeRight(2).map(_.bytes).sum
    spark.conf.set(HotCache.GLOBAL_BYTES, windowBytes.toString)
    // full historical scan: only tail-window files may be admitted
    assert(EsLog.scan(spark, dir).count() == 1000)
    val admitted = HotCache.resident.keySet
    val tailPaths = bytes.takeRight(2).map(f => graft.meta.MetaLog.join(dir, f.path)).toSet
    assert(admitted == tailPaths,
      s"admitted $admitted must be exactly the tail window $tailPaths")
    // a pure-history fetch stays cold
    val hist = EsLog.fetch(spark, dir, 0, 250)
    assert(!usesInMemory(hist))
  }

  test("incremental growth: new append adds files without dropping old ones") {
    val dir = mkStream(100)
    spark.conf.set(HotCache.GLOBAL_BYTES, (64L * 1024 * 1024).toString)
    EsLog.fetch(spark, dir, 0, 100).count()
    val firstGen = HotCache.resident.keySet
    assert(firstGen.nonEmpty)
    val more = spark.range(100, 200).select(
      col("id").as("event_id"),
      concat(lit("payload-"), col("id")).cast("binary").as("payload"),
      map(lit("k"), col("id").cast("string")).as("properties"),
      col("id").as("base_timestamp"))
    EsLog.append(spark, dir, more, 1L, sortKey = Some("event_id"), numPartitions = 2)
    val all = rows(EsLog.fetch(spark, dir, 0, 200))
    assert(all.size == 200 && all.head._1 == 0L && all.last._1 == 199L)
    assert(firstGen.subsetOf(HotCache.resident.keySet),
      "already-cached files must survive an append (incremental fill)")
  }

  test("LRU eviction holds the global byte budget") {
    val d1 = mkStream(500, appends = 1, id = 1L)
    val d2 = mkStream(500, appends = 1, id = 2L)
    val perStream = graft.meta.MetaLog.load(d1).allFiles.map(_.bytes).sum
    // budget fits roughly one stream's files
    spark.conf.set(HotCache.GLOBAL_BYTES, (perStream + 10).toString)
    EsLog.fetch(spark, d1, 0, 500).count()
    val r1 = HotCache.resident.keySet
    assert(r1.nonEmpty && r1.forall(_.startsWith(d1)))
    EsLog.fetch(spark, d2, 0, 500).count()
    val r2 = HotCache.resident
    assert(r2.values.sum <= perStream + 10, s"over budget: $r2")
    assert(r2.keySet.forall(_.startsWith(d2)), "LRU must have evicted stream 1")
  }

  test("randomized append/trim/compact/fetch: hot reads always equal the model") {
    spark.conf.set(HotCache.GLOBAL_BYTES, (32L * 1024 * 1024).toString)
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val dir = tmpDir(s"hotprop$seed-")
      EsLog.create(dir, streamId = 88L)
      var epoch = 1L
      EsLog.open(dir, epoch)
      var nextOff = 0L
      var minOff = 0L
      val model = scala.collection.mutable.Map[Long, String]()
      var fetches = 0
      for (_ <- 0 until 24) {
        rnd.nextInt(6) match {
          case 0 | 1 => // append 20..200 single-delta batches
            val k = 20 + rnd.nextInt(180)
            val in = spark.range(nextOff, nextOff + k).select(
              col("id"),
              concat(lit("p"), col("id")).cast("binary").as("payload"),
              col("id").as("base_timestamp"))
            EsLog.append(spark, dir, in, epoch, sortKey = Some("id"),
              numPartitions = 1 + rnd.nextInt(3))
            (nextOff until nextOff + k).foreach(o => model(o) = s"p$o")
            nextOff += k
          case 2 if nextOff > minOff => // trim (vacuums covered files)
            val to = minOff + rnd.nextInt((nextOff - minOff).toInt + 1)
            EsLog.trim(dir, to)
            minOff = math.max(minOff, to)
            model.keys.filter(_ < minOff).toSeq.foreach(model.remove)
          case 3 => // seal-on-open + compact sealed segments
            epoch += 1
            EsLog.open(dir, epoch)
            EsLog.compact(spark, dir, targetBytes = 256L * 1024)
          case _ => // fetch a random range through the cache, check vs model
            val lo = rnd.nextLong(nextOff + 10)
            val hi = lo + rnd.nextLong(nextOff - lo + 10) + 1
            val got = EsLog.fetch(spark, dir, lo, hi)
              .select(col("base_offset"), col("payload").cast("string"))
              .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
            val want = model.view
              .filterKeys(o => o >= math.max(lo, minOff) && o < math.min(hi, nextOff))
              .toMap
            assert(got == want,
              s"seed=$seed fetch [$lo,$hi) min=$minOff next=$nextOff: " +
                s"got ${got.size} want ${want.size}")
            fetches += 1
        }
      }
      assert(fetches >= 3, s"seed $seed exercised only $fetches fetches")
    }
  }

  test("hot fetches stay consistent under a concurrent appender") {
    spark.conf.set(HotCache.GLOBAL_BYTES, (32L * 1024 * 1024).toString)
    val dir = tmpDir("hotconc-")
    EsLog.create(dir, streamId = 89L)
    EsLog.open(dir, 1L)
    @volatile var committed = 0L
    @volatile var failure: Throwable = null
    val writer = new Thread(() => {
      try {
        var off = 0L
        for (_ <- 0 until 10) {
          val k = 50L
          val in = spark.range(off, off + k).select(
            col("id"),
            concat(lit("p"), col("id")).cast("binary").as("payload"),
            col("id").as("base_timestamp"))
          EsLog.append(spark, dir, in, 1L, sortKey = Some("id"), numPartitions = 2)
          off += k
          committed = off
        }
      } catch { case t: Throwable => failure = t }
    })
    writer.start()
    var checks = 0
    while ((writer.isAlive || checks < 3) && checks < 60 && failure == null) {
      val before = committed
      val rows = EsLog.fetch(spark, dir)
        .select(col("base_offset"), col("payload").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      // snapshot isolation: a fetch sees a contiguous committed prefix at
      // least as long as what was committed before it was issued
      assert(rows.map(_._1).sameElements(0L until rows.length),
        s"non-contiguous prefix of ${rows.length}")
      assert(rows.length >= before, s"saw ${rows.length} < committed $before")
      rows.foreach { case (o, p) => assert(p == s"p$o", s"payload $p at $o") }
      checks += 1
    }
    writer.join(120000)
    assert(failure == null, s"writer failed: $failure")
    assert(committed == 500L && checks >= 3)
  }

  // ---- scheme-aware enablement policy (object-store auto-enable) ----

  /** Stream on the open-counting `s3://` double ([[CountingLocalFileSystem]]). */
  private def mkObjectStream(n: Int, id: Long): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3.impl", classOf[CountingLocalFileSystem].getName)
    val dir = "s3:" + tmpDir("hotauto-")
    EsLog.create(dir, streamId = id)
    EsLog.open(dir, 1L)
    (0 until 2).foreach { i =>
      val per = n / 2
      val in = spark.range(i.toLong * per, (i + 1).toLong * per).select(
        col("id").as("event_id"),
        concat(lit("payload-"), col("id")).cast("binary").as("payload"),
        map(lit("k"), col("id").cast("string")).as("properties"),
        col("id").as("base_timestamp"))
      EsLog.append(spark, dir, in, 1L, sortKey = Some("event_id"),
        numPartitions = 2)
    }
    dir
  }

  test("s3 scheme auto-enables with no knobs: steady hot tail fetch = zero GETs") {
    val dir = mkObjectStream(100, id = 91L)
    // explicit 0 beats the scheme policy: stays cold, pays a GET per file
    spark.conf.set(HotCache.GLOBAL_BYTES, "0")
    val cold = rows(EsLog.fetch(spark, dir, 20, 90))
    CountingLocalFileSystem.reset()
    assert(rows(EsLog.fetch(spark, dir, 20, 90)) == cold)
    assert(CountingLocalFileSystem.dataFileOpens > 0,
      "a cold object-store fetch pays a GET per data file")
    assert(HotCache.resident.isEmpty)
    // unset budget → DefaultAutoSchemes contains s3 → cache on, default budget
    spark.conf.unset(HotCache.GLOBAL_BYTES)
    val warm = EsLog.fetch(spark, dir, 20, 90) // warming pass pays its GETs once
    assert(usesInMemory(warm) && rows(warm) == cold)
    CountingLocalFileSystem.reset()
    val hot = EsLog.fetch(spark, dir, 20, 90)
    assert(usesInMemory(hot) && rows(hot) == cold)
    assert(CountingLocalFileSystem.dataFileOpens == 0L,
      "a steady-state hot tail fetch must not touch the object store")
  }

  test("compaction swap and delete invalidate cleanly") {
    val dir = mkStream(200, appends = 2)
    spark.conf.set(HotCache.GLOBAL_BYTES, (64L * 1024 * 1024).toString)
    val cold = rows(EsLog.fetch(spark, dir, 0, 200))
    assert(HotCache.resident.nonEmpty)
    // seal + compact rewrites files; swept entries must not break reads
    EsLog.open(dir, 2L)
    EsLog.compact(spark, dir, targetBytes = 1L * 1024 * 1024)
    val after = rows(EsLog.fetch(spark, dir, 0, 200))
    assert(after == cold)
    val live = graft.meta.MetaLog.load(dir).allFiles
      .map(f => graft.meta.MetaLog.join(dir, f.path)).toSet
    assert(HotCache.resident.keySet.subsetOf(live), "stale entries must be swept")
    EsLog.delete(dir)
    assert(HotCache.resident.keySet.forall(!_.startsWith(dir)))
  }
}
