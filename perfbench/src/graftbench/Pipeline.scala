package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.eslog.{EsCatalog, EsLog}
import graft.operators.{Dedup, TextOps}

/** `pipeline`: the LLM-data curation pass over a stored corpus — scan,
  * quality filter, exact dedup, MinHash near-dup pairs, clusters, cluster
  * representatives, and one sorted bulk append of the survivors. Most of the
  * work is operator compute and shuffle; the streaming source is not used. */
final class Pipeline extends Workload {
  val Docs = 2000
  val WarmupDocs = 200

  private var cat: EsCatalog = _
  private var corpusDir: String = _
  private var warmDir: String = _
  private var corpus: Gen.Corpus = _
  private var passes = 0

  /** One pass: its step times, the frames it cached (released once the
    * next pass starts; the last pass's are read by the checks), and its
    * output stream. */
  private final case class Pass(steps: Seq[(String, Double)], kept: DataFrame, unique: DataFrame,
                                pairs: DataFrame, cached: Seq[DataFrame], outDir: String)

  private val schema = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("base_timestamp", LongType)))

  /** Documents are stored as record batches: the text is the payload and
    * the doc id rides `base_timestamp`, the column `sortKey` can order by. */
  private def store(ctx: Ctx, name: String, docs: Seq[(Long, String)]): String = {
    cat.createStream(name)
    val dir = cat.streamDir(name)
    val rows = docs.map { case (id, text) => Row(text.getBytes("UTF-8"), id) }
    val df = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 2 * ctx.cores), schema)
    EsLog.append(ctx.spark, dir, df, 0L)
    dir
  }

  override def setup(ctx: Ctx): Unit = {
    cat = new EsCatalog(ctx.root)
    val vocab = Gen.vocabulary(ctx.seed)
    corpus = Gen.corpus(ctx.seed, Docs, vocab)
    corpusDir = store(ctx, "corpus", corpus.docs)
    ctx.progress("corpus stored")
    // warm-up pass over a small corpus from another seed
    warmDir = store(ctx, "warmup", Gen.corpus(ctx.seed + 1, WarmupDocs, vocab).docs)
    pass(ctx, warmDir, "warm").cached.foreach(_.unpersist())
  }

  private def step[T](name: String, times: ArrayBuffer[(String, Double)])(body: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.op(s"step:$name#$passes", s"operators.$name")(body)
    times += (name -> (System.nanoTime() - t0) / 1e6)
    r
  }

  private def pass(ctx: Ctx, input: String, tag: String): Pass = {
    val t = ArrayBuffer[(String, Double)]()
    val cached = ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { val p = df.persist(); cached += p; p.count(); p }
    val docs = step("scan", t) {
      keep(EsLog.scan(ctx.spark, input)
        .select(col("base_timestamp").as("doc_id"), col("payload").cast("string").as("text")))
    }
    val kept = step("quality_filter", t) {
      val q = TextOps.qualityFilter(docs, "doc_id", "text").where(col("keep")).select("doc_id")
      keep(docs.join(q, "doc_id"))
    }
    val unique = step("exact_dedup", t) {
      keep(kept.join(Dedup.exact(kept, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi"))
    }
    val pairs = step("near_dup", t)(keep(Dedup.minHashNearDups(unique, "doc_id", "text")))
    val clusters = step("clusters", t) {
      keep(Dedup.nearDupClusters(pairs).select(col("doc").as("doc_id"), col("cluster").as("cluster_id")))
    }
    val reps = step("representatives", t) {
      keep(Dedup.clusterRepresentatives(clusters, unique.select(col("doc_id"), lit(0.0).as("score"))))
    }
    val outName = s"out-$tag-$passes"
    cat.createStream(outName)
    val outDir = cat.streamDir(outName)
    step("output_append", t) {
      val dropped = clusters.join(reps, "cluster_id").where(col("doc_id") =!= col("rep_id"))
        .select("doc_id")
      val survivors = unique.join(dropped, Seq("doc_id"), "left_anti")
        .select(col("text").cast("binary").as("payload"), col("doc_id").as("base_timestamp"))
      EsLog.append(ctx.spark, outDir, survivors, 0L, sortKey = Some("base_timestamp"))
    }
    passes += 1
    Pass(t.toSeq, kept, unique, pairs, cached.toSeq, outDir)
  }

  /** Rounds `Dedup.nearDupClusters` runs on this pair graph: min-label
    * propagation reaches every node after its distance to the smallest id
    * of its cluster, and one more round sees no change. */
  private def labelRounds(pairs: DataFrame): Double = {
    val edges = pairs.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var far = 0
    adj.keys.foreach { node =>
      // distance from the cluster's smallest id, by breadth-first search
      val seen = scala.collection.mutable.Map(node -> 0)
      val queue = scala.collection.mutable.Queue(node)
      while (queue.nonEmpty) {
        val n = queue.dequeue()
        adj(n).foreach(m => if (!seen.contains(m)) { seen(m) = seen(n) + 1; queue += m })
      }
      if (seen.keys.min == node) far = math.max(far, seen.values.max)
    }
    far + 1.0
  }

  override def measure(ctx: Ctx): Unit = {
    val res = ctx.res
    val done = ArrayBuffer[Pass]()
    val passMs = ArrayBuffer[Double]()
    ctx.startWindow()
    val end = ctx.windowStartNs + ctx.seconds * 1000000000L
    // another pass starts only if one more pass of the last one's length fits
    while (done.isEmpty || System.nanoTime() + passMs.last * 1e6 <= end) {
      done.lastOption.foreach(_.cached.foreach(_.unpersist()))
      val p = pass(ctx, corpusDir, "run")
      done += p
      passMs += p.steps.map(_._2).sum
    }
    ctx.endWindow()
    res.attempted += done.size
    val corpusBytes = corpus.docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    val last = done.last
    val outFiles = EsLog.describe(last.outDir).allFiles
    val out = EsLog.scan(ctx.spark, last.outDir)
      .select(col("base_offset"), col("base_timestamp"), length(col("payload")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).sortBy(_._1)
    val survivors = out.map(_._2).toSet
    val keptIds = last.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val removed = keptIds -- survivors
    val truth = corpus.copies
    val hit = (removed & truth).size.toDouble

    res.endToEnd += Metric("op_p50_ms", Main.pct(passMs.toSeq, 0.5), "ms")
    res.endToEnd += Metric("payload_mb_per_s", corpusBytes * done.size / 1e6 / ctx.windowSeconds, "MB/s")
    res.endToEnd += Metric("stored_bytes_per_payload_byte",
      outFiles.map(_.bytes).sum.toDouble / out.map(_._3).sum, "ratio")
    res.detail ++= Seq(
      Metric("pipeline_docs_per_s", Docs.toDouble * done.size / ctx.windowSeconds, "docs/s"),
      Metric("pipeline_pass_p50_ms", Main.pct(passMs.toSeq, 0.5), "ms"),
      Metric("pipeline_pass_p90_ms", Main.pct(passMs.toSeq, 0.9), "ms"),
      Metric("pipeline_passes", done.size, "count"),
      Metric("pipeline_dup_recall", hit / truth.size, "ratio"),
      Metric("pipeline_dup_precision", if (removed.isEmpty) 0.0 else hit / removed.size, "ratio"),
      Metric("gen.payload_bytes", corpusBytes.toDouble * done.size, "B"),
      Metric("gen.late_ms_p90", 0.0, "ms"),
      Metric("eslog.manifest_files", EsLog.describe(corpusDir).allFiles.size, "count"),
      Metric("ops.appends", done.size, "count"),
      Metric("ops.appended_bytes", out.map(_._3).sum.toDouble * done.size, "B"),
      Metric("ops.docs", Docs.toDouble * done.size, "count"),
      Metric("operators.near_dup_pairs", last.pairs.count().toDouble, "count"),
      Metric("operators.cluster_rounds", labelRounds(last.pairs), "count"))
    if (ctx.traced) res.detail += Metric("operators.candidate_pairs",
      Dedup.minHashLshCandidates(last.unique, "doc_id", "text").count().toDouble, "count")
    last.cached.foreach(_.unpersist())
    Seq("scan", "quality_filter", "exact_dedup", "near_dup", "clusters", "representatives",
      "output_append").foreach { s =>
      res.detail += Metric(s"operators.${s}_ms", Main.mean(done.toSeq.map(_.steps.toMap.apply(s))), "ms")
    }

    val exact = corpus.exactCopies
    res.checks += Check("pipeline.exact_duplicates_removed", corrupt => {
      // corrupted observation: one planted exact copy survived
      val rem = if (corrupt) removed - exact.min else removed
      val left = exact -- rem
      if (left.isEmpty) None else Some(s"${left.size} planted exact duplicates survived, e.g. ${left.min}")
    })
    res.checks += Check("pipeline.low_quality_dropped", corrupt => {
      val kept = if (corrupt) keptIds + corpus.lowQuality.min else keptIds
      val left = corpus.lowQuality & kept
      if (left.isEmpty) None else Some(s"${left.size} planted low-quality documents passed the filter")
    })
    res.checks += Check("pipeline.output_sorted_by_doc_id", corrupt => {
      val ids = out.map(_._2).toSeq
      val exp = if (corrupt) ids.reverse else ids.sorted
      if (ids == exp && ids.distinct.size == ids.size) None
      else Some("output stream is not in doc id order, or repeats a doc")
    })
  }
}
