package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run, computed from the spans, the Spark
  * listener's job totals and the counts the workload recorded. Every run
  * reports every name; a layer the workload does not exercise reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "meta.ops_per_append" -> "count", "meta.ms_per_append" -> "ms",
    "meta.ops_per_trigger" -> "count", "meta.ms_per_trigger" -> "ms", "meta.load_bytes" -> "B",
    "meta.ms_per_fetch" -> "ms", "meta.checkpoint_writes" -> "count", "meta.cas_lost" -> "count",
    "eslog.append_ms" -> "ms", "eslog.append_self_ms" -> "ms", "eslog.fetch_plan_ms" -> "ms",
    "eslog.fetch_exec_ms" -> "ms", "eslog.retention_ms" -> "ms", "eslog.files_per_commit" -> "count",
    "eslog.manifest_files" -> "count",
    "spark.jobs_per_append" -> "count", "spark.tasks_per_append" -> "count",
    "spark.sched_delay_ms_per_append" -> "ms", "spark.task_ms_per_mb_appended" -> "ms/MB",
    "spark.output_bytes_per_payload_byte" -> "ratio", "spark.jobs_per_trigger" -> "count",
    "spark.jobs_per_fetch" -> "count", "spark.input_bytes_per_fetch" -> "B",
    "spark.shuffle_bytes_per_doc" -> "B", "spark.spill_bytes" -> "B",
    "spark.core_busy_frac" -> "ratio", "spark.gc_frac" -> "ratio",
    "sources.trigger_ms" -> "ms", "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "sources.add_batch_ms" -> "ms", "sources.planning_ms" -> "ms", "sources.wal_commit_ms" -> "ms",
    "sources.rows_per_trigger" -> "count", "sources.backlog_offsets_max" -> "count",
    "sources.empty_trigger_frac" -> "ratio",
    "operators.scan_ms" -> "ms", "operators.quality_filter_ms" -> "ms",
    "operators.exact_dedup_ms" -> "ms", "operators.near_dup_ms" -> "ms",
    "operators.clusters_ms" -> "ms", "operators.representatives_ms" -> "ms",
    "operators.output_append_ms" -> "ms", "operators.candidate_pairs" -> "count",
    "operators.verified_pair_ratio" -> "ratio", "operators.cluster_rounds" -> "count",
    "operators.dup_recall" -> "ratio", "operators.dup_precision" -> "ratio",
    "gen.late_ms_p90" -> "ms", "gen.payload_bytes" -> "B",
    "jvm.gc_ms_per_s" -> "ms/s", "jvm.heap_used_peak_mb" -> "MB", "jvm.rss_peak_mb" -> "MB")

  private def kind(op: String): String = op.takeWhile(_ != '#')
  private def isAppend(op: String): Boolean = {
    val k = kind(op)
    k == "append" || k == "step:output_append"
  }
  private def isTrigger(op: String): Boolean = op.startsWith("trigger-")
  private def isFetch(op: String): Boolean = kind(op) == "fetch"
  private def per(x: Double, n: Double): Double = if (n <= 0) 0.0 else x / n

  /** Time inside `root` not covered by any of `children`. */
  def selfMs(root: Span, children: Seq[Span]): Double = {
    var covered = 0L
    var until = root.startNs
    children.map(c => (math.max(c.startNs, root.startNs), math.min(c.endNs, root.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, until)
        if (b > from) { covered += b - from; until = b }
      }
    (root.endNs - root.startNs - covered) / 1e6
  }

  def compute(ctx: Ctx): Unit = {
    val res = ctx.res
    val detail = res.detail.map(m => m.name -> m.value).toMap
    def d(name: String): Double = detail.getOrElse(name, 0.0)
    val spans = Trace.spans.asScala.toSeq.filter(s => ctx.inWindow(s.startNs))
    val byParent = spans.groupBy(_.parent)
    val meta = spans.filter(_.name.startsWith("meta."))
    val jobs = ctx.listener.toSeq.flatMap(_.jobs.values.asScala)
      .filter(j => ctx.inWindow(j.startMs * 1000000L - Trace.clockOffsetNs))
    val appends = d("ops.appends")
    val appendedBytes = d("ops.appended_bytes")
    val fetches = d("ops.fetches")
    val triggers = d("ops.triggers")
    val allTriggers = triggers + d("ops.idle_triggers")
    val roots = spans.filter(_.parent == 0L)
    val appendRoots = roots.filter(s => s.name == "eslog.append" || s.name == "operators.output_append")
    val appendJobs = jobs.filter(j => isAppend(j.op))
    val fetchJobs = jobs.filter(j => isFetch(j.op))
    val runMs = jobs.map(_.runMs).sum.toDouble
    val reads = meta.filter(_.name == "meta.read")
    val computed = Map[String, Double](
      "meta.ops_per_append" -> per(meta.count(s => isAppend(s.op)), appends),
      "meta.ms_per_append" -> per(meta.filter(s => isAppend(s.op)).map(_.ms).sum, appends),
      "meta.ops_per_trigger" -> per(meta.count(s => isTrigger(s.op)), allTriggers),
      "meta.ms_per_trigger" -> per(meta.filter(s => isTrigger(s.op)).map(_.ms).sum, allTriggers),
      // every MetaLog.load probes the checkpoint pointer exactly once
      "meta.load_bytes" -> per(reads.map(_.bytes).sum,
        meta.count(s => s.name == "meta.exists" && s.tag.startsWith("pointer"))),
      "meta.ms_per_fetch" -> per(meta.filter(s => isFetch(s.op)).map(_.ms).sum, fetches),
      "meta.checkpoint_writes" -> meta.count(s => s.name == "meta.putAtomic" && s.tag.startsWith("checkpoint")),
      "meta.cas_lost" -> meta.count(_.tag.contains("cas_lost")),
      "eslog.append_ms" -> Main.mean(appendRoots.map(_.ms)),
      "eslog.append_self_ms" -> Main.mean(appendRoots.map(r => selfMs(r, byParent.getOrElse(r.id, Nil)))),
      "eslog.fetch_plan_ms" -> Main.mean(spans.filter(_.name == "eslog.fetch").map(_.ms)),
      "eslog.fetch_exec_ms" -> Main.mean(spans.filter(_.name == "fetch.aggregate").map(_.ms)),
      "eslog.retention_ms" -> Main.mean(roots.filter(_.name == "eslog.retention").map(_.ms)),
      "eslog.files_per_commit" -> per(appendJobs.map(_.filesWritten).sum, appends),
      "spark.jobs_per_append" -> per(appendJobs.size, appends),
      "spark.tasks_per_append" -> per(appendJobs.map(_.tasks).sum, appends),
      "spark.sched_delay_ms_per_append" -> per(appendJobs.map(_.schedDelayMs).sum, appends),
      "spark.task_ms_per_mb_appended" -> per(appendJobs.map(_.runMs).sum, appendedBytes / 1e6),
      "spark.output_bytes_per_payload_byte" -> per(appendJobs.map(_.outputBytes).sum, appendedBytes),
      "spark.jobs_per_trigger" -> per(jobs.count(j => isTrigger(j.op)), triggers),
      "spark.jobs_per_fetch" -> per(fetchJobs.size, fetches),
      "spark.input_bytes_per_fetch" -> per(fetchJobs.map(_.inputBytes).sum, fetches),
      "spark.shuffle_bytes_per_doc" ->
        per(jobs.filter(_.op.startsWith("step:")).map(_.shuffleBytes).sum, d("ops.docs")),
      "spark.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "spark.core_busy_frac" -> per(runMs, ctx.windowSeconds * 1000.0 * ctx.cores),
      "spark.gc_frac" -> per(jobs.map(_.gcMs).sum, runMs),
      "operators.verified_pair_ratio" ->
        per(d("operators.near_dup_pairs"), d("operators.candidate_pairs")),
      "operators.dup_recall" -> d("pipeline_dup_recall"),
      "operators.dup_precision" -> d("pipeline_dup_precision"))
    Names.foreach { case (name, unit) =>
      res.perLayer += Metric(name, computed.getOrElse(name, d(name)), unit)
    }
  }
}
