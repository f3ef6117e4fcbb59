package perfbench

import scala.collection.mutable

/** Running sums of per-layer values over one pass. */
final class LayerSums {
  private val m = mutable.LinkedHashMap[String, Double]()
  def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  def toMap: Map[String, Double] = m.toMap
}

/** The per-layer metrics of a traced run, in report order, with units.
  * Every traced run reports all of them; a layer that a workload does not
  * exercise reads 0. Values are per pass (batch workloads: summed over the
  * pass's queries; crawl_stream: one micro-batch), median over the
  * traced passes, unless the name says otherwise. */
object Layers {
  val Links: Seq[String] = Seq("WarcHttpIngestLink", "QualityGateLink", "CanonicalGateLink",
    "DocTextLink", "NearDupGateLink", "FrontierLink", "CdxIndexLink")

  val Phases: Seq[(String, String)] = Seq("latestOffset" -> "latest_offset_ms",
    "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms",
    "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms",
    "commitOffsets" -> "commit_offsets_ms", "triggerExecution" -> "trigger_ms")

  val names: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.plan_s" -> "s",
    "spark.exec_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.sched_delay_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.failed_tasks" -> "count",
    "tables.scan_mb" -> "MB", "tables.scan_rows" -> "count",
    "cache.leaked_entries" -> "count") ++
    Kernels.names.map(k => s"functions.$k.ns_per_row" -> "ns/row") ++
    Seq("runtime.link_start_s" -> "s") ++
    Phases.map { case (_, n) => s"runtime.$n" -> "ms" } ++
    Links.map(l => s"runtime.$l.trigger_ms" -> "ms") ++
    Seq("runtime.idle_ms" -> "ms", "runtime.jobs_per_batch" -> "count",
      "runtime.tasks_per_batch" -> "count",
      "registry.write_s" -> "s", "registry.files" -> "count", "registry.mb" -> "MB",
      "ops.corpus_rows" -> "count", "ops.neardup_pairs" -> "count",
      "ops.admit_ratio" -> "ratio",
      "trace.overhead_pct" -> "%", "trace.spans" -> "count")

  private val MB = 1048576.0

  /** Add the Spark-layer totals of `jobs`, which ran inside `root`. */
  def addJobs(layers: LayerSums, log: SparkLog, jobs: Seq[JobRec], root: Span): Unit = {
    val t = log.totals(jobs)
    layers.add("spark.jobs", jobs.size)
    layers.add("spark.stages", log.stageCount(jobs))
    layers.add("spark.tasks", t.tasks)
    layers.add("spark.executor_run_s", t.runMs / 1e3)
    layers.add("spark.executor_cpu_s", t.cpuNs / 1e9)
    layers.add("spark.sched_delay_s", t.schedDelayMs / 1e3)
    layers.add("spark.shuffle_read_mb", t.shuffleRead / MB)
    layers.add("spark.shuffle_write_mb", t.shuffleWrite / MB)
    layers.add("spark.spill_mb", t.spill / MB)
    layers.add("spark.failed_tasks", t.failedTasks)
    layers.add("tables.scan_mb", t.inBytes / MB)
    layers.add("tables.scan_rows", t.inRecords)
    val busy = Tracer.union(jobs.map(j => (math.max(j.startMs * 1000, root.startUs),
      math.min(math.max(j.startMs, j.endMs) * 1000, root.endUs))))
    layers.add("spark.driver_gap_s", math.max(0L, root.durUs - busy) / 1e6)
  }
}
