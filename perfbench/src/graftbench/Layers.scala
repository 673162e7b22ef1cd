package graftbench

/** Per-layer metrics of a traced run. Each figure is a mean per op of
  * the measured pass (totals over the pass divided by its op count),
  * except the once-per-run probes (`sources.load_s`, `session.tune_s`),
  * `blocks.*` (the most held after any op), `storage.files_live` (files
  * under the warehouse at the end) and `trace.*`. Names are stable:
  * later changes report against them. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "scheduler.driver_gap_s" -> "s", "session.tune_s" -> "s", "queries.build_s" -> "s",
    "queries.build_jobs" -> "count", "queries.action_s" -> "s", "sources.load_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "catalyst.executions" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.job_busy_s" -> "s",
    "executor.task_run_s" -> "s", "executor.task_cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.tasks_failed" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes", "shuffle.spill_bytes" -> "bytes",
    "catalog.events" -> "count", "storage.bytes_written" -> "bytes",
    "storage.files_written" -> "count", "storage.files_live" -> "count",
    "operators.ingest.merge_s" -> "s", "operators.ingest.append_s" -> "s",
    "operators.graph.pagerank_s" -> "s", "operators.graph.kcore_s" -> "s",
    "operators.graph.lpa_s" -> "s", "operators.graph.ktruss_s" -> "s",
    "dedup.cc_s" -> "s", "text.bpe_train_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.query_planning_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.latest_offset_s" -> "s",
    "streaming.trigger_execution_s" -> "s",
    "blocks.rdds_held" -> "count", "blocks.bytes_held" -> "bytes",
    "trace.pass_s" -> "s", "trace.op_p50_s" -> "s", "trace.ops" -> "count")

  /** Spans whose total time is reported under a layer name. */
  private val spanLayers: Seq[(String, String)] = Seq(
    "session.tune" -> "session.tune_s", "queries.build" -> "queries.build_s",
    "queries.action" -> "queries.action_s", "sources.load" -> "sources.load_s",
    "operators.ingest.merge" -> "operators.ingest.merge_s",
    "operators.ingest.append" -> "operators.ingest.append_s",
    "operators.graph.pagerank" -> "operators.graph.pagerank_s",
    "operators.graph.kcore" -> "operators.graph.kcore_s",
    "operators.graph.lpa" -> "operators.graph.lpa_s",
    "operators.graph.ktruss" -> "operators.graph.ktruss_s",
    "dedup.cc" -> "dedup.cc_s", "text.bpe_train" -> "text.bpe_train_s")

  private val streamKeys: Seq[(String, String)] = Seq(
    "addBatch" -> "streaming.add_batch_s", "queryPlanning" -> "streaming.query_planning_s",
    "walCommit" -> "streaming.wal_commit_s", "latestOffset" -> "streaming.latest_offset_s",
    "triggerExecution" -> "streaming.trigger_execution_s")

  /** @param roots    (root span id, start ms, end ms) of each measured op
    * @param blocks   (persistent RDDs, bytes held) after each op
    * @param written  (bytes, files) written under the warehouse by each op */
  def summarise(roots: Seq[(Int, Double, Double)], blocks: Seq[(Long, Long)],
      written: Seq[(Long, Long)], filesLive: Double, opP50: Double,
      pass: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, roots.size).toDouble
    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Names.foreach { case (k, _) => v(k) = 0.0 }
    def in(at: Double) = roots.exists { case (_, a, b) => at >= a && at <= b }
    val spans = Trace.allSpans
    val rootIds = roots.map(_._1).toSet
    val jobs = Trace.synchronized(Trace.jobs.values.toSeq)
    val tasks = Trace.synchronized(Trace.tasks.toSeq).filter(t => in(t.at))
    val stages = Trace.synchronized(Trace.stages.toSeq).filter(s => in(s.at))
    val qes = Trace.synchronized(Trace.qes.toSeq).filter(q => in(q.at))
    val streams = Trace.synchronized(Trace.streams.toSeq).filter(s => in(s.at))
    val opJobs = jobs.filter(j => in(j.start))

    roots.foreach { case (_, a, b) =>
      val busy = Trace.covered(opJobs.map(j => (j.start, if (j.end.isNaN) b else j.end)), a, b)
      v("scheduler.job_busy_s") += busy / 1000.0
      v("scheduler.driver_gap_s") += (b - a - busy) / 1000.0
    }
    v("scheduler.jobs") = opJobs.size
    v("scheduler.stages") = stages.size
    v("scheduler.tasks") = tasks.size
    v("executor.task_run_s") = tasks.map(_.runMs).sum / 1000.0
    v("executor.task_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    v("executor.gc_s") = tasks.map(_.gcMs).sum / 1000.0
    v("executor.tasks_failed") = tasks.count(_.failed)
    v("shuffle.write_bytes") = tasks.map(_.shuffleWrite).sum.toDouble
    v("shuffle.read_bytes") = tasks.map(_.shuffleRead).sum.toDouble
    v("shuffle.spill_bytes") = tasks.map(_.spill).sum.toDouble
    v("catalyst.executions") = qes.size
    v("catalyst.analysis_s") = qes.map(_.analysisMs).sum / 1000.0
    v("catalyst.optimization_s") = qes.map(_.optimizationMs).sum / 1000.0
    v("catalyst.planning_s") = qes.map(_.planningMs).sum / 1000.0
    streamKeys.foreach { case (key, name) =>
      v(name) = streams.map(_.durations.getOrElse(key, 0L)).sum / 1000.0
    }
    v("catalog.events") = Trace.synchronized(rootIds.toSeq.map(Trace.catalogEvents).sum)
    v("storage.bytes_written") = written.map(_._1).sum.toDouble
    v("storage.files_written") = written.map(_._2).sum.toDouble

    val byName = spans.filter(s => !s.end.isNaN).groupBy(_.name)
    spanLayers.foreach { case (span, name) =>
      v(name) = byName.getOrElse(span, Nil).map(s => s.end - s.start).sum / 1000.0
    }
    val builds = byName.getOrElse("queries.build", Nil)
    v("queries.build_jobs") = jobs.count(j => builds.exists(s => j.start >= s.start && j.start <= s.end))

    // per-op means, except the probes done once before the loop
    Names.foreach { case (k, _) => if (k != "sources.load_s" && k != "session.tune_s") v(k) = v(k) / n }
    v("storage.files_live") = filesLive
    v("blocks.rdds_held") = if (blocks.isEmpty) 0.0 else blocks.map(_._1).max.toDouble
    v("blocks.bytes_held") = if (blocks.isEmpty) 0.0 else blocks.map(_._2).max.toDouble
    v("trace.pass_s") = pass
    v("trace.op_p50_s") = opP50
    v("trace.ops") = roots.size
    Names.map { case (k, u) => (k, v(k), u) }
  }
}
