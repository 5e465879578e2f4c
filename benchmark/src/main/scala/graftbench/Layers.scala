package graftbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced phase. Times and counts are means per
  * client operation unless the name says otherwise (`_p50_s` medians,
  * ratios, and the `jvm.*` / `host.*` totals over the phase). Every
  * workload reports every name; a layer the workload does not run reads
  * 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "storage.append_s" -> "s", "storage.append_self_s" -> "s", "storage.append_jobs" -> "count",
    "storage.meta_s" -> "s", "storage.files_written" -> "count",
    "storage.bytes_written_per_sample" -> "bytes", "storage.stored_bytes_per_sample" -> "bytes",
    "storage.commits" -> "count", "storage.table_files" -> "count",
    "query.build_s" -> "s", "query.exec_s" -> "s") ++
    (Query.RefreshKinds ++ Query.ReportKinds).map(k => s"query.${k}_p50_s" -> "s") ++ Seq(
    "query.report_p50_s" -> "s", "query.rows_scanned_per_row_returned" -> "ratio",
    "query.rollup_served_share" -> "ratio",
    "sources.scan_s" -> "s", "sql.parse_s" -> "s",
    "ops.gate_s" -> "s", "ops.lsh_s" -> "s", "ops.cc_s" -> "s", "ops.drop_s" -> "s",
    "ops.pack_s" -> "s", "ops.candidate_pairs" -> "count", "ops.lsh_precision" -> "ratio",
    "ops.docs_kept" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.query_executions" -> "count",
    "spark.jobs" -> "count", "spark.single_task_jobs" -> "count", "spark.tasks" -> "count",
    "spark.unattributed_jobs" -> "count", "spark.job_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.executor_cpu_s" -> "s",
    "spark.scheduler_delay_s" -> "s",
    "self.storage_s" -> "s", "self.query_s" -> "s", "self.sources_s" -> "s",
    "self.sql_s" -> "s", "self.ops_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.gc_count" -> "count", "jvm.heap_peak_mb" -> "MB",
    "host.steal_s" -> "s", "host.stall_s" -> "s", "host.process_cpu_s" -> "s",
    "host.calib_s" -> "s", "host.calib_after_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio", "trace.spans" -> "count")

  private val units = Names.toMap
  def unit(name: String): String = units(name)

  /** Total length of the union of intervals. */
  def unionNs(xs: scala.collection.Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  private def jobNs(j: JobRec, t: Tracer): (Long, Long) =
    (j.startMs * 1000000L + t.clockOffsetNs, j.endMs * 1000000L + t.clockOffsetNs)

  /** Self time of each span: its duration minus the union of its child
    * spans and of the Spark jobs it submitted, clipped to the span. */
  def selfTimes(p: Phase, probe: SparkProbe): Map[Int, Double] = {
    val t = p.tracer
    val kids = t.spans.groupBy(_.parent)
    val jobsBySpan = probe.allJobs.groupBy(_.span)
    t.spans.map { s =>
      val children = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
        jobsBySpan.getOrElse(Some(s.id), Nil).map(jobNs(_, t))
      val clipped = children.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
        .filter { case (a, b) => b > a }
      s.id -> (s.endNs - s.startNs - (if (clipped.isEmpty) 0L else unionNs(clipped))) / 1e9
    }.toMap
  }

  def metrics(w: Workload, p: Phase, win: HostProbe#Window, probe: SparkProbe, plain: Phase,
              calibBefore: Double, calibAfter: Double): ListMap[String, Double] = {
    val t = p.tracer
    val ops = math.max(1, p.attempted).toDouble
    val jobs = probe.allJobs
    val byId = t.spans.map(s => s.id -> s).toMap
    val self = selfTimes(p, probe)
    def named(n: String) = t.spans.filter(_.name == n)
    def jobsOf(spans: Seq[Span]) = {
      val ids = spans.map(_.id).toSet
      jobs.filter(_.span.exists(ids))
    }
    def mean(n: String) = { val xs = p.lat(n); if (xs.isEmpty) 0.0 else xs.sum / xs.size }
    def meanOf(ns: String*) = { val xs = ns.flatMap(p.lat); if (xs.isEmpty) 0.0 else xs.sum / xs.size }
    def root(s: Span): Span = if (s.parent == 0) s else root(byId(s.parent))

    val appends = named("storage.append").toSeq
    val appendJobs = jobsOf(appends)
    val own = w.layers(p)
    val samplesAppended = own.getOrElse("storage.samples", 0.0)
    val queryRoots = Set("query.refresh", "query.report")
    val queryJobs = jobs.filter(_.span.flatMap(byId.get).exists(s => queryRoots(root(s).name)))
    val rowsReturned = p.counter("query.rows_returned")
    val jobWall = unionNs(jobs.map(jobNs(_, t))) / 1e9
    val selfBy = t.spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val plainMean = plain.meanOpSeconds(w.opNames)
    val tracedMean = p.meanOpSeconds(w.opNames)

    val computed: Map[String, Double] = Map(
      "storage.append_s" -> mean("storage.append"),
      "storage.append_self_s" -> (if (appends.isEmpty) 0.0 else appends.map(s => self(s.id)).sum / appends.size),
      "storage.append_jobs" -> (if (appends.isEmpty) 0.0 else appendJobs.size.toDouble / appends.size),
      "storage.meta_s" -> mean("storage.meta"),
      "storage.bytes_written_per_sample" ->
        (if (samplesAppended > 0) appendJobs.map(_.outputBytes).sum / samplesAppended else 0.0),
      "query.build_s" -> meanOf("query.build", "sources.build"),
      "query.exec_s" -> meanOf("query.exec", "sources.exec"),
      "query.rows_scanned_per_row_returned" ->
        (if (rowsReturned > 0) queryJobs.map(_.inputRecords).sum / rowsReturned else 0.0),
      "sources.scan_s" -> mean("sources.exec"),
      "sql.parse_s" -> mean("sql.parse"),
      "ops.gate_s" -> mean("ops.gate"), "ops.lsh_s" -> mean("ops.lsh"),
      "ops.cc_s" -> mean("ops.cc"), "ops.drop_s" -> mean("ops.drop"),
      "ops.pack_s" -> mean("ops.pack"),
      "catalyst.analysis_s" -> probe.analysisMs / 1e3 / ops,
      "catalyst.optimization_s" -> probe.optimizationMs / 1e3 / ops,
      "catalyst.planning_s" -> probe.planningMs / 1e3 / ops,
      "catalyst.query_executions" -> probe.queryExecutions / ops,
      "spark.jobs" -> jobs.size / ops,
      "spark.single_task_jobs" -> jobs.count(_.tasks == 1) / ops,
      "spark.tasks" -> jobs.map(_.tasks).sum / ops,
      "spark.unattributed_jobs" -> jobs.count(_.span.isEmpty).toDouble,
      "spark.job_s" -> jobWall / ops,
      "spark.input_bytes" -> jobs.map(_.inputBytes).sum / ops,
      "spark.output_bytes" -> jobs.map(_.outputBytes).sum / ops,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum / ops,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / ops,
      "spark.spill_bytes" -> jobs.map(_.spill).sum / ops,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / ops,
      "spark.scheduler_delay_s" -> jobs.map(_.schedDelayMs).sum / 1e3 / ops,
      "jvm.gc_s" -> win.gcS, "jvm.gc_count" -> win.gcCount.toDouble,
      "jvm.heap_peak_mb" -> win.heapPeakMb,
      "host.steal_s" -> win.stealS, "host.stall_s" -> win.stallS,
      "host.process_cpu_s" -> win.cpuS,
      "host.calib_s" -> calibBefore, "host.calib_after_s" -> calibAfter,
      "trace.overhead_s" -> (tracedMean - plainMean),
      "trace.overhead_share" -> (if (plainMean > 0) tracedMean / plainMean - 1 else 0.0),
      "trace.spans" -> t.spans.size / ops) ++
      Seq("storage", "query", "sources", "sql", "ops").map(l =>
        s"self.${l}_s" -> selfBy.getOrElse(l, 0.0) / ops) ++ own
    ListMap(Names.map { case (k, _) => k -> computed.getOrElse(k, 0.0) }: _*)
  }

  /** Spans, jobs and the per-append job split, for the trace file. */
  def traceDump(p: Phase, probe: SparkProbe): ListMap[String, Any] = {
    val t = p.tracer
    val t0 = t.spans.headOption.map(_.startNs).getOrElse(0L)
    val self = selfTimes(p, probe)
    val byId = t.spans.map(s => s.id -> s).toMap
    val jobsBySpan = probe.allJobs.groupBy(_.span)
    val appendSplit = t.spans.filter(_.name == "storage.append").map { s =>
      jobsBySpan.getOrElse(Some(s.id), Nil).sortBy(_.startMs)
    }.filter(_.nonEmpty)
    val maxJobs = if (appendSplit.isEmpty) 0 else appendSplit.map(_.size).max
    ListMap(
      "spans" -> t.spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9, "dur_s" -> s.seconds,
        "self_s" -> self(s.id))),
      "jobs" -> probe.allJobs.map { j =>
        val (a, b) = (j.startMs * 1000000L + t.clockOffsetNs, j.endMs * 1000000L + t.clockOffsetNs)
        ListMap("id" -> j.id, "span" -> j.span.getOrElse(0),
          "span_name" -> j.span.flatMap(byId.get).map(_.name).getOrElse("unattributed"),
          "site" -> j.site, "start_s" -> (a - t0) / 1e9, "dur_s" -> (b - a) / 1e9,
          "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9, "input_bytes" -> j.inputBytes,
          "input_records" -> j.inputRecords, "output_bytes" -> j.outputBytes,
          "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill)
      },
      "append_job_split" -> (0 until maxJobs).map { k =>
        val js = appendSplit.flatMap(_.lift(k))
        ListMap("job_index" -> k, "appends" -> js.size,
          "mean_s" -> js.map(j => (j.endMs - j.startMs) / 1e3).sum / math.max(1, js.size),
          "site" -> js.groupBy(_.site).maxBy(_._2.size)._1)
      },
      "catalyst" -> ListMap("analysis_s" -> probe.analysisMs / 1e3,
        "optimization_s" -> probe.optimizationMs / 1e3, "planning_s" -> probe.planningMs / 1e3,
        "query_executions" -> probe.queryExecutions, "failed_executions" -> probe.failedExecutions))
  }
}
