package graftbench

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      tiny: Boolean, work: File, out: File)

/** Outcome of one run: the result line plus the full artifact. */
final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
                         metrics: ListMap[String, (Double, String)],
                         artifact: ListMap[String, Any]) {
  def resultLine: String = Stats.json(ListMap(
    "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
    "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }))
}

/** Runs one named workload with one seed in one process and prints the
  * result as the last line of standard output:
  * {{{
  *   graftbench.Main --workload ingest|query|curate --seed N --seconds S --trace 0|1
  *                   [--work DIR] [--out DIR]
  * }}}
  * `--trace 0` reports the end-to-end metrics of an untraced phase.
  * `--trace 1` runs the same untraced phase, then a traced phase of the
  * same length on the same seed, and reports the per-layer metrics of the
  * traced one plus the tracing overhead (traced minus untraced). */
object Main {
  val Workloads: Seq[String] = Seq("ingest", "query", "curate")
  val SetupReps = 3

  /** The end-to-end metrics, identical names for every workload. The
    * tail (`op_tail_s`) is in the artifact only: a run of ten seconds has
    * too few operations for a percentile above the median. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "peak_rss_mb" -> "MB",
    "op_p50_s" -> "s", "work_per_s" -> "1/s")

  def main(args: Array[String]): Unit = {
    val opts = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"usage error: ${e.getMessage}")
        sys.exit(2)
    }
    val o = run(opts)
    println(o.resultLine)
    System.out.flush()
    sys.exit(0)
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Opts(w, need("seed").toLong, seconds, trace == "1", tiny = false,
      new File(kv.getOrElse("work", "bench-work")), new File(kv.getOrElse("out", "bench-out")))
  }

  def session(cores: Int, work: File): SparkSession =
    graft.core.SparkTuning.freezeTolerant(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath))
      .getOrCreate()

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "query" => new Query(ctx)
    case "curate" => new Curate(ctx)
  }

  def run(o: Opts): Outcome = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val timeline = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def mark(what: String): Unit = timeline(what) = (System.currentTimeMillis() - jvmStart) / 1e3
    graft.core.Fs.rmTree(o.work)
    o.work.mkdirs()
    o.out.mkdirs()
    val host = new HostProbe
    val calibBefore = Calib.probe()
    // Two executor threads: runs are dominated by driver-side fixed cost,
    // and leaving cores to the driver, JIT and GC halves the CPU asked of
    // a shared host, whose steal time was the largest source of spread.
    val cores = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors()))
    val spark = session(cores, o.work)
    spark.sparkContext.setLogLevel("WARN")
    mark("session")
    try {
      val w = workload(o.workload, Ctx(spark, o.seed, o.tiny, o.work))
      val setups = (1 to SetupReps).map { rep =>
        val t0 = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - t0) / 1e9
      }
      mark("setup")
      w.warmup()
      mark("warmup")

      def phase(traced: Boolean): (Phase, HostProbe#Window) = {
        val p = new Phase(new Tracer(traced, spark.sparkContext))
        host.measure(w.run(p, System.nanoTime() + (o.seconds * 1e9).toLong)) match {
          case (_, win) => (p, win)
        }
      }
      val (plain, plainWin) = phase(traced = false)
      mark("untraced_phase")
      val traced = if (!o.trace) None else {
        val probe = new SparkProbe(spark)
        probe.attach()
        val (p, win) = try phase(traced = true) finally probe.detach()
        mark("traced_phase")
        Some((p, win, probe))
      }
      val checks = w.checks()
      val digest = w.inputDigest()
      mark("checks")
      val calibAfter = Calib.probe()
      val rss = host.peakRssMb()

      val e2e = w.endToEnd(plain)
      val e2eMap = ListMap(e2e.map { case (k, v, u) => k -> (v, u) }: _*) ++
        ListMap("setup_s" -> (Stats.median(setups), "s"), "peak_rss_mb" -> (rss, "MB"))
      val phases = plain +: traced.map(_._1).toSeq
      val attempted = phases.map(_.attempted).sum + checks.size
      val failed = phases.map(_.failed).sum + checks.count(!_.ok)
      val layerMetrics = traced.map { case (p, win, probe) =>
        Layers.metrics(w, p, win, probe, plain, calibBefore, calibAfter)
      }
      val metrics =
        if (o.trace) layerMetrics.get.map { case (k, v) => k -> (v, Layers.unit(k)) }
        else ListMap(EndToEnd.map { case (k, u) => k -> (e2eMap(k)._1, u) }: _*)
      val evidence = (name: String, win: HostProbe#Window) => ListMap(
        "phase" -> name, "wall_s" -> win.wallS, "process_cpu_s" -> win.cpuS,
        "gc_s" -> win.gcS, "gc_count" -> win.gcCount, "steal_s" -> win.stealS,
        "stall_s" -> win.stallS, "stalls_at_s_len_s" -> win.stalls.map(s => Seq(s._1, s._2)),
        "max_sampler_gap_s" -> win.maxGapS, "heap_peak_mb" -> win.heapPeakMb)
      val artifact = ListMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
        "trace" -> o.trace, "size" -> (if (o.tiny) "tiny" else "full"),
        "cores" -> cores, "input_digest" -> digest, "setup_reps_s" -> setups,
        "timeline_s" -> timeline,
        "end_to_end" -> e2eMap.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
        "failed_share" -> failed.toDouble / math.max(1, attempted),
        "ops" -> phases.map(p => ListMap("attempted" -> p.attempted, "failed" -> p.failed,
          "errors" -> p.errors.toSeq,
          "latencies_s" -> p.latencies.map { case (k, v) => k -> v.toSeq })),
        "checks" -> checks,
        "host" -> ListMap("calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
          "peak_rss_mb" -> rss,
          "phases" -> (evidence("untraced", plainWin) +: traced.map(t => evidence("traced", t._2)).toSeq)),
        "per_layer" -> layerMetrics.getOrElse(ListMap.empty),
        "trace" -> traced.map { case (p, _, probe) => Layers.traceDump(p, probe) })
      report(o, e2eMap, checks, plainWin, calibBefore, calibAfter, layerMetrics)
      val file = new File(o.out,
        s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json")
      java.nio.file.Files.writeString(file.toPath, Stats.json(artifact))
      System.err.println(s"[bench] artifact: ${file.getPath}")
      Outcome(failed == 0, attempted, failed, metrics, artifact)
    } finally {
      spark.stop()
      graft.core.Fs.rmTree(o.work)
    }
  }

  private def report(o: Opts, e2e: ListMap[String, (Double, String)], checks: Seq[Check],
                     win: HostProbe#Window, calibBefore: Double, calibAfter: Double,
                     layers: Option[ListMap[String, Double]]): Unit = {
    val err = System.err
    err.println(s"[bench] ${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${o.trace}")
    e2e.foreach { case (k, (v, u)) => err.println(f"[bench]   $k%-26s $v%14.6f $u") }
    checks.foreach(c => err.println(s"[bench]   check ${if (c.ok) "PASS" else "FAIL"} ${c.name}: ${c.detail}"))
    err.println(f"[bench]   host: calib ${calibBefore}%.4f s -> ${calibAfter}%.4f s, " +
      f"steal ${win.stealS}%.2f s, stall ${win.stallS}%.3f s, gc ${win.gcS}%.3f s " +
      s"(${win.gcCount}), max sampler gap ${"%.3f".format(win.maxGapS)} s")
    layers.foreach(_.foreach { case (k, v) => err.println(f"[bench]   layer $k%-40s $v%16.6f") })
  }
}
