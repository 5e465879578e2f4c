package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` is the span name up to its first dot;
  * Spark jobs are spans of layer `spark` whose parent is the benchmark
  * span that was open when the job was submitted. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, var endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and counters recorded from the benchmark's own side of each call
  * into the engine. Disabled, `span` only runs its body: the untraced run
  * sets no job group and registers no listener. Enabled, each span tags
  * the Spark jobs it submits with `setJobGroup("bench:<span id>")`, which
  * threads created inside the call inherit. Main-thread only. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Maps listener wall-clock milliseconds onto the span clock. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private var stack: List[Span] = Nil
  private var nextOp = 0

  /** A root span: one client operation with its own operation id. */
  def op[T](name: String)(body: => T): T = {
    nextOp += 1
    span(name)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        nextOp, name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"bench:${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"bench:${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

/** Per-job record filled by [[SparkProbe]]. */
final class JobRec(val id: Int, val group: Option[String], val site: String,
                   val startMs: Long, val tasks: Int) {
  /** The benchmark span that submitted the job, if it carried a tag. */
  def span: Option[Int] = group.filter(_.startsWith("bench:")).map(_.drop(6).toInt)
  var endMs: Long = startMs
  var cpuNs, inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var shuffleRead, shuffleWrite, spill, schedDelayMs = 0L
}

/** Spark's own layers, seen from outside through its listener APIs: a
  * SparkListener for jobs, stages and task metrics, and a
  * QueryExecutionListener for Catalyst phase times. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile var analysisMs, optimizationMs, planningMs = 0L
  @volatile var queryExecutions, failedExecutions = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    // the result stage is named after the job's call site ("collect at …")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("?")
    jobs.put(e.jobId, new JobRec(e.jobId, group, site, e.time, e.stageInfos.map(_.numTasks).sum))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (m != null) j.foreach { r =>
      r.synchronized {
        r.cpuNs += m.executorCpuTime
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
        r.outputRecords += m.outputMetrics.recordsWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    queryExecutions += 1
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    failedExecutions += 1

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)
}

/** Process and host evidence recorded in every run, traced or not: GC,
  * process CPU, `/proc/stat` steal, and a sampler thread that finds wall
  * intervals in which the process made no CPU and no GC progress — the
  * signature of a whole-VM stall rather than a slow engine. */
final class HostProbe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def gcCount = gcs.map(_.getCollectionCount).sum
  private def gcMs = gcs.map(_.getCollectionTime).sum

  /** Cumulative steal time of all CPUs, in seconds (USER_HZ = 100). */
  def stealSeconds(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(0.0)
    finally src.close()
  } catch { case scala.util.control.NonFatal(_) => 0.0 }

  /** Peak resident set (VmHWM) of this process in MB. */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
    finally src.close()
  } catch { case scala.util.control.NonFatal(_) => 0.0 }

  final case class Window(wallS: Double, cpuS: Double, gcS: Double, gcCount: Long,
                          stealS: Double, stallS: Double, stalls: Seq[(Double, Double)],
                          maxGapS: Double, heapPeakMb: Double)

  /** Measure `body`, returning its host-side evidence. */
  def measure[T](body: => T): (T, Window) = {
    heapPools.foreach(_.resetPeakUsage())
    val stalls = mutable.ArrayBuffer.empty[(Double, Double)]
    @volatile var running = true
    var maxGap = 0L
    val t0 = System.nanoTime()
    val sampler = new Thread(() => {
      var (w, c, g) = (System.nanoTime(), os.getProcessCpuTime, gcCount)
      while (running) {
        Thread.sleep(20)
        val (w2, c2, g2) = (System.nanoTime(), os.getProcessCpuTime, gcCount)
        val gap = w2 - w
        maxGap = math.max(maxGap, gap)
        // a gap of 5+ sampling periods with under 5% of one CPU used and no
        // collection finishing: every thread of the process was parked
        if (gap > 100000000L && (c2 - c) < gap / 20 && g2 == g)
          stalls.synchronized(stalls += (((w - t0) / 1e9, gap / 1e9)))
        w = w2; c = c2; g = g2
      }
    }, "bench-stall-sampler")
    sampler.setDaemon(true)
    val (cpu0, gcMs0, gcN0, steal0) = (os.getProcessCpuTime, gcMs, gcCount, stealSeconds())
    sampler.start()
    val r = try body finally { running = false; sampler.join() }
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val win = Window((System.nanoTime() - t0) / 1e9, (os.getProcessCpuTime - cpu0) / 1e9,
      (gcMs - gcMs0) / 1e3, gcCount - gcN0, stealSeconds() - steal0,
      stalls.map(_._2).sum, stalls.toSeq, maxGap / 1e9, heapPeak)
    (r, win)
  }
}

object Calib {
  @volatile private var sink = 0L

  /** Fixed single-thread integer work (xorshift, 2^26 rounds): its wall
    * time tracks the speed of one core, so a drift between the probes
    * before and after a run flags a host slowdown rather than a
    * regression. Median of three. */
  def probe(): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink += x
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(ts)
  }
}
