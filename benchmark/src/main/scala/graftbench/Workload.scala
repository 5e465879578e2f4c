package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.core.SchemaJson
import graft.storage.TsdbTable

/** What a workload run is given. `tiny` shrinks every input for the smoke
  * test; the workload logic is identical. */
final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean, work: File) {
  /** A fresh, empty directory under the run's work directory. */
  def fresh(name: String): String = {
    val d = new File(work, name)
    graft.core.Fs.rmTree(d)
    d.mkdirs()
    d.getPath
  }
}

/** One output check: it counts toward `failed` when `ok` is false. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Everything one measured phase observed. Latencies are recorded in both
  * the untraced and the traced phase; spans only in the traced one. */
final class Phase(val tracer: Tracer) {
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def lat(kind: String): Seq[Double] = latencies.get(kind).map(_.toSeq).getOrElse(Nil)
  def add(counter: String, v: Double): Unit =
    counters(counter) = counters.getOrElse(counter, 0.0) + v
  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** A timed step inside an operation: latency recorded under `name`, and
    * a span of the same name when tracing. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(body)
    latencies.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** One client operation of the closed loop. A throw, or a `false` from
    * the body's own inline verdict, counts the operation as failed. */
  def op(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try tracer.op(name)(body)
      catch {
        case scala.util.control.NonFatal(e) =>
          errors += s"$name: $e"
          System.err.println(s"[bench] $name failed: $e")
          false
      }
    if (ok) latencies.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e9
    else failed += 1
  }

  /** Mean latency of every successful client operation. */
  def meanOpSeconds(opNames: Seq[String]): Double = {
    val xs = opNames.flatMap(lat)
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  }
}

/** A closed-loop workload with one client. */
trait Workload {
  /** Names of the root operations whose latencies make up the run. */
  def opNames: Seq[String]

  /** One timed set-up repetition; the state of the last one is used. */
  def setup(rep: Int): Unit

  /** Untimed warm-up after set-up (JIT, code generation, file caches). */
  def warmup(): Unit

  /** Issue operations until `deadlineNs`; the last one may overrun it. */
  def run(phase: Phase, deadlineNs: Long): Unit

  /** The end-to-end metrics of one phase, under the benchmark's generic
    * names (`op_p50_s`, `op_tail_s`, `work_per_s`), plus the same numbers
    * under the workload's own names for the human-readable report. */
  def endToEnd(phase: Phase): Seq[(String, Double, String)]

  /** Workload-specific per-layer numbers of a traced phase. */
  def layers(phase: Phase): Map[String, Double]

  /** Output checks, run after the measured phases, outside any timing. */
  def checks(): Seq[Check]

  /** Digest of the seeded inputs, recorded in the artifact: equal seeds
    * must give equal digests. */
  def inputDigest(): String
}

object Workload {
  /** Files and bytes under a local directory, `.crc` side files excluded. */
  def du(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(path)).filterNot(_.getName.endsWith(".crc"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  /** The metadata calls a reader makes after an append, timed as
    * `storage.meta`; returns the newest commit-log version. */
  def meta(phase: Phase, table: TsdbTable, path: String, conf: Configuration): Long =
    phase.step("storage.meta") {
      table.currentSeq()
      SchemaJson.read(path, conf)
      commitVersion(conf, path)
    }

  /** Newest commit-log version of a table, by the commit-log reader. */
  def commitVersion(conf: Configuration, path: String): Long = {
    val p = new Path(path)
    graft.benchmark.CommitLogAccess.readLatest(p.getFileSystem(conf), p).map(_._1).getOrElse(0L)
  }

  /** Relative agreement for sums of two-decimal values. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** `op_p50_s` and `op_tail_s` of a workload's operation latencies, with
    * the tail's percentile and sample counts for the report. */
  def opTail(xs: Seq[Double]): Seq[(String, Double, String)] = {
    val (pct, v, beyond) = Stats.tail(xs)
    Seq(("op_p50_s", Stats.median(xs), "s"), ("op_tail_s", v, "s"),
      ("tail_percentile", pct, "pct"), ("tail_beyond", beyond.toDouble, "count"),
      ("op_samples", xs.size.toDouble, "count"))
  }
}
