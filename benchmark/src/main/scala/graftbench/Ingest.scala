package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SchemaJson
import graft.storage.{TsdbConfig, TsdbTable}

/** `ingest`: seeded one-hour batches appended to a table that starts
  * empty, with incremental rollup (1 h rollup, 1 d partitions). It runs
  * the `graft.storage` write path almost alone; commit history grows and
  * a new partition starts every 24 batches. The read path is bypassed. */
final class Ingest(ctx: Ctx) extends Workload {
  import Gen.{Epoch, Hour}
  private val spark = ctx.spark
  val shape: TsdbShape =
    if (ctx.tiny) TsdbShape(4, 5, 2, 30000L) else TsdbShape(20, 50, 4, 30000L)
  private val points = (Hour / shape.stepMs).toInt
  private val perBatch = shape.series.toLong * points
  private val cfg = TsdbConfig(partitionIntervalMs = Gen.Day, rollupIntervalMs = Hour)
  private val hconf = spark.sparkContext.hadoopConfiguration

  /** Batch k of the measured stream: hour k after the epoch. */
  def batch(k: Int): DataFrame = Gen.samples(spark, ctx.seed, shape, Epoch + k * Hour, points)

  /** (table path, batches appended) of each measured phase. */
  private val tables = mutable.ArrayBuffer.empty[(String, Int)]
  private var phaseNo = 0

  val opNames: Seq[String] = Seq("storage.append")

  private def create(path: String): TsdbTable = {
    SchemaJson.write(path, cfg, hconf)
    new TsdbTable(spark, path, cfg)
  }

  /** An empty table, plus one append of an unrelated batch into a scratch
    * table so the append path is compiled before the clock starts. */
  def setup(rep: Int): Unit = {
    create(ctx.fresh(s"ingest-empty-$rep"))
    create(ctx.fresh(s"ingest-scratch-$rep")).append(
      Gen.samples(spark, ctx.seed + 1, shape, Epoch - Gen.Day, points), incrementalRollup = true)
  }

  def warmup(): Unit = ()

  def run(phase: Phase, deadlineNs: Long): Unit = {
    phaseNo += 1
    val path = ctx.fresh(s"ingest-table-$phaseNo")
    val t = create(path)
    var k = 0
    while (System.nanoTime() < deadlineNs) {
      val b = batch(k)
      phase.op("storage.append") { t.append(b, incrementalRollup = true); true }
      Workload.meta(phase, t, path, hconf)
      k += 1
    }
    tables += ((path, k))
    val (files, bytes) = Workload.du(path)
    phase.add("samples", k.toDouble * perBatch)
    phase.add("storage.table_files", files.toDouble)
    phase.add("storage.table_bytes", bytes.toDouble)
    phase.add("storage.commits", Workload.commitVersion(hconf, path).toDouble)
  }

  def endToEnd(phase: Phase): Seq[(String, Double, String)] = {
    val appendS = phase.lat("storage.append").sum
    val samples = phase.counter("samples")
    val tail = Workload.opTail(phase.lat("storage.append"))
    tail ++ Seq(
      ("work_per_s", if (appendS > 0) samples / appendS else 0.0, "1/s"),
      ("ingest_samples_per_s", if (appendS > 0) samples / appendS else 0.0, "samples/s"),
      ("append_p50_s", tail.head._2, "s"), ("append_tail_s", tail(1)._2, "s"),
      ("stored_bytes_per_sample", phase.counter("storage.table_bytes") / math.max(samples, 1.0),
        "bytes"))
  }

  def layers(phase: Phase): Map[String, Double] = {
    val samples = math.max(phase.counter("samples"), 1.0)
    val appends = math.max(1, phase.lat("storage.append").size)
    Map(
      "storage.files_written" -> phase.counter("storage.table_files") / appends,
      "storage.table_files" -> phase.counter("storage.table_files"),
      "storage.stored_bytes_per_sample" -> phase.counter("storage.table_bytes") / samples,
      "storage.commits" -> phase.counter("storage.commits") / appends,
      "storage.samples" -> samples)
  }

  def inputDigest(): String = Gen.digest(batch(0))

  /** Raw count and per-metric sums against the generator's own tally over
    * the same frames, and one seeded hour's rollup against its raw sum. */
  def checks(): Seq[Check] = tables.toSeq.zipWithIndex.flatMap { case ((path, k), i) =>
    if (k == 0) Seq(Check(s"ingest.phase$i.appended", ok = false, "no batch appended"))
    else {
      val t = new TsdbTable(spark, path, cfg)
      val gen = (0 until k).map(batch).reduce(_ unionByName _)
      def tally(df: DataFrame, cnt: org.apache.spark.sql.Column, sm: org.apache.spark.sql.Column) =
        df.groupBy("name").agg(cnt.as("c"), sm.as("s")).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      def same(a: Map[String, (Long, Double)], b: Map[String, (Long, Double)]) =
        a.keySet == b.keySet && a.forall { case (n, (c, s)) =>
          b(n)._1 == c && Workload.close(b(n)._2, s) }
      val expect = tally(gen, count(lit(1)), sum("value"))
      val raw = tally(t.readRaw(Epoch, Epoch + k * Hour - 1), count(lit(1)), sum("value"))
      val hour = new java.util.SplittableRandom(ctx.seed + i).nextInt(k)
      val h0 = Epoch + hour * Hour
      val hourRaw = tally(gen.filter(col("time").between(h0, h0 + Hour - 1)),
        count(lit(1)), sum("value"))
      val rollup = tally(t.readRollup().filter(col("bucket_start") === h0),
        sum("__p_count").cast("long"), sum("__p_sum"))
      Seq(
        Check(s"ingest.phase$i.raw_matches_generator", same(expect, raw),
          s"${expect.values.map(_._1).sum} samples generated, ${raw.values.map(_._1).sum} read"),
        Check(s"ingest.phase$i.rollup_hour_matches_raw", same(hourRaw, rollup),
          s"hour $hour: ${hourRaw.size} metrics"))
    }
  }
}
