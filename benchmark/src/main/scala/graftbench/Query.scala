package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.SchemaJson
import graft.query.SelectParams
import graft.sql.TsdbSql
import graft.storage.{TsdbConfig, TsdbTable}

/** One executed query, kept for the output checks. `tEnd` is the newest
  * sample at the time it ran; `summary` is computed from its rows. */
final case class Ran(kind: String, p: SelectParams, host: String, dc: String,
                     tEnd: Long, summary: Seq[Double])

/** `query`: a closed loop of dashboard refreshes and analyst reports over
  * a table staged during set-up, with a small live batch appended before
  * each block of refreshes. Refreshes (five short queries on recent windows) are
  * dominated by metadata, Catalyst and job overhead; reports (five
  * queries over the full history) by scan, exchange and window CPU. The
  * live batches change the table under the readers, so no cross-query
  * metadata cache can serve a stale answer unnoticed. */
final class Query(ctx: Ctx) extends Workload {
  import Gen.{Day, Epoch, Hour}
  private val spark = ctx.spark
  val shape: TsdbShape =
    if (ctx.tiny) TsdbShape(3, 4, 2, 30000L) else TsdbShape(10, 10, 2, 30000L)
  /** Staged history: twelve hours, so set-up stays a fraction of a run. */
  private val historyMs = 12 * Hour
  /** Cross-series window: sized to stay under about half a report. */
  private val crossWindow = 6 * Hour
  private val cfg = TsdbConfig(preAggregates = Seq(Seq("dc")))
  private val hconf = spark.sparkContext.hadoopConfiguration

  val RefreshKinds: Seq[String] = Query.RefreshKinds
  val ReportKinds: Seq[String] = Query.ReportKinds

  private var path = ""
  private var table: TsdbTable = _
  private val tStart = Epoch
  private var tEnd = 0L
  /** Start times of the live one-minute batches, in order. */
  private val live = mutable.ArrayBuffer.empty[Long]
  private val ran = mutable.ArrayBuffer.empty[Ran]
  private val livePoints = 2
  /** Files and newest commit version of the table after the last append. */
  private var tableFiles = 0L
  private var version = 0L

  val opNames: Seq[String] = Seq("query.refresh", "query.report", "query.live")

  private def history: DataFrame =
    Gen.samples(spark, ctx.seed, shape, Epoch, (historyMs / shape.stepMs).toInt)
  private def liveBatch(from: Long): DataFrame =
    Gen.samples(spark, ctx.seed, shape, from, livePoints)

  /** Stage the history with one bulk append into a fresh table. */
  def setup(rep: Int): Unit = {
    if (path.nonEmpty) graft.core.Fs.rmTree(new java.io.File(path))
    path = ctx.fresh(s"query-table-$rep")
    SchemaJson.write(path, cfg, hconf)
    table = new TsdbTable(spark, path, cfg)
    table.append(history, incrementalRollup = true)
    tEnd = Epoch + historyMs - shape.stepMs
    live.clear()
    tableFiles = Workload.du(path)._1
    version = Workload.commitVersion(hconf, path)
  }

  /** Two refreshes and a report from an unrelated seed. */
  def warmup(): Unit = {
    val phase = new Phase(new Tracer(false, spark.sparkContext))
    val block = Query.plan(ctx.seed ^ 0x5eed, shape).next()
    block.filter(_.kind == "refresh").take(2).foreach(refresh(phase, _, keep = false))
    block.filter(_.kind == "report").foreach(report(phase, _, keep = false))
  }

  /** Whole blocks only, so every run sees the same mix of operations. */
  def run(phase: Phase, deadlineNs: Long): Unit = {
    val plan = Query.plan(ctx.seed, shape)
    while (System.nanoTime() < deadlineNs)
      plan.next().foreach { d =>
        d.kind match {
          case "live" =>
            phase.op("query.live")(appendLive(phase))
            val files = Workload.du(path)._1
            phase.add("storage.files_written", (files - tableFiles).toDouble)
            tableFiles = files
          case "refresh" => phase.op("query.refresh")(refresh(phase, d, keep = true))
          case "report" => phase.op("query.report")(report(phase, d, keep = true))
        }
      }
  }

  private def appendLive(phase: Phase): Boolean = {
    val from = tEnd + shape.stepMs
    phase.step("storage.append")(table.append(liveBatch(from), incrementalRollup = true))
    val v = Workload.meta(phase, table, path, hconf)
    phase.add("storage.commits", (v - version).toDouble)
    version = v
    live += from
    tEnd = from + (livePoints - 1) * shape.stepMs
    true
  }

  private def exec(phase: Phase, kind: String, p: SelectParams, host: String, dc: String,
                   keep: Boolean)(build: => DataFrame): Unit = {
    val layer = if (kind == "label_scan" || kind == "part_sum") "sources" else "query"
    val rows = phase.step(s"query.$kind") {
      val df = phase.step(s"$layer.build")(build)
      phase.step(s"$layer.exec")(df.collect())
    }
    phase.add("query.rows_returned", rows.length.toDouble)
    phase.add("query.queries", 1)
    if (layer == "query" && table.canServerAggregate(p)) phase.add("query.rollup_served", 1)
    if (keep) ran += Ran(kind, p, host, dc, tEnd, Query.summary(kind, rows))
  }

  /** Five panels on one series, windows ending at the newest sample. */
  private def refresh(phase: Phase, d: Draw, keep: Boolean): Boolean = {
    val ws = d.windows
    val m = shape.metricName(d.metric)
    val (host, dc) = (shape.hostName(d.host), shape.dcName(d.host))
    val byHost = s"labels['host'] = '$host'"
    val raw = SelectParams(name = m, filter = byHost, from = tEnd - ws(0), to = tEnd)
    exec(phase, "raw", raw, host, dc, keep)(table.select(raw))
    val ds = raw.copy(from = tEnd - ws(1), step = ws(1) / 30)
    exec(phase, "downsample", ds, host, dc, keep)(table.select(ds))
    val agg = SelectParams(name = m, functions = "avg,max", filter = s"labels['dc'] = '$dc'",
      from = tEnd - ws(2), to = tEnd, step = ws(2) / 12)
    exec(phase, "client_agg", agg, host, dc, keep)(table.select(agg))
    val sqlText = s"select max($m), avg($m) from tsdb where host == '$host'"
    val sqlP = phase.step("sql.parse")(TsdbSql.parse(sqlText))
      .copy(from = tEnd - ws(3), to = tEnd, step = ws(3) / 6)
    exec(phase, "sql", sqlP, host, dc, keep)(table.select(sqlP))
    val scan = SelectParams(from = tEnd - ws(4), to = tEnd)
    exec(phase, "label_scan", scan, host, dc, keep)(
      spark.read.format("graft").option("label.host", host).load(path)
        .filter(col("time").between(scan.from, scan.to))
        .groupBy("name").agg(count(lit(1)).as("cnt"), sum("value").as("sum_v")))
    true
  }

  /** Five queries over the whole history. */
  private def report(phase: Phase, d: Draw, keep: Boolean): Boolean = {
    val m = shape.metricName(d.metric)
    val dc = shape.dcName(d.host)
    val (from, to) = (tStart, tEnd)
    val ra = SelectParams(name = m, functions = "count,sum,min,max,avg", from = from, to = to,
      step = Day)
    exec(phase, "rollup_agg", ra, "", dc, keep)(table.select(ra))
    val pg = SelectParams(name = m, functions = "sum,count", groupBy = "dc", from = from,
      to = to, step = Day)
    exec(phase, "preagg_groupby", pg, "", dc, keep)(table.select(pg))
    exec(phase, "part_sum", SelectParams(from = from, to = to), "", dc, keep)(
      spark.read.format("graft").load(path)
        .groupBy("part_start").agg(count(lit(1)).as("cnt"), sum("value").as("sum_v")))
    val rate = SelectParams(name = m, functions = "rate", filter = s"labels['dc'] = '$dc'",
      from = from, to = to, step = Hour)
    exec(phase, "rate", rate, "", dc, keep)(table.select(rate))
    val cross = SelectParams(name = m, functions = "sum_all,count_all",
      from = to - crossWindow, to = to, step = Hour)
    exec(phase, "cross_all", cross, "", dc, keep)(table.select(cross))
    true
  }

  /** The operation is one dashboard panel query: a refresh is five of
    * them, one of each refresh kind, so every run pools the same mix.
    * `work_per_s` pools refresh and report queries in the plan's ratio;
    * the `share_*` entries give each operation kind's measured share of
    * the phase's operation time, so that weighting can be read off. */
  def endToEnd(phase: Phase): Seq[(String, Double, String)] = {
    val panels = RefreshKinds.flatMap(k => phase.lat(s"query.$k"))
    val busy = (phase.lat("query.refresh") ++ phase.lat("query.report")).sum
    val qps = if (busy > 0) phase.counter("query.queries") / busy else 0.0
    val refresh = phase.lat("query.refresh")
    val opTime = opNames.map(phase.lat(_).sum)
    val shares = opNames.zip(opTime).map { case (n, t) =>
      (s"share_${n.stripPrefix("query.")}", if (opTime.sum > 0) t / opTime.sum else 0.0, "ratio")
    }
    Workload.opTail(panels) ++ shares ++ Seq(("work_per_s", qps, "1/s"),
      ("refresh_p50_s", Stats.median(refresh), "s"), ("refresh_tail_s", Stats.tail(refresh)._2, "s"),
      ("report_p50_s", Stats.median(phase.lat("query.report")), "s"),
      ("queries_per_s", qps, "queries/s"))
  }

  def layers(phase: Phase): Map[String, Double] = {
    val kinds = (RefreshKinds ++ ReportKinds).map(k =>
      s"query.${k}_p50_s" -> Stats.median(phase.lat(s"query.$k")))
    val (files, bytes) = Workload.du(path)
    val stored = (historyMs / shape.stepMs + live.size * livePoints) * shape.series
    val appends = math.max(1, phase.lat("query.live").size)
    kinds.toMap ++ Map(
      "storage.files_written" -> phase.counter("storage.files_written") / appends,
      "storage.commits" -> phase.counter("storage.commits") / appends,
      "query.report_p50_s" -> Stats.median(phase.lat("query.report")),
      "query.rollup_served_share" -> phase.counter("query.rollup_served") /
        math.max(1.0, phase.counter("query.queries") -
          phase.lat("query.label_scan").size - phase.lat("query.part_sum").size),
      "storage.table_files" -> files.toDouble,
      "storage.stored_bytes_per_sample" -> bytes.toDouble / stored,
      "storage.samples" -> livePoints.toDouble * shape.series * phase.lat("query.live").size)
  }

  def inputDigest(): String =
    s"${Gen.digest(history)}/${Query.plan(ctx.seed, shape).take(16).toList.hashCode}"

  // ------------------------------------------------------------ checks

  /** Every generated sample up to `upTo`: the staged days plus the live
    * minutes appended so far — plain Spark, no engine code. */
  private def generated(upTo: Long): DataFrame =
    (history +: live.filter(_ <= upTo).map(liveBatch))
      .reduce(_ unionByName _).filter(col("time") <= upTo)

  /** One seeded query of each checkable kind against plain Spark SQL over
    * the generated samples, and every live minute visible in the table. */
  def checks(): Seq[Check] = {
    val rnd = new SplittableRandom(ctx.seed + 99)
    val byKind = Query.Checkable.flatMap { k =>
      val xs = ran.filter(_.kind == k)
      if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
    }
    val subset = byKind.map { r =>
      val expect = Query.oracle(r, generated(r.tEnd), tStart)
      val ok = expect.size == r.summary.size &&
        expect.zip(r.summary).forall { case (a, b) => Workload.close(a, b) }
      Check(s"query.${r.kind}_matches_spark_sql", ok,
        s"engine ${r.summary.mkString("/")} vs spark ${expect.mkString("/")}")
    }
    val visible =
      if (live.isEmpty) Check("query.live_minutes_visible", ok = true, "no live batch ran")
      else {
        val seen = table.readRaw(live.head, tEnd).groupBy("time").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val times = live.flatMap(f => (0 until livePoints).map(i => f + i * shape.stepMs))
        val missing = times.count(t => !seen.get(t).contains(shape.series.toLong))
        Check("query.live_minutes_visible", missing == 0,
          s"${times.size} live timestamps, $missing incomplete")
      }
    subset :+ visible
  }
}

/** One seeded client step of the query loop: a live batch, a refresh
  * (panel windows, metric, host) or a report (metric, and the host whose
  * data centre it filters on). */
final case class Draw(kind: String, windows: IndexedSeq[Long] = IndexedSeq.empty,
                      metric: Int = 0, host: Int = 0)

object Query {
  /** The client's blocks for a seed: one live batch, three refreshes, one
    * report. Every refresh uses the same five panel windows, dealt in a
    * seeded order, so refreshes differ in what they read but not in how
    * much; metrics and hosts are skewed toward popular ones. The first
    * refresh after the live batch is the one that finds the table
    * changed. */
  def plan(seed: Long, shape: TsdbShape): Iterator[Seq[Draw]] = {
    val rnd = new SplittableRandom(seed * 31 + 7)
    Iterator.continually {
      val refreshes = Seq.fill(3)(Draw("refresh",
        Gen.shuffled(rnd, PanelWindows.size).map(PanelWindows),
        Gen.skewed(rnd, shape.metrics), Gen.skewed(rnd, shape.hosts)))
      val report = Draw("report", metric = Gen.skewed(rnd, shape.metrics),
        host = rnd.nextInt(shape.hosts))
      Draw("live") +: refreshes :+ report
    }
  }

  val RefreshKinds: Seq[String] = Seq("raw", "downsample", "client_agg", "sql", "label_scan")
  /** Window lengths of a refresh's five panels: 15 min to 6 h. */
  val PanelWindows: IndexedSeq[Long] =
    IndexedSeq(15 * 60000L, Gen.Hour, Gen.Hour, 3 * Gen.Hour, 6 * Gen.Hour)
  val ReportKinds: Seq[String] = Seq("rollup_agg", "preagg_groupby", "part_sum", "rate", "cross_all")
  val Checkable: Seq[String] = Seq("raw", "client_agg", "label_scan", "rollup_agg", "part_sum")

  private def d(r: Row, i: Int): Double =
    if (r.isNullAt(i)) 0.0 else r.get(i) match {
      case x: java.lang.Number => x.doubleValue()
      case _ => 0.0
    }

  /** Order-independent numeric digest of a query's rows. */
  def summary(kind: String, rows: Array[Row]): Seq[Double] = {
    def col(name: String): Seq[Double] =
      if (rows.isEmpty) Nil else {
        val i = rows.head.schema.fieldIndex(name)
        rows.toSeq.map(d(_, i))
      }
    kind match {
      case "raw" => Seq(rows.length.toDouble, col("v").sum)
      case "client_agg" => Seq(rows.length.toDouble, col("max").sum, col("avg").sum)
      case "label_scan" | "part_sum" => Seq(rows.length.toDouble, col("cnt").sum, col("sum_v").sum)
      case "rollup_agg" => Seq(rows.length.toDouble, col("count").sum, col("sum").sum,
        col("min").sum, col("max").sum)
      case _ => Seq(rows.length.toDouble)
    }
  }

  /** The same query written directly in Spark SQL over generated samples. */
  def oracle(r: Ran, gen: DataFrame, tStart: Long): Seq[Double] = {
    val p = r.p
    val inRange = gen.filter(col("time").between(p.from, p.to))
    def one(df: DataFrame): Row = df.head()
    r.kind match {
      case "raw" =>
        val x = one(inRange.filter(col("name") === p.name && col("labels")("host") === r.host)
          .agg(count(lit(1)), coalesce(sum("value"), lit(0.0))))
        Seq(x.getLong(0).toDouble, x.getDouble(1))
      case "client_agg" =>
        val cells = inRange.filter(col("name") === p.name && col("labels")("dc") === r.dc)
          .groupBy(col("labels")("host"), (lit(p.from) + floor((col("time") - p.from) / p.step)
            .cast("long") * p.step).as("t"))
          .agg(max("value").as("mx"), avg("value").as("av"))
        val x = one(cells.agg(count(lit(1)), coalesce(sum("mx"), lit(0.0)),
          coalesce(sum("av"), lit(0.0))))
        Seq(x.getLong(0).toDouble, x.getDouble(1), x.getDouble(2))
      case "label_scan" =>
        val x = one(inRange.filter(col("labels")("host") === r.host)
          .groupBy("name").agg(count(lit(1)).as("c"), sum("value").as("s"))
          .agg(count(lit(1)), coalesce(sum("c"), lit(0L)), coalesce(sum("s"), lit(0.0))))
        Seq(x.getLong(0).toDouble, x.getLong(1).toDouble, x.getDouble(2))
      case "part_sum" =>
        val x = one(gen.groupBy((floor(col("time") / Gen.Day).cast("long") * Gen.Day).as("p"))
          .agg(count(lit(1)).as("c"), sum("value").as("s"))
          .agg(count(lit(1)), sum("c"), sum("s")))
        Seq(x.getLong(0).toDouble, x.getLong(1).toDouble, x.getDouble(2))
      case "rollup_agg" =>
        val cells = inRange.filter(col("name") === p.name)
          .groupBy(col("labels")("host"), (lit(tStart) + floor((col("time") - tStart) / p.step)
            .cast("long") * p.step).as("t"))
          .agg(count(lit(1)).as("c"), sum("value").as("s"), min("value").as("mn"),
            max("value").as("mx"))
        val x = one(cells.agg(count(lit(1)), sum("c"), sum("s"), sum("mn"), sum("mx")))
        Seq(x.getLong(0).toDouble, x.getLong(1).toDouble, x.getDouble(2), x.getDouble(3),
          x.getDouble(4))
    }
  }
}
