package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, Dedup, TextAnalysis}

/** `curate`: repeated curation passes over a seeded multilingual corpus
  * with planted near-duplicate groups and planted junk. Each pass runs the
  * quality/langid gate, MinHash-LSH pairs, connected components, the
  * near-duplicate drop and token-budget shard packing. It is the only
  * workload that runs `graft.ops` / `graft.functions`, and it bypasses
  * the TSDB entirely. */
final class Curate(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  val docCount: Int = if (ctx.tiny) 400 else 3000
  private var path = ""
  private var truth: IndexedSeq[Doc] = IndexedSeq.empty
  /** Output of the newest measured pass: kept ids, and the LSH pairs of
    * the newest staged one. */
  private var lastKept: Set[Long] = Set.empty
  private var lastPairs: Seq[(Long, Long)] = Nil

  val opNames: Seq[String] = Seq("ops.pass")

  /** Generate the corpus and write it as parquet, one file per core. */
  def setup(rep: Int): Unit = {
    if (path.nonEmpty) graft.core.Fs.rmTree(new java.io.File(path))
    path = ctx.fresh(s"curate-corpus-$rep")
    truth = Gen.corpus(ctx.seed, docCount)
    truth.map(d => (d.id, d.text)).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$path/docs")
  }

  /** A plain pass compiles the pipeline, a staged one its traced form. */
  def warmup(): Unit = {
    val phase = new Phase(new Tracer(false, spark.sparkContext))
    pass(phase, staged = false)
    pass(phase, staged = true)
  }

  /** Untraced, a pass is the pipeline as the engine composes it, with one
    * action at the end; traced, every stage is materialised on its own so
    * that its time and its jobs can be told apart. */
  def run(phase: Phase, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs)
      phase.op("ops.pass") { pass(phase, staged = phase.tracer.enabled); true }

  private def gate(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), col("text"),
      TextAnalysis.tokens(col("text")).as("__w"),
      TextAnalysis.tokens(lower(col("text"))).as("__wl"))
    .select(col("doc_id"), col("text"), col("__w"),
      TextAnalysis.stopwordCounts(spark, col("__wl")).as("__sc"))
    .select(col("doc_id"), col("text"),
      TextAnalysis.langIdFromCounts(col("text"), col("__sc")).as("pred_lang"),
      TextAnalysis.qualityColumnsFromCounts(col("text"), col("__w"), col("__sc")).last)
    .filter(col("quality_score") >= 0.4 && col("pred_lang") =!= "unknown")

  private def pack(kept: DataFrame): Array[Row] =
    Corpus.packShards(kept, "doc_id", size(TextAnalysis.tokens(col("text"))),
      budget = 2048, numBlocks = 64).collect()

  private def pass(phase: Phase, staged: Boolean): Unit = {
    val docs = spark.read.parquet(s"$path/docs")
    if (staged) stagedPass(phase, docs)
    else {
      val (pairs, release) = Dedup.minHashLshPairsDeferred(docs, "doc_id", "text",
        k = 3, threshold = 0.5, maxBucketSize = 1000)
      val clusters =
        try Dedup.nearDupClusters(pairs)
        finally { release(); pairs.unpersist() }
      try record(phase, pack(Dedup.dropNearDuplicates(gate(docs), "doc_id", clusters)))
      finally clusters.unpersist()
    }
  }

  private def stagedPass(phase: Phase, docs: DataFrame): Unit = {
    val gated = phase.step("ops.gate") {
      val g = gate(docs).persist()
      g.count()
      g
    }
    val (pairs, release) = Dedup.minHashLshPairsDeferred(docs, "doc_id", "text",
      k = 3, threshold = 0.5, maxBucketSize = 1000)
    try {
      val pairRows = phase.step("ops.lsh") {
        pairs.persist()
        pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq
      }
      val clusters = phase.step("ops.cc")(Dedup.nearDupClusters(pairs))
      val kept = phase.step("ops.drop") {
        val k = Dedup.dropNearDuplicates(gated, "doc_id", clusters).persist()
        k.count()
        k
      }
      record(phase, phase.step("ops.pack")(pack(kept)))
      lastPairs = pairRows
      phase.add("ops.candidate_pairs", pairRows.size.toDouble)
      kept.unpersist()
      clusters.unpersist()
    } finally {
      release()
      pairs.unpersist()
      gated.unpersist()
    }
  }

  private def record(phase: Phase, shards: Array[Row]): Unit = {
    lastKept = shards.map(_.getLong(0)).toSet
    phase.add("ops.docs", truth.size.toDouble)
    phase.add("ops.docs_kept", shards.length.toDouble)
  }

  def endToEnd(phase: Phase): Seq[(String, Double, String)] = {
    val busy = phase.lat("ops.pass").sum
    val dps = if (busy > 0) phase.counter("ops.docs") / busy else 0.0
    Workload.opTail(phase.lat("ops.pass")) ++ Seq(("work_per_s", dps, "1/s"),
      ("curate_docs_per_s", dps, "docs/s"))
  }

  def layers(phase: Phase): Map[String, Double] = {
    val group = truth.map(d => d.id -> d.group).toMap
    val planted = lastPairs.count { case (a, b) => group(a) >= 0 && group(a) == group(b) }
    val passes = math.max(1, phase.lat("ops.pass").size)
    Map(
      "ops.candidate_pairs" -> phase.counter("ops.candidate_pairs") / passes,
      "ops.lsh_precision" -> (if (lastPairs.isEmpty) 0.0 else planted.toDouble / lastPairs.size),
      "ops.docs_kept" -> phase.counter("ops.docs_kept") / passes)
  }

  def inputDigest(): String = Gen.corpus(ctx.seed, docCount).hashCode.toString

  /** Each planted group collapses to exactly one document, every other
    * original survives (no two originals merged), and all junk is gone. */
  def checks(): Seq[Check] = {
    val groups = truth.filter(_.group >= 0).groupBy(_.group)
    val badGroups = groups.count { case (_, ds) => ds.count(d => lastKept(d.id)) != 1 }
    val singles = truth.filter(d => d.kind == "original" && d.group < 0)
    val lostSingles = singles.count(d => !lastKept(d.id))
    val junk = truth.filter(_.kind == "junk")
    val keptJunk = junk.count(d => lastKept(d.id))
    Seq(
      Check("curate.groups_collapse_to_one", groups.nonEmpty && badGroups == 0,
        s"${groups.size} planted groups, $badGroups not collapsed to one"),
      Check("curate.originals_not_merged", lostSingles == 0,
        s"${singles.size} unique originals, $lostSingles dropped"),
      Check("curate.junk_dropped", keptJunk == 0, s"${junk.size} junk docs, $keptJunk kept"))
  }
}
