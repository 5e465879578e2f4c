package graftbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Tiny-size runs of every workload through the traced path, with every
  * output check, plus the generators' seed self-test. */
class SmokeSpec extends AnyFunSuite {
  private val target = new File("target")

  /** (name, unit) of each metric a section of the repository's
    * BENCHMARK.json declares. */
  private def declared(section: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File("../BENCHMARK.json"))
    root.get(section).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  test("generators: the same seed gives the same inputs, another seed other inputs") {
    val spark = Main.session(2, new File(target, "smoke-gen"))
    try {
      val shape = TsdbShape(3, 4, 2, 30000L)
      def digest(seed: Long) = Seq(
        Gen.digest(Gen.samples(spark, seed, shape, Gen.Epoch, 120)),
        Gen.corpus(seed, 200).hashCode.toString,
        Query.plan(seed, shape).take(4).toList.hashCode.toString)
      val a = digest(11L)
      assert(a == digest(11L))
      digest(12L).zip(a).foreach { case (x, y) => assert(x != y) }
      // a different row order of the same samples keeps the digest
      val df = Gen.samples(spark, 11L, shape, Gen.Epoch, 120)
      assert(Gen.digest(df.orderBy("value")) == Gen.digest(df))
    } finally spark.stop()
  }

  for (w <- Main.Workloads) test(s"$w: tiny traced run passes every output check") {
    val o = Main.run(Opts(w, 7L, 1.0, trace = true, tiny = true,
      new File(target, s"smoke-work-$w"), new File(target, "smoke-out")))
    val checks = o.artifact("checks").asInstanceOf[Seq[Check]]
    assert(checks.nonEmpty)
    assert(checks.forall(_.ok), checks.filterNot(_.ok).mkString("; "))
    assert(o.correct && o.failed == 0 && o.attempted > checks.size)
    assert(o.metrics.toSeq.map { case (k, (_, u)) => k -> u } == declared("per_layer"))
    assert(o.metrics("trace.spans")._1 > 0)
    assert(o.metrics("spark.jobs")._1 > 0)
    assert(o.metrics("spark.unattributed_jobs")._1 == 0)
    val e2e = o.artifact("end_to_end").asInstanceOf[scala.collection.Map[String, _]]
    Main.EndToEnd.foreach { case (k, _) => assert(e2e.contains(k), k) }
  }

  test("an untraced run reports exactly the end-to-end metrics, all non-zero") {
    val o = Main.run(Opts("curate", 3L, 1.0, trace = false, tiny = true,
      new File(target, "smoke-work-e2e"), new File(target, "smoke-out")))
    assert(o.correct)
    assert(o.metrics.toSeq.map { case (k, (_, u)) => k -> u } == declared("end_to_end"))
    o.metrics.foreach { case (k, (v, _)) => assert(v > 0, k) }
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 100).map(_.toDouble))._1 == 90.0)
    assert(Stats.tail((1 to 40).map(_.toDouble))._1 == 75.0)
    assert(Stats.tail((1 to 5).map(_.toDouble)) == ((50.0, 3.0, 2)))
    assert(Layers.unionNs(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L)
  }
}
