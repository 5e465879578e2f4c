package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shape of a generated TSDB: `metrics` names × `hosts` hosts, two label
  * keys (`host`, `dc`), one sample per series every `stepMs`. */
final case class TsdbShape(metrics: Int, hosts: Int, dcs: Int, stepMs: Long) {
  def series: Int = metrics * hosts
  def metricName(m: Int): String = f"m$m%02d"
  def hostName(h: Int): String = f"h$h%03d"
  def dcName(h: Int): String = s"dc${h % dcs}"
}

/** One planted corpus document and what the generator knows about it. */
final case class Doc(id: Long, text: String, kind: String, group: Int)

/** Seeded input generators. Every generator takes the seed as an argument
  * and the engine only ever receives the frames built here. Sample frames
  * are pure functions of (seed, row index), built from `spark.range`, so
  * they stay deterministic under any partitioning and cost no driver-side
  * data. */
object Gen {
  /** 2024-01-01T00:00:00Z, the origin of every generated time axis. */
  val Epoch: Long = 1704067200000L
  val Hour: Long = 3600000L
  val Day: Long = 24 * Hour

  private val Primes = Seq(1000003L, 1000033L, 1000037L, 1000039L, 1000081L,
    1000099L, 1000117L, 1000121L, 1000133L, 1000151L)

  /** `points` samples per series starting at `fromMs`, rows in a seeded
    * order: row i carries sample (a·i + b) mod n, a bijection because a is
    * a prime that does not divide n. Values have two decimals, so sums are
    * exact enough for a 1e-9 relative tolerance. */
  def samples(spark: SparkSession, seed: Long, shape: TsdbShape,
              fromMs: Long, points: Int): DataFrame = {
    val n = shape.series.toLong * points
    val rnd = new SplittableRandom(seed ^ fromMs)
    val a = Primes.drop(rnd.nextInt(Primes.size)).find(n % _ != 0).getOrElse(1000159L)
    val b = rnd.nextLong(math.max(n, 1L))
    val j = pmod(col("id") * a + b, lit(n))
    val s = pmod(j, lit(shape.series.toLong))
    val host = pmod(s, lit(shape.hosts.toLong))
    val time = lit(fromMs) + floor(j / shape.series).cast("long") * shape.stepMs
    spark.range(n).select(
      concat(lit("m"), lpad(floor(s / shape.hosts).cast("string"), 2, "0")).as("name"),
      map(lit("host"), concat(lit("h"), lpad(host.cast("string"), 3, "0")),
        lit("dc"), concat(lit("dc"), pmod(host, lit(shape.dcs.toLong)).cast("string")))
        .as("labels"),
      time.as("time"),
      value(seed, s, time).as("value"))
  }

  /** Sample value: a per-series level plus seeded noise in [-10, 10]. */
  private def value(seed: Long, series: Column, time: Column): Column =
    (pmod(series, lit(97L)) * 10).cast("double") +
      (pmod(xxhash64(lit(seed), series, time), lit(2001L)) - 1000).cast("double") / 100.0

  /** Order-independent digest of a frame: row count plus the sum of each
    * row's hash. Equal inputs give equal digests whatever the row order. */
  def digest(df: DataFrame): String = {
    // maps are not hashable; their sorted entries are
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
        array_sort(map_entries(col(f.name)))
      else col(f.name)
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  // ------------------------------------------------------------- corpus

  private val Stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "los", "y", "que", "en", "por", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "pour"))
  private val Syllables: Map[String, Seq[String]] = Map(
    "en" -> Seq("ing", "tion", "er", "st", "ly", "ar", "mo", "th", "ick", "ow"),
    "es" -> Seq("ado", "ción", "ero", "ma", "ri", "llo", "qui", "ña", "do", "ta"),
    "de" -> Seq("sch", "ung", "keit", "ber", "ach", "lich", "ge", "zu", "ei", "rt"),
    "fr" -> Seq("eau", "ment", "oir", "qu", "ais", "ière", "ou", "gn", "é", "ette"))
  val Languages: Seq[String] = Seq("en", "es", "de", "fr", "zh")

  private def vocab(lang: String, rnd: SplittableRandom, size: Int): IndexedSeq[String] =
    if (lang == "zh")
      IndexedSeq.fill(size) {
        val len = 1 + rnd.nextInt(2)
        new String(Array.fill(len)((0x4e00 + rnd.nextInt(0x5000)).toChar))
      }
    else {
      val syl = Syllables(lang)
      IndexedSeq.fill(size)(Seq.fill(2 + rnd.nextInt(3))(syl(rnd.nextInt(syl.size))).mkString)
    }

  private def prose(lang: String, words: IndexedSeq[String], n: Int,
                    rnd: SplittableRandom): IndexedSeq[String] =
    IndexedSeq.tabulate(n) { i =>
      val w =
        if (lang != "zh" && rnd.nextInt(10) < 3) Stop(lang)(rnd.nextInt(Stop(lang).size))
        else words(rnd.nextInt(words.size))
      if (i % 12 == 11) w + "." else w
    }

  /** A corpus of `size` documents in five languages with planted
    * near-duplicate groups (an original plus 1–4 edited copies, ~3% of
    * words substituted) and planted junk (number soup, punctuation spam
    * and stopword-free fragments). The structure is the same for every
    * seed: languages, group sizes and junk kinds cycle, so seeds change
    * what the documents say, not how much work they make. Ids are a
    * seeded permutation, so group members are scattered over the id
    * space. */
  def corpus(seed: Long, size: Int): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed)
    val vocabs = Languages.map(l => l -> vocab(l, rnd, 3000)).toMap
    val junk = size / 20
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    var group = 0
    var originals = 0
    while (out.size < size - junk) {
      val lang = Languages(originals % Languages.size)
      val words = prose(lang, vocabs(lang), 80 + rnd.nextInt(100), rnd)
      originals += 1
      if (originals % 5 == 0) {
        out += ((words.mkString(" "), "original", group))
        for (_ <- 0 until 1 + group % 4) {
          val edited = words.map(w =>
            if (rnd.nextInt(100) < 3) vocabs(lang)(rnd.nextInt(vocabs(lang).size)) else w)
          out += ((edited.mkString(" "), "variant", group))
        }
        group += 1
      } else out += ((words.mkString(" "), "original", -1))
    }
    while (out.size < size) {
      val text = out.size % 3 match {
        case 0 => Seq.fill(40 + rnd.nextInt(80))(rnd.nextInt(100000).toString).mkString(" ")
        case 1 => "the " + Seq.fill(8)(vocabs("en")(rnd.nextInt(3000)) + "!!!").mkString(" ")
        case _ => Seq.fill(3 + rnd.nextInt(6))(vocabs("en")(rnd.nextInt(3000))).mkString(" ")
      }
      out += ((text, "junk", -1))
    }
    val ids = shuffled(rnd, out.size)
    out.indices.map { i =>
      val (text, kind, g) = out(i)
      Doc(ids(i) + 1L, text, kind, g)
    }.sortBy(_.id)
  }

  def shuffled(rnd: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Zipf-like skewed pick in [0, n): low indices are the popular ones. */
  def skewed(rnd: SplittableRandom, n: Int): Int =
    math.min(n - 1, (n * math.pow(rnd.nextDouble(), 2.5)).toInt)
}
