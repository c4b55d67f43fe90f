package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so one seed gives the same inputs at any partition or core
  * count; [[Inputs.digest]] is the order-free fingerprint the self-check
  * compares. The functions behind the labels are fixed; the seed draws the
  * sample. */
object Inputs {

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Random stream for row `i` of stream `stream` under `seed`. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) + i))

  private def rows(spark: SparkSession, from: Long, until: Long, parts: Int,
      schema: StructType)(f: Long => Row): DataFrame =
    spark.createDataFrame(spark.sparkContext.range(from, until, 1, parts).map(f), schema)

  /** Order-free fingerprint of a frame: row count and the sum of row hashes. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  // ---- train_wide: regression, many features ----

  final case class Wide(trainRows: Long, holdoutRows: Long, features: Int)

  val wideSchema: StructType = StructType(Seq(
    StructField("rid", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("label", DoubleType, nullable = false)))

  def wideRow(seed: Long, features: Int, i: Long): Row = {
    val r = rng(seed, 1, i)
    val x = Array.fill(features)(r.nextDouble(-2.0, 2.0))
    var y = 2.0 * math.sin(x(0)) + x(1) * x(2) + 0.5 * x(3) * x(3) -
      (if (x(4) > 0.3) 1.5 else 0.0)
    var j = 5
    while (j <= 20) { y += 0.1 * x(j); j += 1 }
    Row(i, x, y + 0.5 * r.nextGaussian())
  }

  /** (train, holdout): rows [0, trainRows) and the next holdoutRows. */
  def wide(spark: SparkSession, seed: Long, p: Wide, parts: Int): (DataFrame, DataFrame) = {
    def gen(from: Long, until: Long) =
      rows(spark, from, until, parts, wideSchema)(i => wideRow(seed, p.features, i))
    (gen(0, p.trainRows), gen(p.trainRows, p.trainRows + p.holdoutRows))
  }

  // ---- train_rank: learning to rank, few features, many groups ----

  final case class Rank(trainGroups: Long, holdoutGroups: Long, groupSize: Int, features: Int)

  val rankSchema: StructType = StructType(Seq(
    StructField("rid", LongType, nullable = false),
    StructField("qid", LongType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("label", DoubleType, nullable = false)))

  def rankRow(seed: Long, p: Rank, i: Long): Row = {
    val qid = i / p.groupSize
    val r = rng(seed, 2, i)
    val x = Array.fill(p.features)(r.nextGaussian())
    val offset = rng(seed, 3, qid).nextGaussian()
    val u = x(0) + 0.7 * x(1) - 0.5 * x(2) + 0.3 * x(3) * x(4) +
      0.4 * math.sin(3.0 * x(5)) + 0.5 * offset + 0.5 * r.nextGaussian()
    Row(i, qid, x, math.max(0.0, math.min(4.0, math.rint(u + 1.5))))
  }

  def rank(spark: SparkSession, seed: Long, p: Rank, parts: Int): (DataFrame, DataFrame) = {
    def gen(fromGroup: Long, groups: Long) =
      rows(spark, fromGroup * p.groupSize, (fromGroup + groups) * p.groupSize, parts,
        rankSchema)(i => rankRow(seed, p, i))
    (gen(0, p.trainGroups), gen(p.trainGroups, p.holdoutGroups))
  }

  // ---- crawl_gate: a multi-day crawl with planted duplicates ----

  /** Generations 0 until `bootGens` are the bootstrap snapshot, all fresh
    * docs; the crawl days follow, one generation each, `genDocs` docs per
    * generation. The gate on day d sees generations d − retention until d.
    * A day's batch is laid out by index: fresh docs; re-crawls of the
    * generation retired last, which must be kept; then exact copies,
    * canonical-form variants and near copies of fresh docs resident in the
    * snapshot that day. The last `recrawl` docs of each bootstrap
    * generation are kept aside for re-crawls and never copied. */
  final case class Crawl(genDocs: Int, bootGens: Int, days: Int, retention: Int,
      recrawl: Int, exact: Int, canonical: Int, near: Int) {
    require(bootGens > retention, "the first day must re-crawl a retired generation")
    require(days <= retention + 1, "re-crawls must come from bootstrap generations")
    val fresh: Int = genDocs - recrawl - exact - canonical - near
    require(fresh > 0)
    def crawlDays: Range = bootGens until bootGens + days
    def residentGens(day: Int): Range = (day - retention) until day
    /** Docs of generation `gen` that a duplicate may copy. */
    def sources(gen: Int): Int = if (gen < bootGens) genDocs - recrawl else fresh
  }

  sealed trait Role
  case object Fresh extends Role
  case object Recrawl extends Role
  case object ExactCopy extends Role
  case object CanonicalCopy extends Role
  case object NearCopy extends Role

  def docId(gen: Int, idx: Int): Long = gen * 1000000L + idx

  def role(p: Crawl, gen: Int, idx: Int): Role =
    if (gen < p.bootGens || idx < p.fresh) Fresh
    else if (idx < p.fresh + p.recrawl) Recrawl
    else if (idx < p.fresh + p.recrawl + p.exact) ExactCopy
    else if (idx < p.fresh + p.recrawl + p.exact + p.canonical) CanonicalCopy
    else NearCopy

  def planted(r: Role): Boolean = r != Fresh && r != Recrawl

  private val VocabSize = 4000
  /** Fixed vocabulary of lower-case words. */
  val vocab: Array[String] = Array.tabulate(VocabSize) { w =>
    val r = new SplittableRandom(mix(0x5eed + w))
    val n = 3 + r.nextInt(7)
    val sb = new StringBuilder
    var k = 0
    while (k < n) { sb += ('a' + r.nextInt(26)).toChar; k += 1 }
    sb.toString
  }

  private def freshWords(seed: Long, gen: Int, idx: Int): Array[String] = {
    val r = rng(seed, 100 + gen, idx)
    Array.fill(40 + r.nextInt(41))(vocab(r.nextInt(VocabSize)))
  }

  def text(seed: Long, p: Crawl, gen: Int, idx: Int): String = {
    val r = rng(seed, 200 + gen, idx)
    role(p, gen, idx) match {
      case Fresh => freshWords(seed, gen, idx).mkString(" ")
      case Recrawl =>
        freshWords(seed, gen - p.retention - 1, p.genDocs - p.recrawl + idx - p.fresh).mkString(" ")
      case kind =>
        val (g, s) = source(seed, p, gen, idx)
        val words = freshWords(seed, g, s)
        kind match {
          case ExactCopy => words.mkString(" ")
          case CanonicalCopy => canonicalVariant(words, r)
          case _ => nearCopy(words, r).mkString(" ")
        }
    }
  }

  /** The resident fresh doc a planted duplicate on `day` copies. */
  def source(seed: Long, p: Crawl, day: Int, idx: Int): (Int, Int) = {
    val r = rng(seed, 300 + day, idx)
    val gens = p.residentGens(day)
    val g = gens(r.nextInt(gens.length))
    (g, r.nextInt(p.sources(g)))
  }

  /** Case and whitespace drift: the same canonical text, different bytes. */
  private def canonicalVariant(words: Array[String], r: SplittableRandom): String = {
    val sb = new StringBuilder
    if (r.nextBoolean()) sb ++= " "
    words.indices.foreach { i =>
      val w = words(i)
      val u = r.nextDouble()
      sb ++= (if (i == 0 || u < 0.3) w.capitalize else if (u < 0.4) w.toUpperCase else w)
      if (i < words.length - 1) sb ++= (if (r.nextDouble() < 0.15) "  " else " ")
    }
    if (r.nextBoolean()) sb ++= "  "
    sb.toString
  }

  /** 1 to 3 word replacements at distinct positions. */
  private def nearCopy(words: Array[String], r: SplittableRandom): Array[String] = {
    val out = words.clone()
    val edits = 1 + r.nextInt(3)
    val at = scala.collection.mutable.LinkedHashSet[Int]()
    while (at.size < edits) at += r.nextInt(out.length)
    at.foreach { i =>
      var w = out(i)
      while (w == out(i)) w = vocab(r.nextInt(VocabSize))
      out(i) = w
    }
    out
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Docs of generation `gen`: a bootstrap generation or a day's batch. */
  def crawlDocs(spark: SparkSession, seed: Long, p: Crawl, gen: Int, parts: Int): DataFrame =
    rows(spark, 0, p.genDocs, parts, docSchema) { i =>
      Row(docId(gen, i.toInt), text(seed, p, gen, i.toInt))
    }
}
