package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** The crawl-dedup membrane over a multi-day crawl. Set-up writes the
  * crawl days' batches and bootstraps the snapshot with the bootstrap
  * generations' signatures and keys. A cycle restores that snapshot and runs each
  * crawl day through four calls:
  *  - dedup.sig: the day batch's MinHash signatures;
  *  - dedup.gate: `incrementalCrawlGate` against the snapshot's gate
  *    projections (signature keys, signatures, canonical keys);
  *  - dedup.advance: append the kept docs' signatures and keys, stamped
  *    with the day's generation;
  *  - dedup.retire: rebuild the gate projections from the generations the
  *    next day may still see.
  * score_s is sig + gate of a day, fit_s is advance + retire. */
final class CrawlGate(spark: SparkSession, rec: Recorder, dir: Path, seed: Long)
    extends Workload {
  import CrawlGate._

  private val base = dir.resolve("snapshot-base")
  private def docs(day: Int) = spark.read.parquet(dir.resolve(s"docs-$day").toString)
  private var cycles = 0
  private val snapshotMb = new ArrayBuffer[Double]
  private val keptRatio = new ArrayBuffer[Double]
  private val precisions = new ArrayBuffer[Double]
  private val crawlS = new ArrayBuffer[Double]
  /** A day's many short Spark jobs make its time noisier than a fit's. */
  val minCycles = 5

  def setup(): Unit = {
    Size.crawlDays.foreach { d =>
      Inputs.crawlDocs(spark, seed, Size, d, InputParts)
        .write.mode("overwrite").parquet(dir.resolve(s"docs-$d").toString)
    }
    deleteTree(base)
    val boot = (0 until Size.bootGens).map(g => g -> Inputs.crawlDocs(spark, seed, Size, g, InputParts))
    val sigs = Dedup.minhashSignatures(boot.map(_._2).reduce(_ unionByName _), "text",
      col("doc_id"), NumHashes).localCheckpoint()
    advance(base, boot.map { case (g, d) =>
      (d, sigs.where(col("id").between(Inputs.docId(g, 0), Inputs.docId(g + 1, 0) - 1)), g)
    })
    retire(base, Size.bootGens)
  }

  /** The first day on a copy of the snapshot. */
  def warmUp(): Unit = {
    val warm = dir.resolve("snapshot-warm")
    copyTree(base, warm)
    try {
      val (sigs, kept) = score(warm, Size.crawlDays.head)
      update(warm, Size.crawlDays.head, sigs, kept)
    } finally deleteTree(warm)
  }

  /** Appends each generation's kept docs, as (docs, their signatures,
    * generation), to the snapshot: one write per table. */
  private def advance(snap: Path, gens: Seq[(DataFrame, DataFrame, Int)]): Unit = {
    def write(t: String)(f: ((DataFrame, DataFrame, Int)) => DataFrame): Unit =
      gens.map(f).reduce(_ unionByName _).write.mode("append").parquet(snap.resolve(t).toString)
    write("sigs") { case (_, s, g) => Dedup.stampSignatureGeneration(s, g, NumHashes) }
    write("keys") { case (d, s, g) =>
      Dedup.stampGeneration(Dedup.nearDupKeysFromSignatures(s, d, "text", NumHashes), g)
    }
    write("canon") { case (d, _, g) => Dedup.stampGeneration(Dedup.canonicalKeys(d), g) }
  }

  /** Gate projections for `day`: generations day − retention and later. */
  private def retire(snap: Path, day: Int): Unit = {
    val minGen = (day - Size.retention).toLong
    def read(t: String) = spark.read.parquet(snap.resolve(t).toString)
    Dedup.retainSignatureGenerations(read("sigs"), minGen, NumHashes)
      .write.mode("overwrite").parquet(snap.resolve("gate_sigs").toString)
    Dedup.retainGenerations(read("keys"), minGen)
      .write.mode("overwrite").parquet(snap.resolve("gate_keys").toString)
    Dedup.retainGenerations(read("canon"), minGen)
      .write.mode("overwrite").parquet(snap.resolve("gate_canon").toString)
  }

  /** sig and gate of day `d`: the batch's signatures and its kept docs. */
  private def score(snap: Path, d: Int): (DataFrame, DataFrame) = {
    def read(t: String) = spark.read.parquet(snap.resolve(t).toString)
    val batch = docs(d)
    val sigs = rec.call("dedup.sig") {
      Dedup.minhashSignatures(batch, "text", col("doc_id"), NumHashes).localCheckpoint()
    }
    val kept = rec.call("dedup.gate") {
      Dedup.incrementalCrawlGate(batch, read("gate_keys"), read("gate_sigs"),
        numHashes = NumHashes, priorCanonKeys = Some(read("gate_canon")),
        batchSigs = Some(sigs)).localCheckpoint()
    }
    (sigs, kept)
  }

  /** advance and retire after day `d`. */
  private def update(snap: Path, d: Int, sigs: DataFrame, kept: DataFrame): Unit = {
    rec.call("dedup.advance") {
      advance(snap, Seq((kept, sigs.join(kept.select(col("doc_id").as("id")), Seq("id"), "left_semi"), d)))
    }
    rec.call("dedup.retire") { retire(snap, d + 1) }
  }

  private def crawl(): Unit = {
    cycles += 1
    val snap = dir.resolve(s"snapshot-$cycles")
    copyTree(base, snap)
    try {
      var planted, caught, dropped, total = 0L
      var wall = 0.0
      val keptByDay = scala.collection.mutable.Map[Int, Set[Long]]()
      Size.crawlDays.foreach { d =>
        val t0 = System.nanoTime()
        val (sigs, keptDocs) = score(snap, d)
        val t1 = System.nanoTime()
        update(snap, d, sigs, keptDocs)
        val t2 = System.nanoTime()
        scoreS += (t1 - t0) / 1e9
        fitS += (t2 - t1) / 1e9
        wall += (t2 - t0) / 1e9
        val kept = keptDocs.select("doc_id").collect().map(_.getLong(0)).toSet
        keptByDay(d) = kept
        val roles = (0 until Size.genDocs).map(i => (Inputs.role(Size, d, i), kept(Inputs.docId(d, i))))
        val freshDropped = roles.count { case (r, k) => !k && !Inputs.planted(r) }
        val copiesKept = roles.count { case (r, k) =>
          k && (r == Inputs.ExactCopy || r == Inputs.CanonicalCopy) }
        rec.check("keeps_fresh", freshDropped == 0, s"day $d dropped $freshDropped fresh or re-crawled docs")
        rec.check("drops_copies", copiesKept == 0, s"day $d kept $copiesKept exact or canonical copies")
        // the retired signature projection holds exactly the docs the next day may see
        val resident = Size.residentGens(d + 1).flatMap { g =>
          keptByDay.getOrElse(g, (0 until Size.genDocs).map(Inputs.docId(g, _)).toSet)
        }.toSet
        val gate = spark.read.parquet(snap.resolve("gate_sigs").toString)
          .select("id").collect().map(_.getLong(0)).toSet
        rec.check("retire_keeps_resident", gate == resident,
          s"after day $d the gate holds ${gate.size} signatures, expected ${resident.size}")
        total += roles.length
        dropped += roles.count(!_._2)
        planted += roles.count(r => Inputs.planted(r._1))
        caught += roles.count { case (r, k) => !k && Inputs.planted(r) }
      }
      crawlS += wall
      qualities += caught.toDouble / planted
      precisions += (if (dropped == 0) 0.0 else caught.toDouble / dropped)
      keptRatio += (total - dropped).toDouble / total
      if (rec.tracing) snapshotMb += treeBytes(snap) / 1e6
    } finally deleteTree(snap)
  }

  def plainCycle(): Unit = crawl()
  def tracedCycle(): Unit = crawl()

  def perLayer(cores: Int): Seq[(String, Double, String)] = {
    val counters = SpanCounters.setup(spark.sparkContext)
    Seq("sig", "gate", "advance", "retire").flatMap { step =>
      val spans = rec.spans.filter(_.name == s"dedup.$step")
      val work = spans.map(s => counters.workOf(rec.subtree(s.id)))
      Seq(
        (s"dedup.${step}_s", Stats.median(spans.map(_.seconds)), "s"),
        (s"dedup.$step.jobs", Stats.median(work.map(_.jobs.toDouble)), "count"),
        (s"dedup.$step.task_s", Stats.median(work.map(_.taskMs / 1e3)), "s"),
        (s"dedup.$step.shuffle_mb", Stats.median(work.map(_.shuffleBytes / 1e6)), "MB"))
    } ++ Seq(
      ("dedup.snapshot_mb", Stats.median(snapshotMb), "MB"),
      ("dedup.kept_ratio", Stats.median(keptRatio), "ratio"))
  }

  def summary: Seq[(String, Double, String)] = Seq(
    ("dedup_recall", Stats.median(qualities), "ratio"),
    ("dedup_precision", Stats.median(precisions), "ratio"),
    ("crawl_s", Stats.median(crawlS), "s"))
}

object CrawlGate {
  val InputParts = 4
  val NumHashes = 128
  val Size = Inputs.Crawl(genDocs = 300, bootGens = 3, days = 1, retention = 2,
    recrawl = 30, exact = 60, canonical = 60, near = 30)

  private def walk(p: Path): List[Path] = Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    walk(from).foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(f => Files.delete(f))

  def treeBytes(p: Path): Long = walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum
}
