package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{CrawlSnapshot, Dedup}

class CrawlSnapshotSpec extends AnyFunSuite {
  import TestSpark._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("advance from the batch signatures == advance that recomputes them over kept (incl. shingle-less docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    // 0–2 token docs are shingle-less: they take the md5 key fallback and
    // carry no signature on either side of the comparison
    val corpus = (1L to 120L).map { i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val prior = corpus.filter(_._1 % 2 == 0).toDF("doc_id", "text")
    val day1 = corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text")
    val (snap0, Seq(bs1)) = CrawlSnapshot.build(prior, 0L, Seq(day1),
      canonical = true, numHashes = 16)
    val kept1 = snap0.gate(day1, bs1, 0L, bands = 4).localCheckpoint()
    val keptIds = kept1.select("doc_id").as[Long].collect().toSet
    val short = corpus.collect { case (i, t) if i % 2 == 1 &&
      t.split(" ").length < 3 => i }.toSet
    assert((keptIds & short).nonEmpty && (keptIds -- short).nonEmpty,
      s"kept must mix shingle-less and shingled docs: $keptIds")
    val viaBatch = snap0.advance(kept1, bs1, 1L)
    val keptSigs = Dedup.minhashSignatures(kept1, "text", col("doc_id"), 16)
    val recomputed = new CrawlSnapshot(
      snap0.sigKeys.unionByName(Dedup.stampGeneration(
        Dedup.nearDupKeys(kept1, numHashes = 16), 1L)),
      snap0.sigs.unionByName(Dedup.stampSignatureGeneration(keptSigs, 1L, 16)),
      snap0.canonKeys.map(_.unionByName(
        Dedup.stampGeneration(Dedup.canonicalKeys(kept1), 1L))),
      numHashes = 16)
    assert(rows(viaBatch.sigKeys) == rows(recomputed.sigKeys))
    assert(rows(viaBatch.sigs) == rows(recomputed.sigs))
    assert(rows(viaBatch.canonKeys.get) == rows(recomputed.canonKeys.get))
    assert(viaBatch.sigKeys.count() > snap0.sigKeys.count())
  }

  test("gate(minGen = 1) after two advances re-admits gen-0 replicas on the key, canonical and banded tiers; gen-1 replicas stay blocked") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def doc() = Seq.fill(100)(s"w${rnd.nextInt(50000)}").mkString(" ")
    val texts = (1L to 30L).map(i => i -> doc()).toMap
    def docs(ids: Seq[Long]) = ids.map(i => (i, texts(i))).toDF("doc_id", "text")
    val prior = docs(1L to 10L) // gen 0
    val day1 = docs(11L to 20L) // accepted at gen 1
    val day2 = docs(21L to 30L) // accepted at gen 2
    // +300 replicas: the source doc plus six novel tokens, from the first
    // of 300 such variants whose signature key differs (so the
    // signature-key tier misses it) while one whole band and ≥ 52 of the
    // 64 slots agree (estimated J ≥ 0.8) — only the banded tier sees it.
    // Signatures rarely move (each slot is the min over ~100 shingles),
    // hence the search
    val bandedSrc = (1L to 20L).filter(i => i % 10 >= 7 || i % 10 == 0)
    def variant(i: Long, v: Int) = texts(i) + (1 to 6).map(k => s" n${i}v${v}x$k").mkString
    val sigOf = Dedup.minhashSignatures(
        (bandedSrc.map(i => (i, texts(i))) ++ (for (i <- bandedSrc;
          v <- 1 to 300) yield (i * 1000 + v, variant(i, v))))
          .toDF("doc_id", "text"), "text", col("doc_id"), 64)
      .collect().map(r => r.getLong(0) -> (1 to 64).map(r.getLong)).toMap
    val bandedText = bandedSrc.map { i =>
      val b = sigOf(i)
      val v = (1 to 300).find { v =>
        val a = sigOf(i * 1000 + v)
        a != b && a.zip(b).count(p => p._1 == p._2) >= 52 &&
          a.grouped(4).zip(b.grouped(4)).exists(p => p._1 == p._2)
      }.get
      i -> variant(i, v)
    }.toMap
    // per source doc ONE replica class, so no two replicas in the batch
    // share a key: byte-identical (+100, the signature-key tier),
    // uppercased and decorated (+200, different bytes and shingles: only
    // the canonical tier) and the banded +300 class above
    def replica(i: Long) = (i % 10) match {
      case r if r >= 1 && r <= 3 => (i + 100, texts(i))
      case r if r >= 4 && r <= 6 => (i + 200, "  " + texts(i).toUpperCase + "  !! ")
      case _ => (i + 300, bandedText(i))
    }
    val day3 = (1L to 20L).map(replica).toDF("doc_id", "text")
    val (snap0, Seq(bs1, bs2, bs3)) = CrawlSnapshot.build(prior, 0L,
      Seq(day1, day2, day3), canonical = true, numHashes = 64)
    def ids(df: DataFrame) = df.select("doc_id").as[Long].collect().toSet
    val kept1 = snap0.gate(day1, bs1, 0L, bands = 16).localCheckpoint()
    assert(ids(kept1) == (11L to 20L).toSet)
    val snap1 = snap0.advance(kept1, bs1, 1L)
    val kept2 = snap1.gate(day2, bs2, 1L, bands = 16).localCheckpoint()
    assert(ids(kept2) == (21L to 30L).toSet)
    val snap2 = snap1.advance(kept2, bs2, 2L)
    // every replica is blocked while both generations are retained …
    assert(ids(snap2.gate(day3, bs3, 0L, bands = 16)).isEmpty)
    // … and minGen = 1 re-admits exactly the gen-0 replicas, every class
    val gen0Replicas = (1L to 10L).map(i => replica(i)._1).toSet
    assert(gen0Replicas.map(_ / 100) == Set(1L, 2L, 3L))
    assert(ids(snap2.gate(day3, bs3, 1L, bands = 16)) == gen0Replicas)
  }

  test("build on the persist materialize route: every projection cached with its lineage, filled at build; same gate result") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val corpus = (1L to 60L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(6))(s"w${rnd.nextInt(8)}").mkString(" "))
    }
    val prior = corpus.filter(_._1 <= 40).toDF("doc_id", "text")
    val day1 = corpus.filter(_._1 > 20).toDF("doc_id", "text")
    def kept(): Set[Long] = {
      val (snap, Seq(bs)) = CrawlSnapshot.build(prior, 0L, Seq(day1),
        canonical = true, numHashes = 16)
      snap.gate(day1, bs, 0L, bands = 4).select("doc_id").as[Long]
        .collect().toSet
    }
    val viaCheckpoint = kept()
    val key = "spark.graft.routeMaterialize"
    val saved = spark.conf.getOption(key)
    def cachedRdds() = spark.sparkContext.getRDDStorageInfo
      .filter(_.numCachedPartitions > 0).map(_.id).toSet
    try {
      spark.conf.set(key, "persist")
      val before = cachedRdds()
      val (snap, Seq(bs)) = CrawlSnapshot.build(prior, 0L, Seq(day1),
        canonical = true, numHashes = 16)
      val built = Seq(snap.sigKeys, snap.sigs, snap.canonKeys.get, bs)
      // MEMORY_AND_DISK is the persist route's entry; localCheckpoint
      // leaves the frame NONE with its plan cut to a LogicalRDD
      built.foreach { df =>
        assert(df.storageLevel == StorageLevel.MEMORY_AND_DISK)
        assert(!df.queryExecution.logical.toString.contains("LogicalRDD"))
      }
      // … and each cache was filled by build itself, before any reader
      assert((cachedRdds() -- before).size >= built.size)
      assert(snap.gate(day1, bs, 0L, bands = 4).select("doc_id").as[Long]
        .collect().toSet == viaCheckpoint)
      assert(viaCheckpoint.nonEmpty && viaCheckpoint.size < 40, viaCheckpoint)
    } finally {
      spark.catalog.clearCache()
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("a mis-shaped projection is rejected when the value is built, naming the table") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "e f g h")).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "text", col("doc_id"), 16)
    val keys = Dedup.stampGeneration(Dedup.nearDupKeys(docs, numHashes = 16), 0L)
    val stamped = Dedup.stampSignatureGeneration(sigs, 0L, 16)
    def rejected(build: => CrawlSnapshot): String =
      intercept[IllegalArgumentException](build).getMessage
    val unstamped = rejected(new CrawlSnapshot(keys, sigs, numHashes = 16))
    assert(unstamped.contains("CrawlSnapshot sigs ") && unstamped.contains("_gen"),
      unstamped)
    val width = rejected(new CrawlSnapshot(keys, stamped, numHashes = 32))
    assert(width.contains("CrawlSnapshot sigs ") && width.contains("mh31"), width)
    val canon = rejected(new CrawlSnapshot(keys, stamped,
      Some(Dedup.canonicalKeys(docs)), numHashes = 16))
    assert(canon.contains("CrawlSnapshot canonKeys "), canon)
    val unstampedKeys = rejected(new CrawlSnapshot(
      Dedup.nearDupKeys(docs, numHashes = 16), stamped, numHashes = 16))
    assert(unstampedKeys.contains("CrawlSnapshot sigKeys "), unstampedKeys)
    // the well-shaped value builds
    new CrawlSnapshot(keys, stamped, Some(Dedup.stampGeneration(
      Dedup.canonicalKeys(docs), 0L)), numHashes = 16)
  }
}
