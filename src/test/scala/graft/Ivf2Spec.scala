package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.CellQuantizer.{Flat, TwoLevel}
import graft.ext.{Dedup, Similarity}

/** The TWO-LEVEL (coarse × fine residual) quantizer — the re-key
  * lifecycle's growth path once k ≈ √n outgrows flat driver Lloyd:
  * k1·k2 effective cells from k1 + k2 trained centroids. Pins (a) the
  * composed assignment's structure and determinism, (b) gate-decision
  * parity with the flat quantizer on a separable corpus, (c) the
  * re-key/fresh-build identity and _gen carry, and (d) the training
  * FLOP asymmetry that motivates the whole thing. */
class Ivf2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 16-cluster one-hot-block corpus (the rekeyGolden shape): cluster
    * c = vec_id % 16 spikes 8.0 at dims i ≡ c (mod 16), exact-in-float
    * lattice jitter everywhere. */
  private lazy val corpus = spark.range(800).select(col("id").as("vec_id"),
    transform(sequence(lit(0), lit(63)),
      i => (when(i % 16 === col("id") % 16, lit(8.0)).otherwise(lit(0.0)) +
        ((col("id") * 31 + i * 7) % 97).cast("double") * lit(0.015625))
        .cast("float")).as("embedding"))

  // flat k=16 one-hot-block quantizer (the rekeyNewCents shape) and its
  // 4×4 product factorization: coarse b covers residue group
  // i%16 ∈ [4b, 4b+4) (amplitude 2), fine j covers i%4 == j within the
  // group (amplitude 8) — composed cell (i%16)/4·4 + i%4 ≡ i%16
  private val flat16: Array[Array[Double]] =
    Array.tabulate(16)(c => Array.tabulate(64)(i => if (i % 16 == c) 8.0 else 0.0))
  private val coarse4: Array[Array[Double]] =
    Array.tabulate(4)(b => Array.tabulate(64)(i => if (i % 16 / 4 == b) 2.0 else 0.0))
  private val fine4: Array[Array[Double]] =
    Array.tabulate(4)(j => Array.tabulate(64)(i => if (i % 4 == j) 8.0 else 0.0))
  private val two4 = TwoLevel(coarse4, fine4)

  test("composed assignment separates the 16 clusters; ids in [0, k1*k2); probe fans over coarse") {
    import spark.implicits._
    val assigned = corpus.select(col("vec_id"),
        Similarity.ivf2Cells(col("embedding"), coarse4, fine4, 1)(0).as("cell"))
      .as[(Long, Int)].collect()
    assert(assigned.forall { case (_, c) => c >= 0 && c < 16 })
    // every cluster lands in its own composed cell, balanced ~50 each
    val byCell = assigned.groupBy(_._2).view.mapValues(_.map(_._1 % 16).distinct).toMap
    assert(byCell.size == 16, s"expected 16 cells, got ${byCell.size}")
    assert(byCell.values.forall(_.size == 1), byCell.toString)
    // probe=2 returns 2 distinct composed cells whose coarse parts differ
    val probed = corpus.limit(5).select(
        Similarity.ivf2Cells(col("embedding"), coarse4, fine4, 2).as("cells"))
      .as[Seq[Int]].collect()
    assert(probed.forall(p => p.length == 2 && p(0) / 4 != p(1) / 4), probed.toSeq.toString)
  }

  test("gate parity with the flat quantizer: same decisions on the golden corpus") {
    import spark.implicits._
    val prior = corpus.where(col("vec_id") % 3 === 1)
    val batch = corpus.where(col("vec_id") % 3 === 0)
      .unionByName(prior.where(col("vec_id") < 120)
        .withColumn("vec_id", col("vec_id") + 20000))
    val keptFlat = Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, Flat(flat16)), Flat(flat16),
        threshold = 0.999, nprobe = 1, maxCellSize = 200)
      .select("vec_id").as[Long].collect().toSet
    val kept2 = Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, two4), two4,
        threshold = 0.999, nprobe = 1, maxCellSize = 200)
      .select("vec_id").as[Long].collect().toSet
    assert(keptFlat == kept2,
      s"flat-only=${keptFlat -- kept2} composed-only=${kept2 -- keptFlat}")
    // and the gate actually gates: every +20000 replica blocked; the
    // bulk of the organic batch survives (a few same-cluster lattice
    // neighbors legitimately cross the 0.999 rounded threshold)
    assert(kept2.forall(_ < 20000))
    assert(kept2.size * 10 >= batch.where(col("vec_id") < 20000).count() * 9)
    // nprobe bound is the COARSE count
    intercept[IllegalArgumentException] {
      Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, two4), two4,
        threshold = 0.999, nprobe = 5)
    }
  }

  test("rekeySemanticSnapshot2 == fresh semanticKeys2; _gen carried; composed re-key restores an over-cap stale gate") {
    import spark.implicits._
    val staleCents = Array(flat16(0), flat16(8)) // undersized flat k=2
    val snapStale = Similarity.semanticKeys(corpus, Flat(staleCents)).localCheckpoint()
    val rekeyed = Similarity.rekeySemanticSnapshot(snapStale, two4)
    val fresh = Similarity.semanticKeys(corpus, two4)
    assert(rekeyed.select("id", "cell").except(fresh.select("id", "cell")).isEmpty &&
      fresh.select("id", "cell").except(rekeyed.select("id", "cell")).isEmpty)
    val rekeyedGen = Similarity.rekeySemanticSnapshot(
      Dedup.stampGeneration(snapStale, "id", 5L), two4)
    assert(rekeyedGen.columns.toSeq == Seq("id", "cell", "emb", "_gen"))
    assert(rekeyedGen.select("_gen").distinct().as[Long].collect().toSeq == Seq(5L))
    intercept[IllegalArgumentException] {
      Similarity.rekeySemanticSnapshot(corpus, two4)
    }
    // lifecycle: stale k=2 cells (~400 each) blow a 200-cap — an exact
    // replica passes ungated; the composed re-key (cells ~50) blocks it
    val replica = corpus.where(col("vec_id") === 7L)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val keptStale = Similarity.incrementalSemDedup(replica, snapStale,
      Flat(staleCents), threshold = 0.999, nprobe = 1, maxCellSize = 200).count()
    val keptRekey = Similarity.incrementalSemDedup(replica, rekeyed,
      two4, threshold = 0.999, nprobe = 1, maxCellSize = 200).count()
    assert(keptStale == 1L && keptRekey == 0L, s"$keptStale / $keptRekey")
    // occupancy reads the composed snapshot unchanged (a composed cell
    // id is just a cell id)
    assert(Similarity.cellOccupancy(rekeyed, 200)
      .where(col("over_cap") === 1).count() == 0)
  }

  test("ivf2TopKFromSnapshot: full (k1 × k2) probe ≡ brute force; recall probe monotone to 1.0; cap report parity with the flat tier") {
    import spark.implicits._
    val snap = Similarity.semanticKeys(
      corpus.where(col("vec_id") % 3 === 1), two4).localCheckpoint()
    val q = corpus.where(col("vec_id") % 3 === 0 && col("vec_id") < 45)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .localCheckpoint()
    val full = Similarity.ivfTopKFromSnapshot(snap, q, two4,
      nprobe = 4, k = 4, fineProbe = 4)
      .select("qid", "vec_id", "cos", "rk")
    val brute = Similarity.bruteTopK(
      snap.select(col("id").as("vec_id"), col("emb").as("embedding")),
      q, k = 4).select("qid", "vec_id", "cos", "rk")
    assert(full.except(brute).isEmpty && brute.except(full).isEmpty)
    // a narrow probe returns a SUBSET of the full read's candidates
    val narrow = Similarity.ivfTopKFromSnapshot(snap, q, two4,
      nprobe = 1, k = 4).select("qid", "vec_id")
    assert(narrow.join(snap.select(col("id").as("vec_id")), Seq("vec_id"),
      "left_anti").isEmpty)
    // recall probe: monotone in the probe pair, exactly 1.0 at full
    val probe = Similarity.annRecallProbe(snap, q, two4, k = 4,
        probes = Seq((1, 1), (2, 2), (4, 4)))
      .orderBy("nprobe").select("recall").as[Double].collect()
    assert(probe.length == 3 && probe.sliding(2).forall(p => p(0) <= p(1)),
      probe.toSeq.toString)
    assert(probe.last == 1.0, probe.toSeq.toString)
    // composed cap report: same shape and sides as the flat tier's —
    // the two-level recall ledger reads identically
    val rFlat = Similarity.semanticCapReport(
      corpus.where(col("vec_id") % 3 === 0), snap, Flat(flat16),
      maxCellSize = 40)
    val r2 = Similarity.semanticCapReport(
      corpus.where(col("vec_id") % 3 === 0), snap, two4,
      maxCellSize = 40)
    assert(r2.columns.toSeq == rFlat.columns.toSeq)
    assert(r2.select("side").as[String].collect().sorted.toSeq ==
      Seq("batch", "prior"))
    // the composed batch side counts the same probe rows the composed
    // GATE probes (fineProbe = 1): one probe per doc at nprobe = 1
    val nBatch = r2.where(col("side") === "batch")
      .select("n_rows").as[Long].head()
    assert(nBatch == corpus.where(col("vec_id") % 3 === 0).count())
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromSnapshot(snap, q, two4,
        nprobe = 1, k = 4, fineProbe = 9)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromSnapshot(corpus, q, two4, 1, 4)
    }
  }

  test("trainQuantizer2 separates structure the flat trainer finds, at max(k1,k2) sample cost; trains off the snapshot") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val centers = Array.fill(9)(Array.fill(8)(rng.nextGaussian() * 6))
    val blobs = (0 until 900).map { i =>
      val c = centers(i % 9)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val (c3, f3) = Similarity.trainQuantizer2(blobs, k1 = 3, k2 = 3,
      sampleRows = 900, iters = 12)
    assert(c3.length == 3 && f3.length == 3)
    // 9 blobs → 3×3 composed cells, each blob in ONE cell, cells shared
    // by few blobs (residual structure is genuinely two-level here only
    // if coarse splits 3 ways; accept any assignment that separates)
    val cells = blobs.select(col("vec_id"),
        Similarity.ivf2Cells(col("embedding"), c3, f3, 1)(0).as("cell"))
      .as[(Long, Int)].collect()
    val blobCells = cells.groupBy(_._1 % 9).view.mapValues(_.map(_._2).distinct).toMap
    assert(blobCells.values.forall(_.size == 1), "a blob split across composed cells")
    assert(blobCells.values.flatten.toSet.size >= 6,
      s"composed cells collapse: ${blobCells.toString}")
    // sample floor is max(k1,k2), NOT k1·k2 — the scaling point
    Similarity.trainQuantizer2(blobs, k1 = 30, k2 = 30, sampleRows = 40)
    intercept[IllegalArgumentException] {
      Similarity.trainQuantizer2(blobs, k1 = 50, k2 = 2, sampleRows = 40)
    }
    // snapshot-trained == corpus-trained (same sample ids, same core)
    val snap = Similarity.semanticKeys(blobs, Flat(c3))
    val TwoLevel(sc, sf) = Similarity.trainQuantizerFromSnapshot(snap, 3, 3,
      sampleRows = 900, iters = 12)
    assert(sc.zip(c3).forall { case (a, b) => a.sameElements(b) } &&
      sf.zip(f3).forall { case (a, b) => a.sameElements(b) })
    intercept[IllegalArgumentException] {
      Similarity.trainQuantizerFromSnapshot(blobs, 3, 3)
    }
  }
}
