package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.CellQuantizer.Flat
import graft.ext.{Dedup, Similarity}

class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val corpus = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // 3 gaussian blobs in 8-d so a quantizer has real structure to find
    val centers = Array.fill(3)(Array.fill(8)(rng.nextGaussian() * 4))
    (0 until 900).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.5).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("kmeans quantizer separates gaussian blobs") {
    val cents = Similarity.kmeansCentroids(corpus, k = 3, sampleRows = 900, iters = 10)
    assert(cents.length == 3)
    // cells are balanced across blobs: each cell gets roughly a third
    val cells = corpus.select(
      Similarity.ivfCells(col("embedding"), cents, 1)(0).as("cell"))
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(cells.length == 3, s"expected 3 non-empty cells, got ${cells.length}")
    assert(cells.forall(n => n > 200 && n < 400), cells.toSeq.toString)
  }

  test("ivfTopK probing all cells equals brute-force top-k") {
    val cents = Similarity.kmeansCentroids(corpus, k = 3, sampleRows = 900, iters = 10)
    val q = corpus.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ivf = Similarity.ivfTopK(corpus, q, cents, nprobe = 3, k = 4)
      .orderBy("qid", "rk").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val brute = Similarity.bruteTopK(corpus, q, k = 4)
      .orderBy("qid", "rk").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("single-probe recall is high when blobs are separable") {
    val cents = Similarity.kmeansCentroids(corpus, k = 3, sampleRows = 900, iters = 10)
    val q = corpus.where(col("vec_id") < 30)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val ivf = Similarity.ivfTopK(corpus, q, cents, nprobe = 1, k = 3)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteTopK(corpus, q, k = 3)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall > 0.9, s"nprobe=1 recall $recall")
  }

  test("semDedup flags exactly the docs with a smaller-id in-cell near-duplicate") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    // base corpus + jittered copies of every 5th vector (the semantic dups)
    val base = corpus.as[(Long, Seq[Float])].collect()
    val copies = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      (1000L + id, v.map(x => x + rng.nextGaussian().toFloat * 0.01f))
    }
    val all = (base ++ copies).toSeq.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(all, k = 3, sampleRows = 2000, iters = 10)
    val out = Similarity.semDedup(all, cents, threshold = 0.999)
      .select("vec_id", "kept").as[(Long, Long)].collect().toMap
    assert(out.size == base.length + copies.length)
    // brute-force oracle of the rule: removed iff exists smaller-id vector
    // in the same cell with rounded cosine >= threshold
    def cell(v: Seq[Float]): Int = cents.zipWithIndex.minBy { case (c, _) =>
      c.zip(v).map { case (a, b) => (a - b.toDouble) * (a - b.toDouble) }.sum
    }._2
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dp = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      math.rint(dp / (na * nb) * 1e5) / 1e5
    }
    val rows = (base ++ copies).map { case (id, v) => (id, v, cell(v)) }
    val expectRemoved = rows.filter { case (id, v, c) =>
      rows.exists { case (j, w, cj) => j < id && cj == c && cos(v, w) >= 0.999 }
    }.map(_._1).toSet
    assert(expectRemoved.nonEmpty, "fixture must contain semantic dups")
    val gotRemoved = out.filter(_._2 == 0L).keySet
    assert(gotRemoved == expectRemoved,
      s"missing=${expectRemoved -- gotRemoved} extra=${gotRemoved -- expectRemoved}")
    // every jittered copy whose source shares its cell must be flagged
    assert(copies.map(_._1).count(gotRemoved) >= copies.length / 2)
  }

  test("incrementalSemDedup blocks paraphrase replicas of the snapshot; novel docs survive; plan is cell-equi-join") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val base = corpus.as[(Long, Seq[Float])].collect()
    val prior = base.filter(_._1 % 3 == 1).toSeq.toDF("vec_id", "embedding")
    // batch: novel docs + jittered (paraphrase-class) replicas of PRIOR
    // docs under fresh ids — different bytes/shingles by construction,
    // only the embedding ties them to the snapshot
    val replicas = base.filter(t => t._1 % 3 == 1 && t._1 < 300).map {
      case (id, v) => (2000L + id, v.map(x => x + rng.nextGaussian().toFloat * 0.01f))
    }
    val novel = base.filter(_._1 % 3 == 0)
    val batch = (novel ++ replicas).toSeq.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(prior, k = 3, sampleRows = 900, iters = 10)
    val snap = Similarity.semanticKeys(prior, Flat(cents))
    assert(snap.columns.toSeq == Seq("id", "cell", "emb"))
    val kept = Similarity.incrementalSemDedup(batch, snap, Flat(cents),
      threshold = 0.999, nprobe = 2)
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    // replicas: blocked whenever a probed cell holds their source (jitter
    // keeps cos ≈ 1 ≥ 0.999); with 2-probe over 3 separable blobs, that is
    // essentially all of them
    val blockedReplicas = replicas.map(_._1).count(id => !keptIds(id))
    assert(blockedReplicas >= replicas.length * 9 / 10,
      s"only $blockedReplicas/${replicas.length} replicas blocked")
    // novel docs survive (nothing in the snapshot is cos >= 0.999 to them)
    assert(novel.map(_._1).forall(keptIds), "novel docs must survive")
    // the plan joins on the cell key — never a cartesian
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(600))
    // non-projection snapshot rejects loudly
    intercept[IllegalArgumentException] {
      Similarity.incrementalSemDedup(batch, prior, Flat(cents), 0.9)
    }
  }

  test("seeded property: incrementalSemDedup == brute-force cell-probe filter; empty edges degrade") {
    import spark.implicits._
    val rng = new scala.util.Random(53)
    def v() = Array.fill(8)((rng.nextGaussian() * 2).toFloat)
    val priorRows = (0 until 80).map(i => (i.toLong, v()))
    val batchRows = (100 until 160).map { i =>
      // half the batch = small perturbations of prior vectors (both
      // outcomes occur at τ = 0.8), half fresh
      if (i % 2 == 0) {
        val (_, pv) = priorRows(rng.nextInt(priorRows.length))
        (i.toLong, pv.map(x => x + rng.nextGaussian().toFloat * 0.3f))
      } else (i.toLong, v())
    }
    val prior = priorRows.map { case (i, a) => (i, a.toSeq) }.toDF("vec_id", "embedding")
    val batch = batchRows.map { case (i, a) => (i, a.toSeq) }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(prior, k = 4, sampleRows = 80)
    val kept = Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, Flat(cents)), Flat(cents),
        threshold = 0.8, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    // brute-force oracle of the rule, mirroring IvfCells' probe order
    // (ascending squared distance, ties to the lowest index)
    def dists(x: Array[Float]) = cents.map(c =>
      c.zip(x).map { case (a, b) => (a - b.toDouble) * (a - b.toDouble) }.sum)
    def nearest(x: Array[Float], n: Int) = {
      val d = dists(x)
      d.indices.sortBy(i => (d(i), i)).take(n).toSet
    }
    def cos(a: Array[Float], b: Array[Float]) = {
      val dp = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      math.rint(dp / (na * nb) * 1e5) / 1e5
    }
    val priorCell = priorRows.map { case (_, pv) => (pv, nearest(pv, 1).head) }
    val wantDropped = batchRows.filter { case (_, bv) =>
      val probed = nearest(bv, 2)
      priorCell.exists { case (pv, c) => probed(c) && cos(bv, pv) >= 0.8 }
    }.map(_._1).toSet
    assert(wantDropped.nonEmpty && wantDropped.size < batchRows.length,
      s"fixture must exercise both outcomes: ${wantDropped.size}")
    assert(kept == batchRows.map(_._1).toSet -- wantDropped,
      s"missing=${(batchRows.map(_._1).toSet -- wantDropped) -- kept} " +
        s"extra=${kept -- (batchRows.map(_._1).toSet -- wantDropped)}")
    // empty prior: everything kept; empty batch: empty out, schema intact
    assert(Similarity.incrementalSemDedup(batch,
      Similarity.semanticKeys(prior.where($"vec_id" < 0), Flat(cents)), Flat(cents),
      threshold = 0.8).count() == batchRows.length)
    val eb = Similarity.incrementalSemDedup(batch.where($"vec_id" < 0),
      Similarity.semanticKeys(prior, Flat(cents)), Flat(cents), threshold = 0.8)
    assert(eb.columns.toSeq == Seq("vec_id", "embedding") && eb.count() == 0)
  }

  test("semantic generation retention: aged-out embeddings re-admit, re-stamps take the max generation") {
    import spark.implicits._
    val prior = (0 until 60).map(i => (i.toLong,
      Array.fill(8)((i % 3 + 1).toFloat).toSeq)).toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(1.0), Array.fill(8)(2.0), Array.fill(8)(3.0))
    val gen0 = Dedup.stampGeneration(
      Similarity.semanticKeys(prior, Flat(cents)), "id", 0L)
    assert(gen0.columns.toSeq == Seq("id", "cell", "emb", "_gen"))
    // a replica batch is blocked under retain(0)...
    val batch = Seq((1000L, Array.fill(8)(1.0f).toSeq),
      (1001L, Array.fill(8)(9.0f).toSeq)).toDF("vec_id", "embedding")
    val cents2 = cents :+ Array.fill(8)(9.0)
    def kept(minGen: Long, g: org.apache.spark.sql.DataFrame) =
      Similarity.incrementalSemDedup(batch,
        Dedup.retainGenerations(g, "id", minGen), Flat(cents2),
        threshold = 0.999).select("vec_id").as[Long].collect().toSet
    assert(kept(0L, gen0) == Set(1001L))
    // ...and re-admits once the gen-0 stamps age out
    assert(kept(1L, gen0) == Set(1000L, 1001L))
    // a re-stamp takes the max generation: the same id re-accepted at
    // gen 2 keeps blocking at minGen = 2 (latest row wins per id)
    val gen2 = gen0.unionByName(Dedup.stampGeneration(
      Similarity.semanticKeys(prior.where($"vec_id" === 0L), Flat(cents)), "id", 2L))
    assert(kept(2L, gen2) == Set(1001L))
    // shape loud-rejects
    intercept[IllegalArgumentException] {
      Dedup.stampGeneration(prior, "id", 0L)
    }
    intercept[IllegalArgumentException] {
      Dedup.retainGenerations(gen0.drop("_gen"), "id", 0L)
    }
  }

  test("incrementalSemDedup cell cap drops degenerate cells on both sides; members pass the tier") {
    import spark.implicits._
    // all prior docs in ONE degenerate cell (identical embedding) + one
    // normal pair in another cell
    val hot = Seq.fill(50)(Array.fill(8)(1.0f).toSeq)
    val cold = Array.fill(8)(-4.0f).toSeq
    val prior = (hot.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      (900L, cold)).toDF("vec_id", "embedding")
    val batch = Seq((1000L, hot.head), (1001L, cold)).toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(1.0), Array.fill(8)(-4.0))
    val snap = Similarity.semanticKeys(prior, Flat(cents))
    // cap below the hot cell's 50 members: the hot-cell batch replica
    // PASSES the tier (cell dropped on the prior side), the cold one is
    // still blocked through its small cell
    val kept = Similarity.incrementalSemDedup(batch, snap, Flat(cents),
        threshold = 0.999, nprobe = 1, maxCellSize = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1000L), kept)
    // with the cap above the cell size both are blocked
    val kept2 = Similarity.incrementalSemDedup(batch, snap, Flat(cents),
        threshold = 0.999, nprobe = 1, maxCellSize = 100)
      .select("vec_id").as[Long].collect().toSet
    assert(kept2.isEmpty, kept2)
    // STRING (UUID-style) ids gate correctly — no hidden cast-to-null
    // neutering the flagged-id anti-join
    val sPrior = Seq(("p-aa", hot.head), ("p-bb", cold))
      .toDF("doc", "embedding")
    // b-22 is orthogonal to both prior directions (constant vectors are
    // colinear, so a sign-flip would still be cos ±1 — alternate signs)
    val sBatch = Seq(("b-11", hot.head),
      ("b-22", Array.tabulate(8)(i => if (i % 2 == 0) 4.0f else -4.0f).toSeq))
      .toDF("doc", "embedding")
    val sKept = Similarity.incrementalSemDedup(sBatch,
        Similarity.semanticKeys(sPrior, Flat(cents), idCol = "doc"), Flat(cents),
        threshold = 0.999, idCol = "doc", nprobe = 2)
      .select("doc").as[String].collect().toSet
    assert(sKept == Set("b-22"), sKept)
  }

  test("rekeySemanticSnapshot == fresh semanticKeys under the new quantizer; _gen carried; stale-k gate no-ops where the re-keyed gate blocks") {
    import spark.implicits._
    val cents3 = Similarity.kmeansCentroids(corpus, k = 3, sampleRows = 900, iters = 10)
    val cents1 = cents3.take(1) // the "stale" undersized quantizer
    val snapStale = Similarity.semanticKeys(corpus, Flat(cents1)).localCheckpoint()
    // parity: re-keyed ≡ fresh-built from the same embeddings (cell
    // assignment is a pure function of (emb, centroids))
    val rekeyed = Similarity.rekeySemanticSnapshot(snapStale, Flat(cents3))
    assert(rekeyed.columns.toSeq == Seq("id", "cell", "emb"))
    val fresh = Similarity.semanticKeys(corpus, Flat(cents3))
    assert(rekeyed.select("id", "cell").except(fresh.select("id", "cell")).isEmpty &&
      fresh.select("id", "cell").except(rekeyed.select("id", "cell")).isEmpty)
    // the stamped form carries _gen through untouched (re-key is a
    // layout change — retention ages must not move)
    val rekeyedGen = Similarity.rekeySemanticSnapshot(
      Dedup.stampGeneration(snapStale, "id", 3L), Flat(cents3))
    assert(rekeyedGen.columns.toSeq == Seq("id", "cell", "emb", "_gen"))
    assert(rekeyedGen.select("_gen").distinct().as[Long].collect().toSeq == Seq(3L))
    // shape guard
    intercept[IllegalArgumentException] {
      Similarity.rekeySemanticSnapshot(corpus, Flat(cents3))
    }
    // lifecycle end-to-end: under the stale k=1 quantizer EVERY doc is
    // in one cell; a cap below the corpus size caps it out and an exact
    // replica of a prior doc PASSES the gate ungated. Re-keying the SAME
    // snapshot to k=3 brings cells under the cap and the replica blocks.
    val replica = corpus.where(col("vec_id") === 7L)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding"))
    val cap = 400 // blob cells are 200-400; the k=1 cell is 900
    val keptStale = Similarity.incrementalSemDedup(replica, snapStale, Flat(cents1),
      threshold = 0.999, nprobe = 1, maxCellSize = cap).count()
    val keptRekey = Similarity.incrementalSemDedup(replica, rekeyed, Flat(cents3),
      threshold = 0.999, nprobe = 1, maxCellSize = cap).count()
    assert(keptStale == 1L && keptRekey == 0L, s"$keptStale / $keptRekey")
    // ...and cellOccupancy is the read that drives the re-key decision
    val occStale = Similarity.cellOccupancy(snapStale, cap)
      .select("over_cap").as[Long].collect()
    assert(occStale.toSeq == Seq(1L))
    val occNew = Similarity.cellOccupancy(rekeyed, cap)
      .select("over_cap").as[Long].collect()
    assert(occNew.length == 3 && occNew.forall(_ == 0L))
    // the grown quantizer trains off the SNAPSHOT itself (no corpus
    // access anywhere in the lifecycle): same sample ids + same Lloyd
    // core ⇒ identical centroids to training on the raw corpus
    val Flat(fromSnap) = Similarity.trainQuantizerFromSnapshot(snapStale, k = 3,
      sampleRows = 900, iters = 10)
    assert(fromSnap.length == 3 &&
      fromSnap.zip(cents3).forall { case (a, b) => a.sameElements(b) })
    intercept[IllegalArgumentException] {
      Similarity.trainQuantizerFromSnapshot(corpus, k = 3)
    }
  }

  test("ivfTopKFromSnapshot: the dedup snapshot doubles as the IVF index") {
    import spark.implicits._
    val cents = Similarity.kmeansCentroids(corpus, k = 3, sampleRows = 900, iters = 10)
    val snap = Similarity.semanticKeys(corpus, Flat(cents))
    val q = corpus.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    // identical to ivfTopK over the raw corpus at every nprobe (the
    // snapshot is a pure projection; no information is lost)
    for (np <- Seq(1, 3)) {
      assert(rows(Similarity.ivfTopKFromSnapshot(snap, q, Flat(cents), np, k = 4)) ==
        rows(Similarity.ivfTopK(corpus, q, cents, np, k = 4)), s"nprobe=$np")
    }
    // probing all cells == brute force (the p_ann_snapshot oracle claim)
    assert(rows(Similarity.ivfTopKFromSnapshot(snap, q, Flat(cents), 3, k = 4)) ==
      rows(Similarity.bruteTopK(corpus, q, k = 4)))
    // single-probe recall stays high on separable blobs (same contract
    // as the raw-corpus IVF path)
    val brute = rows(Similarity.bruteTopK(corpus, q, k = 4)).map(t => (t._1, t._2)).toSet
    val p1 = rows(Similarity.ivfTopKFromSnapshot(snap, q, Flat(cents), 1, k = 4)).map(t => (t._1, t._2)).toSet
    assert(p1.intersect(brute).size >= (brute.size * 0.7).toInt, s"${p1.intersect(brute).size}/${brute.size}")
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromSnapshot(corpus, q, Flat(cents), 1, k = 4)
    }
  }

  test("annRecallProbe: recall monotone in nprobe, 1.0 at full probe, accounting exact") {
    import spark.implicits._
    val cents = Similarity.kmeansCentroids(corpus, k = 3, sampleRows = 900, iters = 10)
    val snap = Similarity.semanticKeys(corpus, Flat(cents))
    val q = corpus.where(col("vec_id") % 30 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val nq = q.count()
    val rows = Similarity.annRecallProbe(snap, q, Flat(cents), k = 4,
        probes = Seq((1, 1), (2, 1), (3, 1)))
      .orderBy("nprobe")
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3))
    // accounting: every row reports the same sampled-query ground truth
    assert(rows.forall(r => r._2 == nq && r._3 == nq * 4))
    // monotone recall, exactly 1.0 when every posting list is probed
    // (the ivfTopKFromSnapshot ≡ brute-force equivalence)
    assert(rows.map(_._5).toSeq == rows.map(_._5).sorted.toSeq)
    assert(rows.last._5 == 1.0, rows.last.toString)
    assert(rows.head._5 > 0.5 && rows.head._4 == (rows.head._5 * nq * 4).round)
    intercept[IllegalArgumentException] {
      Similarity.annRecallProbe(snap, q, Flat(cents), 4, Seq((0, 1), (1, 1)))
    }
  }

  test("capReport / semanticCapReport / bucketCapReport count dropped groups and ungated rows") {
    import spark.implicits._
    val Dedup = graft.ext.Dedup
    // generic: 3 groups of sizes 5/2/1 with cap 3 → one group dropped,
    // its 5 rows pass uncapped
    val keyed = (Seq.fill(5)("a") ++ Seq.fill(2)("b") ++ Seq("c"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val rep = Dedup.capReport(keyed, Seq("k"), 3).collect().head
    assert((rep.getLong(0), rep.getLong(1), rep.getLong(2), rep.getLong(3)) ==
      ((3L, 1L, 8L, 5L)), rep.toString)
    intercept[IllegalArgumentException] {
      Dedup.capReport(keyed, Seq("missing"), 3)
    }
    // semantic: the over-cap fixture of the cap spec above — prior hot
    // cell (50 members) dropped at cap 10, cold cell (1) kept; batch
    // probes 1 per cell, nothing dropped
    val hot = Seq.fill(50)(Array.fill(8)(1.0f).toSeq)
    val cold = Array.fill(8)(-4.0f).toSeq
    val prior = (hot.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      (900L, cold)).toDF("vec_id", "embedding")
    val batch = Seq((1000L, hot.head), (1001L, cold)).toDF("vec_id", "embedding")
    val cents = Array(Array.fill(8)(1.0), Array.fill(8)(-4.0))
    val sem = Similarity.semanticCapReport(batch,
        Similarity.semanticKeys(prior, Flat(cents)), Flat(cents), maxCellSize = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(sem("prior") == ((2L, 1L, 51L, 50L)), sem.toString)
    assert(sem("batch") == ((2L, 0L, 2L, 0L)), sem.toString)
    // banded: one boilerplate text repeated 12 times + 2 normal docs at
    // cap 10 → every band's boilerplate bucket drops (all 4 bands), the
    // 12 rows per band pass uncapped
    val docs = ((0 until 12).map(i =>
        (i.toLong, "the same boilerplate sentence repeated everywhere always")) ++
      Seq((100L, "one normal document with several distinct words inside"),
        (101L, "another entirely different page of text goes right here")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "text", col("doc_id"), 16)
    val brep = Dedup.bucketCapReport(sigs, 16, 4, 10).collect().head
    assert(brep.getLong(1) == 4L && brep.getLong(3) == 48L, brep.toString)
  }
}
