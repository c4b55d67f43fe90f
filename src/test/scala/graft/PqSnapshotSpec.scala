package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.CellQuantizer.{Flat, Pq}
import graft.ext.{Dedup, Similarity}

/** The PQ-COMPRESSED semantic snapshot (r18 stretch): store (id, cell,
  * codes) instead of (id, cell, emb) — numSub ints replacing dim
  * floats — and gate on DECODED vectors with the same rounded
  * cosine/threshold semantics. Pins (a) decode correctness, (b) the
  * budget-independent exact-replica guarantee (encode∘decode is
  * deterministic, so a replica's decoded cosine is exactly 1.0),
  * (c) gate-decision PARITY with the uncompressed tier at an adequate
  * code budget, and (d) the storage claim the compression exists for. */
class PqSnapshotSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val (corpus, cents) = {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val centers = Array.fill(3)(Array.fill(8)(rng.nextGaussian() * 5))
    val df = (0 until 600).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    (df.localCheckpoint(),
      Similarity.kmeansCentroids(df, k = 3, sampleRows = 600, iters = 10))
  }

  test("pqDecode reconstructs per-sub centroid rows exactly; codes shrink the snapshot row") {
    import spark.implicits._
    val books = Similarity.pqTrainCodebooks(corpus, numSub = 4, k = 8,
      sampleRows = 600)
    val row = corpus.limit(1).select(
        Similarity.pqCodes(col("embedding"), books).as("codes"))
      .withColumn("dec", Similarity.pqDecode(col("codes"), books))
      .as[(Seq[Int], Seq[Double])].head()
    assert(row._1.length == 4 && row._2.length == 8)
    // decode is a pure lookup: each sub-slice equals its centroid
    for (s <- 0 until 4)
      assert(row._2.slice(s * 2, s * 2 + 2) == books(s)(row._1(s)).toSeq)
    // the storage claim: snapshot row carries 4 ints instead of 8 floats
    val snap = Similarity.semanticKeys(corpus, Pq(cents, books))
    assert(snap.columns.toSeq == Seq("id", "cell", "codes"))
    assert(snap.schema("codes").dataType.simpleString == "array<int>")
  }

  test("exact replicas block at ANY code budget (decoded cosine exactly 1.0); parity with the uncompressed gate at an adequate budget") {
    import spark.implicits._
    val prior = corpus.where($"vec_id" % 3 =!= 2)
    val replicas = prior.where($"vec_id" < 90)
      .select(($"vec_id" + 5000).as("vec_id"), $"embedding")
    // even ids: near-replicas (tiny shift — blocked by both gates);
    // odd ids: direction-changing alternating perturbation (cos drops
    // under the threshold — kept by both gates)
    val jittered = prior.where($"vec_id" >= 90 && $"vec_id" < 150)
      .as[(Long, Seq[Float])].collect().map { case (id, v) =>
        (id + 7000, v.zipWithIndex.map { case (x, j) =>
          if (id % 2 == 0) x + 1e-4f
          else x + (if (j % 2 == 0) 2.5f else -2.5f)
        }.toSeq)
      }.toSeq.toDF("vec_id", "embedding")
    val novel = corpus.where($"vec_id" % 3 === 2)
    val batch = novel.unionByName(replicas).unionByName(jittered)
      .localCheckpoint()
    // (b) a DELIBERATELY tiny budget: reconstruction is coarse, but the
    // exact-replica class still blocks completely — replica recall is
    // budget-independent by construction
    val tiny = Similarity.pqTrainCodebooks(corpus, numSub = 2, k = 2,
      sampleRows = 600)
    val keptTiny = Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, Pq(cents, tiny)), Pq(cents, tiny),
        threshold = 0.999, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(replicas.select("vec_id").as[Long].collect()
      .forall(id => !keptTiny(id)), "an exact replica survived the PQ gate")
    // (c) at an adequate budget the compressed gate's decisions EQUAL
    // the uncompressed tier's on every class (replica / near / far /
    // novel) — this is the read that sizes the budget in production.
    // The codebooks train on a sample REPRESENTATIVE OF THE FEED TOO
    // (corpus ∪ batch): PQ reconstruction snaps to the training
    // manifold, so a budget sized only on yesterday's corpus would
    // fold genuinely-novel directions back onto prior docs — train
    // the quantizer like you deploy it
    val books = Similarity.pqTrainCodebooks(corpus.unionByName(batch),
      numSub = 4, k = 64, sampleRows = 700)
    val keptPq = Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, Pq(cents, books)), Pq(cents, books),
        threshold = 0.99, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    val keptRaw = Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, Flat(cents)), Flat(cents),
        threshold = 0.99, nprobe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(keptPq == keptRaw,
      s"pq-only=${keptPq -- keptRaw} raw-only=${keptRaw -- keptPq}")
    // both outcomes occur in the fixture (the parity is not vacuous)
    assert(keptRaw.exists(_ >= 7000) &&
      jittered.select("vec_id").as[Long].collect().exists(id => !keptRaw(id)))
    // shape guard
    intercept[IllegalArgumentException] {
      Similarity.incrementalSemDedup(batch,
        Similarity.semanticKeys(prior, Flat(cents)), Pq(cents, books), 0.99)
    }
  }

  test("re-encoding discipline: sidecar trains grown books on REAL vectors; decoded re-encode is exact only on the old manifold and leaks replicas a source re-encode blocks") {
    import spark.implicits._
    val prior = corpus.where($"vec_id" % 3 =!= 2).localCheckpoint()
    // (a) the sidecar IS the training sample: deterministic, bounded,
    // and codebooks trained from it are byte-identical to training
    // from the corpus with the same sample budget (same hash-ordered
    // selection → same Lloyd input)
    val sidecar = Similarity.pqSampleSidecar(prior, sampleRows = 300)
    assert(sidecar.count() == 300 &&
      sidecar.columns.toSeq == Seq("vec_id", "embedding"))
    assert(sidecar.collect().map(_.getLong(0)).toSeq ==
      Similarity.pqSampleSidecar(prior, 300).collect().map(_.getLong(0)).toSeq)
    val fromSidecar = Similarity.pqTrainCodebooks(sidecar, numSub = 4,
      k = 16, sampleRows = 300)
    val fromCorpus = Similarity.pqTrainCodebooks(prior, numSub = 4,
      k = 16, sampleRows = 300)
    assert(fromSidecar.zip(fromCorpus).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    // (b) decoded re-encode is EXACT exactly on the old reconstruction
    // manifold: when the new books subsume the old centroids (budget
    // grows by appending), the migrated reconstruction equals the old
    // one bit-for-bit — the information the old budget kept survives;
    // what it discarded never returns
    val oldBooks = Similarity.pqTrainCodebooks(prior, numSub = 4, k = 2,
      sampleRows = 300)
    val extended = oldBooks.zip(fromSidecar).map { case (o, n) => o ++ n }
    val snapOld = Similarity.semanticKeys(prior, Pq(cents, oldBooks))
      .localCheckpoint()
    val migrated = Similarity.reencodePqSnapshot(snapOld, oldBooks, extended)
    assert(migrated.columns.toSeq == Seq("id", "cell", "codes"))
    val recon = migrated.select(col("id"),
        Similarity.pqDecode(col("codes"), extended).as("r"))
      .join(snapOld.select(col("id"),
        Similarity.pqDecode(col("codes"), oldBooks).as("o")), "id")
      .where(not(col("r") === col("o"))).count()
    assert(recon == 0L, s"$recon rows left the old reconstruction manifold")
    intercept[IllegalArgumentException] {
      Similarity.reencodePqSnapshot(prior, oldBooks, extended)
    }
    // (c) what budget growth does to gate DECISIONS — the honest
    // divergence the scaladoc documents: exact replicas of prior docs,
    // gated under the grown books. A SOURCE re-encode (raw embeddings
    // still exist) blocks every replica — fresh batch codes equal
    // fresh snapshot codes. The DECODED migration does not: the batch
    // side encodes the true vector, the migrated side only the old
    // coarse reconstruction, and at k_old = 2 per sub the two
    // reconstructions disagree past the threshold — replicas LEAK.
    // The sidecar + source-re-encode is the full-fidelity path; the
    // decoded migration is for the discarded-source case only.
    val replicas = prior.where($"vec_id" < 90)
      .select(($"vec_id" + 5000).as("vec_id"), $"embedding")
    val keptFresh = Similarity.incrementalSemDedup(replicas,
        Similarity.semanticKeys(prior, Pq(cents, extended)), Pq(cents, extended),
        threshold = 0.999, nprobe = 1)
      .count()
    assert(keptFresh == 0L, s"source re-encode leaked $keptFresh replicas")
    val keptMigrated = Similarity.incrementalSemDedup(replicas,
        migrated, Pq(cents, extended), threshold = 0.999, nprobe = 1)
      .count()
    assert(keptMigrated > 0L,
      "expected the decoded migration to leak replicas on this fixture " +
        "(the documented approximation) — if this starts passing, the " +
        "fixture stopped demonstrating the divergence, not the operator " +
        "becoming exact")
  }

  test("pqTopKFromSnapshot: full probe ≡ brute ADC scan of the same codes; recall probe monotone to 1.0") {
    import spark.implicits._
    val prior = corpus.where($"vec_id" % 3 =!= 2)
    val books = Similarity.pqTrainCodebooks(corpus, numSub = 4, k = 8,
      sampleRows = 600)
    val snap = Similarity.semanticKeys(prior, Pq(cents, books))
      .localCheckpoint()
    val q = corpus.where($"vec_id" % 3 === 2 && $"vec_id" < 50)
      .select($"vec_id".as("qid"), $"embedding".as("qe")).localCheckpoint()
    // full probe over the snapshot ≡ pqTopK's brute ADC scan of the
    // SAME corpus (codes are a pure function of (embedding, books))
    val full = Similarity.ivfTopKFromSnapshot(snap, q, Pq(cents, books),
      nprobe = cents.length, k = 3).select("qid", "vec_id", "adc", "rk")
    val brute = Similarity.pqTopK(
      prior.select($"vec_id", $"embedding"), q, books, k = 3)
      .select("qid", "vec_id", "adc", "rk")
    assert(full.except(brute).isEmpty && brute.except(full).isEmpty)
    // recall probe against the full ADC scan: monotone, exactly 1.0
    // at full probe (isolates the BUCKETING loss — the code budget's
    // quantization loss is fixed at encode time)
    val probe = Similarity.annRecallProbe(snap, q, Pq(cents, books), k = 3,
        probes = Seq((1, 1), (2, 1), (3, 1)))
      .orderBy("nprobe").select("recall").as[Double].collect()
    assert(probe.length == 3 && probe.sliding(2).forall(p => p(0) <= p(1)),
      probe.toSeq.toString)
    assert(probe.last == 1.0, probe.toSeq.toString)
    // shape guard: a raw (emb) snapshot is not a codes snapshot
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromSnapshot(
        Similarity.semanticKeys(prior, Flat(cents)), q, Pq(cents, books), 1, 3)
    }
  }

  test("generation lifecycle on a PQ codes snapshot: aged-out codes re-admit; a re-stamped id takes its newest generation") {
    import spark.implicits._
    val books = Similarity.pqTrainCodebooks(corpus, numSub = 4, k = 8,
      sampleRows = 600)
    val pq = Pq(cents, books)
    // one doc per blob (blob = vec_id % 3): three distinct cells and codes
    val prior = corpus.where($"vec_id" < 3)
    val gen0 = Dedup.stampGeneration(Similarity.semanticKeys(prior, pq),
      "id", 0L)
    assert(gen0.columns.toSeq == Seq("id", "cell", "codes", "_gen"))
    assert(Dedup.retainGenerations(gen0, "id", 0L).columns.toSeq ==
      Seq("id", "cell", "codes"))
    // exact replicas under fresh ids: decoded cosine exactly 1.0
    val batch = prior.select(($"vec_id" + 5000).as("vec_id"), $"embedding")
    def kept(g: org.apache.spark.sql.DataFrame, minGen: Long) =
      Similarity.incrementalSemDedup(batch,
          Dedup.retainGenerations(g, "id", minGen), pq, threshold = 0.999)
        .select("vec_id").as[Long].collect().toSet
    assert(kept(gen0, 0L).isEmpty)
    // the gen-0 codes age out at minGen = 1: every replica re-admits
    assert(kept(gen0, 1L) == Set(5000L, 5001L, 5002L))
    // id 1 re-accepted at gen 2 with doc 0's vector: retention resolves
    // id 1 to that newest row, so doc 1's replica is no longer blocked
    // while doc 0's and doc 2's still are
    val gen2 = gen0.unionByName(Dedup.stampGeneration(
      Similarity.semanticKeys(corpus.where($"vec_id" === 0L)
        .select(lit(1L).as("vec_id"), $"embedding"), pq), "id", 2L))
    assert(kept(gen2, 0L) == Set(5001L))
    // at minGen = 2 only the re-stamped id survives
    assert(kept(gen2, 2L) == Set(5001L, 5002L))
    // a codes snapshot is not re-keyable: the error names the migration
    val e = intercept[IllegalArgumentException] {
      Similarity.rekeySemanticSnapshot(gen0, pq)
    }
    assert(e.getMessage.contains("reencodePqSnapshot"), e.getMessage)
  }
}
