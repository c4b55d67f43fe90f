package graft.objective

import org.apache.spark.rdd.RDD
import graft.tree.BInst

import scala.collection.mutable.ArrayBuffer

/** LambdaRank objectives rank:ndcg / rank:map / rank:pairwise (reference
  * kernels `src/objective/lambdarank_obj.h:91-140`, registrations
  * `lambdarank_obj.cc:662-671`). Gradients are pairwise within a query
  * group: for docs i (higher label) and j (lower), with current margins
  * s_i, s_j and ρ = σ(−(s_i − s_j)):
  *   g_i −= Δ·ρ,  g_j += Δ·ρ,  h_i += Δ·ρ(1−ρ),  h_j += Δ·ρ(1−ρ)
  * where Δ is |metric change if i and j swapped ranks|: 1 for pairwise,
  * the discount/gain swap for NDCG, the prefix-sum AP swap for MAP.
  *
  * These need the whole group, so `needsGlobalGradients` routes the
  * trainer to [[LambdaRankGradients]], which walks qid-CONTIGUOUS
  * partitions (the trainer co-partitions by qid once per fit — the
  * reference Spark layer does the same, `XGBoostEstimator.scala:142-144`)
  * and never shuffles per iteration.
  *
  * Pair budget — the part that decides 100 TB viability. All-pairs is
  * O(n²) per group and detonates on large groups (a 10× group is 100×
  * the pairs). Following the reference's `lambdarank_pair_method`
  * (`src/common/ranking_utils.h:73-74`), the DEFAULT is `mean`: `numPair`
  * sampled label-discordant partners per doc per iteration (the
  * reference's default too), O(n·numPair). `topK > 0` selects the `topk`
  * method instead: full enumeration restricted to pairs touching the
  * current top-k. `all` keeps the exact full enumeration for small
  * groups/tests.
  *
  * Normalization parity (reference defaults, `ranking_utils.h:81-82` +
  * `lambdarank_obj.cc:227-252`): `lambdarank_normalization` (default
  * TRUE) rescales a group's accumulated λ's — mean method by 1/num_pair,
  * topk/all by log2(1+Σλ)/Σλ with Σλ = Σ_pairs −2·λ_ij — and
  * `lambdarank_score_normalization` (default TRUE) divides Δmetric by
  * (|s_high−s_low| + 0.01) whenever the group's current best and worst
  * scores differ (`lambdarank_obj.h:124-126`). The pair hessian follows
  * the reference closed form max(σ(1−σ), ε)·Δ·2 (`lambdarank_obj.h:134`).
  */
final class LambdaRankObjective(val variant: String, val ndcgExpGain: Boolean = true,
    val topK: Int = 0, val pairMethod: String = "mean", val numPair: Int = 8,
    val unbiased: Boolean = false, val biasNorm: Double = 1.0,
    val normalization: Boolean = true, val scoreNormalization: Boolean = true)
    extends Objective {
  require(Set("mean", "topk", "all")(pairMethod), s"unknown pair method: $pairMethod")
  require(Set("ndcg", "map", "pairwise")(variant), s"unknown rank variant: $variant")

  /** Tracked position count for debiasing (ref `RankingCache
    * ::MaxPositionSize`, ranking_utils.h:224: truncation level for topk,
    * else a hard 32 — "the bias decreases exponentially"). */
  def maxPositions: Int = if (topK > 0) topK else 32
  /** t± update exponent 1/(1+bias_norm) (ranking_utils.h:96 Regularizer). */
  def regularizer: Double = 1.0 / (1.0 + biasNorm)
  val name = s"rank:$variant"
  override def needsGlobalGradients: Boolean = true
  def gradient(m: Double, y: Double, out: Array[Double]): Unit =
    throw new UnsupportedOperationException(
      s"$name gradients are pairwise per query group; the trainer computes them via LambdaRankGradients")
  override def baseScore(labelMean: Double): Double = 0.0
  override def validLabel(y: Double): Boolean = y >= 0.0
  override def defaultMetric: String = variant match {
    case "ndcg" => "ndcg@8"
    case "map"  => "map@8"
    case _      => "auc"
  }
}

object LambdaRankGradients {

  /** Aligned per-row [g, h] (weighted). Requires rows of one qid contiguous
    * within a partition (trainer's fitRanking guarantees it).
    *
    * Hot path: one full pass per boosting iteration, so the group gather
    * uses primitive double builders (no per-row tuple boxing) and groups
    * stream through lazily — the partition never holds more than one
    * group's inputs plus its emitted gradient rows. */
  def compute(rows: RDD[(BInst, Array[Double])],
      obj: LambdaRankObjective,
      pending: Array[(graft.tree.TreeShape, Double, Int)] = Array.empty,
      tPlus: Array[Double] = null, tMinus: Array[Double] = null,
      weightNorm: Double = 1.0): RDD[Array[Double]] = {
    val variant = obj.variant
    val expGain = obj.ndcgExpGain
    val topK = obj.topK
    val pairMethod = obj.pairMethod
    val numPair = obj.numPair
    val norm = obj.normalization
    val scoreNorm = obj.scoreNormalization
    withPending(rows, pending).mapPartitions { it =>
      val base = it.buffered
      new Iterator[Array[Array[Double]]] {
        private val lb = new ArrayBuffer[Double]
        private val mb = new ArrayBuffer[Double]
        private val wb = new ArrayBuffer[Double]
        def hasNext: Boolean = base.hasNext
        def next(): Array[Array[Double]] = {
          lb.clear(); mb.clear(); wb.clear()
          val q = base.head._1.qid
          while (base.hasNext && base.head._1.qid == q) {
            val (r, m) = base.next()
            lb += r.label; mb += m(0); wb += r.weight
          }
          groupGradients(lb.toArray, mb.toArray, wb.toArray,
            variant, expGain, topK, pairMethod, numPair, q, tPlus, tMinus, null, null,
            norm, scoreNorm, weightNorm)
        }
      }.flatten
    }
  }

  /** Deferred-cache trees: add their contribution to the cached margin on
    * the fly (see CoxGradients.compute). */
  private def withPending(rows: RDD[(BInst, Array[Double])],
      pending: Array[(graft.tree.TreeShape, Double, Int)]): RDD[(BInst, Array[Double])] =
    if (pending.isEmpty) rows
    else rows.map { case (r, m) =>
      var out = m(0)
      var i = 0
      while (i < pending.length) {
        out += pending(i)._2 * pending(i)._1.predictLeaf(r)(0)
        i += 1
      }
      (r, Array(out))
    }

  /** Position-bias numerator pass for Unbiased LambdaMART (ref
    * `lambdarank_obj.cc:205-220` accumulation + `:40-88`
    * UpdatePositionBias): re-walks the SAME pair sample as [[compute]]
    * (the mean-method RNG is seeded from (qid, margins), so both passes
    * enumerate identical pairs) and sums, per displayed position,
    * li = Σ cost/t⁻(low) and lj = Σ cost/t⁺(high) with
    * cost = ln(1/(1−σ(s_hi−s_lo)))·|Δmetric| — eq. 30/31 of Hu et al.,
    * "Unbiased LambdaMART". One aggregation per boosted iteration; the
    * driver receives 2·maxPositions doubles, independent of data size. */
  def positionBias(rows: RDD[(BInst, Array[Double])],
      obj: LambdaRankObjective, pending: Array[(graft.tree.TreeShape, Double, Int)],
      tPlus: Array[Double], tMinus: Array[Double]): (Array[Double], Array[Double]) = {
    val variant = obj.variant
    val expGain = obj.ndcgExpGain
    val topK = obj.topK
    val pairMethod = obj.pairMethod
    val numPair = obj.numPair
    val norm = obj.normalization
    val scoreNorm = obj.scoreNormalization
    val k = tPlus.length
    graft.Agg.reducePartitions(withPending(rows, pending)) { it =>
      val base = it.buffered
      val li = new Array[Double](k)
      val lj = new Array[Double](k)
      val lb = new ArrayBuffer[Double]
      val mb = new ArrayBuffer[Double]
      val wb = new ArrayBuffer[Double]
      while (base.hasNext) {
        lb.clear(); mb.clear(); wb.clear()
        val q = base.head._1.qid
        while (base.hasNext && base.head._1.qid == q) {
          val (r, m) = base.next()
          lb += r.label; mb += m(0); wb += r.weight
        }
        groupGradients(lb.toArray, mb.toArray, wb.toArray,
          variant, expGain, topK, pairMethod, numPair, q, tPlus, tMinus, li, lj,
          norm, scoreNorm, 1.0) // w_norm scales gpair only, never the t± numerators
      }
      (li, lj)
    } { case ((a1, a2), (b1, b2)) =>
      var i = 0
      while (i < a1.length) { a1(i) += b1(i); a2(i) += b2(i); i += 1 }
      (a1, a2)
    }
  }

  /** Seq-tuple adapter (unit-test surface; the trainer path uses the
    * primitive-array form below). */
  private[objective] def groupGradients(
      rows: scala.collection.Seq[(Double, Double, Double)], variant: String,
      expGain: Boolean, topK: Int, pairMethod: String = "all",
      numPair: Int = 8, qid: Long = 0L, normalization: Boolean = false,
      scoreNormalization: Boolean = false): Seq[Array[Double]] =
    groupGradients(rows.map(_._1).toArray, rows.map(_._2).toArray,
      rows.map(_._3).toArray, variant, expGain, topK, pairMethod, numPair, qid,
      null, null, null, null, normalization, scoreNormalization, 1.0)
      .toSeq

  /** λ-gradients for one query group over parallel primitive arrays.
    * `tPlus`/`tMinus` (non-null ⇒ unbiased mode) are the position-bias
    * ratios t⁺/t⁻ indexed by the doc's position in the INPUT order (the
    * displayed order — `lambdarank_obj.h:93` LambdaGrad uses idx_high/
    * idx_low from the original list); pair gradients are scaled by
    * 1/(t⁺(high)·t⁻(low)). `liAcc`/`ljAcc` (non-null) additionally
    * accumulate the eq. 30/31 numerators for the t± update. */
  private[objective] def groupGradients(
      labels: Array[Double], margins: Array[Double], weights: Array[Double],
      variant: String, expGain: Boolean, topK: Int, pairMethod: String,
      numPair: Int, qid: Long, tPlus: Array[Double],
      tMinus: Array[Double], liAcc: Array[Double],
      ljAcc: Array[Double], normalization: Boolean,
      scoreNormalization: Boolean, weightNorm: Double): Array[Array[Double]] = {
    val n = labels.length
    val g = new Array[Double](n)
    val h = new Array[Double](n)
    var sumLambda = 0.0
    if (n >= 2) {
      // current ranking: margin desc, stable by position for determinism
      // (boxed-Integer TimSort is stable, so equal margins keep index order)
      val order = new Array[Integer](n)
      var oi = 0
      while (oi < n) { order(oi) = Integer.valueOf(oi); oi += 1 }
      java.util.Arrays.sort(order, (a: Integer, b: Integer) =>
        java.lang.Double.compare(margins(b.intValue), margins(a.intValue)))
      val rankOf = new Array[Int](n) // 1-based
      var r = 0
      while (r < n) { rankOf(order(r).intValue) = r + 1; r += 1 }

      // NDCG machinery
      def gain(l: Double): Double = if (expGain) math.pow(2.0, l) - 1.0 else l
      def disc(rank: Int): Double = 1.0 / (math.log(rank + 1.0) / math.log(2.0))
      val invIdcg: Double =
        if (variant == "ndcg") {
          val sortedGains = new Array[Double](n)
          var si = 0
          while (si < n) { sortedGains(si) = gain(labels(si)); si += 1 }
          java.util.Arrays.sort(sortedGains) // ascending; read back-to-front
          var idcg = 0.0
          var k = 0
          while (k < n) { idcg += sortedGains(n - 1 - k) * disc(k + 1); k += 1 }
          if (idcg > 0) 1.0 / idcg else 0.0
        } else 0.0

      // MAP machinery: prefix counts/sums over the CURRENT ranking
      // (rel(k), R[k] = #relevant in top k, S[k] = Σ_{t≤k, rel} 1/t)
      var nRel = 0
      val relAt = new Array[Boolean](n + 1)
      val cumRel = new Array[Int](n + 1)
      val cumInv = new Array[Double](n + 1)
      if (variant == "map") {
        var k = 1
        while (k <= n) {
          val rel = labels(order(k - 1).intValue) > 0
          relAt(k) = rel
          cumRel(k) = cumRel(k - 1) + (if (rel) 1 else 0)
          cumInv(k) = cumInv(k - 1) + (if (rel) 1.0 / k else 0.0)
          if (rel) nRel += 1
          k += 1
        }
      }

      /** |ΔAP| when the docs at 1-based ranks ri (relevant) and rj
        * (non-relevant) swap places. */
      def deltaMap(ri: Int, rj: Int): Double = {
        if (nRel == 0) return 0.0
        if (ri < rj) {
          val a = ri; val b = rj
          math.abs(-cumRel(a).toDouble / a + cumRel(b).toDouble / b -
            (cumInv(b - 1) - cumInv(a))) / nRel
        } else {
          val a = rj; val b = ri
          math.abs((cumRel(a) + 1.0) / a - cumRel(b).toDouble / b +
            (cumInv(b - 1) - cumInv(a))) / nRel
        }
      }

      // score-gap normalization guard (LambdaGrad, lambdarank_obj.h:110-111,
      // 124-126): only divide when the group's current best and worst
      // scores differ (a constant-score group would just rescale by 1/0.01)
      val scoreSpread = scoreNormalization &&
        margins(order(0).intValue) != margins(order(n - 1).intValue)

      // one label-discordant pair's λ contribution; i must hold the HIGHER label
      @inline def contribute(i: Int, j: Int): Unit = {
        val li = labels(i); val lj = labels(j)
        var d = variant match {
          case "pairwise" => 1.0
          case "ndcg" =>
            math.abs((gain(li) - gain(lj)) * (disc(rankOf(i)) - disc(rankOf(j)))) * invIdcg
          // MAP is binary-relevance: only (relevant, non-relevant) pairs
          case "map" => if (li > 0 && lj <= 0) deltaMap(rankOf(i), rankOf(j)) else 0.0
        }
        if (scoreSpread) d /= math.abs(margins(i) - margins(j)) + 0.01
        if (d > 0) {
          val rho = 1.0 / (1.0 + math.exp(margins(i) - margins(j)))
          // position debiasing (LambdaGrad, lambdarank_obj.h:128-138):
          // scale the pair by 1/(t⁺(i)·t⁻(j)) when both positions are
          // tracked; accumulate eq.30/31 numerators when requested, with
          // cost = ln(1/(1−σ(s_hi−s_lo)))·Δ = −ln(ρ)·Δ
          var scale = 1.0
          if (tPlus != null) {
            val k = tPlus.length
            if (i < k && j < k) {
              val tpOk = tPlus(i) >= 1e-16
              val tmOk = tMinus(j) >= 1e-16
              if (tpOk && tmOk) scale = 1.0 / (tPlus(i) * tMinus(j))
              if (liAcc != null) {
                val cost = -math.log(math.max(rho, 1e-300)) * d
                if (tmOk) liAcc(i) += cost / tMinus(j)
                if (tpOk) ljAcc(j) += cost / tPlus(i)
              }
            }
          }
          g(i) -= d * rho * scale
          g(j) += d * rho * scale
          // reference pair hessian max(σ(1−σ), ε)·Δ·2 (lambdarank_obj.h:134)
          val hh = 2.0 * d * math.max(rho * (1.0 - rho), 1e-16) * scale
          h(i) += hh
          h(j) += hh
          // Σλ for topk normalization: −2·λ_ij summed over the processed
          // pairs (lambdarank_obj.cc:224 sum_lambda), post unbiased scaling
          sumLambda += 2.0 * d * rho * scale
        }
      }

      if (topK == 0 && pairMethod == "mean") {
        // sampled pairs, O(n·numPair) (ref pair_method=mean): deterministic
        // seed varies with the margins, so each boosting iteration draws a
        // fresh pair sample like the reference
        var marginHash = qid * 0x9E3779B97F4A7C15L
        var i = 0
        while (i < n) {
          marginHash ^= java.lang.Double.doubleToLongBits(margins(i)) * 0xC2B2AE3D27D4EB4FL
          i += 1
        }
        val rng = new java.util.Random(marginHash)
        i = 0
        while (i < n) {
          var t = 0
          while (t < numPair) {
            val j = rng.nextInt(n)
            val li = labels(i); val lj = labels(j)
            if (li > lj) contribute(i, j)
            else if (lj > li) contribute(j, i)
            t += 1
          }
          i += 1
        }
      } else {
        var i = 0
        while (i < n) {
          var j = 0
          while (j < n) {
            if (labels(i) > labels(j) &&
                (topK == 0 || rankOf(i) <= topK || rankOf(j) <= topK))
              contribute(i, j)
            j += 1
          }
          i += 1
        }
      }
    }
    // lambdarank_normalization (lambdarank_obj.cc:227-245): mean method
    // scales by 1/num_pair; topk (and our exact "all") by log2(1+Σλ)/Σλ.
    // Applied to the group's λ sums BEFORE weights, like the reference.
    if (normalization) {
      val norm =
        if (topK == 0 && pairMethod == "mean") 1.0 / numPair
        else if (sumLambda > 0.0) math.log(1.0 + sumLambda) / math.log(2.0) / sumLambda
        else 1.0
      if (norm != 1.0) {
        var i = 0
        while (i < n) { g(i) *= norm; h(i) *= norm; i += 1 }
      }
    }
    // final weight scaling `gpair * w * w_norm` (lambdarank_obj.cc:247-250;
    // w_norm = n_groups/Σ group-weights, RankingCache ranking_utils.cc:44)
    Array.tabulate(n) { i =>
      val w = weights(i) * weightNorm
      Array(g(i) * w, math.max(h(i), 1e-16) * w)
    }
  }
}
