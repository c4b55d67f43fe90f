package graft.data

import org.apache.spark.rdd.RDD

/** Global per-feature bin boundaries — the reference's `HistogramCuts`
  * (`src/common/hist_util.h:39-160`). `cuts(f)` is ascending; bin of value
  * `v` is the first index `b` with `v <= cuts(f)(b)` (upper bound binary
  * search, ref `BinarySearchBin` `hist_util.h:360`); the last boundary is the
  * feature max, so every non-missing value lands in a bin. Missing (NaN) has
  * no bin (−1): sparsity-aware split search routes it by learned default
  * direction instead.
  */
final case class HistogramCuts(cuts: Array[Array[Double]]) extends Serializable {
  val numFeatures: Int = cuts.length
  /** global-bin-space offset of each feature, length numFeatures+1 */
  val featureOffset: Array[Int] = cuts.scanLeft(0)(_ + _.length)
  val totalBins: Int = featureOffset(numFeatures)

  def numBins(f: Int): Int = cuts(f).length

  /** Reference `DMatrix.get_quantile_cut` (core.py:1126 →
    * `GetQuantileCut`): the trained histogram boundaries in CSR layout —
    * (indptr of length numFeatures+1, flat cut values). */
  def quantileCut: (Array[Long], Array[Double]) =
    (featureOffset.map(_.toLong), cuts.flatten)

  /** Local bin index within feature f, or −1 for missing. */
  def searchBin(f: Int, v: Double): Int = {
    if (java.lang.Double.isNaN(v)) return -1
    val c = cuts(f)
    var lo = 0; var hi = c.length - 1
    if (v > c(hi)) return hi // clamp: unseen value beyond training max
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (c(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Bin all features of a dense row into local bin ids (−1 = missing).
    * Rows shorter than the unified column count are padded with missing —
    * the reference accepts ragged batches the same way (`num_col_` is the
    * max index+1 seen, `include/xgboost/data.h:57`). */
  def binRow(features: Array[Double]): Array[Int] = {
    val out = new Array[Int](numFeatures)
    val n = math.min(numFeatures, features.length)
    var f = 0
    while (f < n) { out(f) = searchBin(f, features(f)); f += 1 }
    while (f < numFeatures) { out(f) = -1; f += 1 }
    out
  }

  /** Bin a sparse row: output parallel to `idx` (length nnz). */
  def binRowSparse(idx: Array[Int], values: Array[Double]): Array[Int] = {
    val out = new Array[Int](idx.length)
    var k = 0
    while (k < idx.length) { out(k) = searchBin(idx(k), values(k)); k += 1 }
    out
  }
}

object Binning {

  /** Distributed weighted-quantile cut finding — the reference's
    * `SketchOnDMatrix` (`src/common/hist_util.cc:53-81`): per-partition
    * sketches, merged by one [[graft.Agg]] job (its per-task partial and
    * driver-side final merge IS the reference's sketch allreduce,
    * `quantile.h:940`).
    *
    * `weights` defaults to 1; pass hessians for the approx method's
    * hessian-weighted re-sketch (`src/tree/updater_approx.cc:46-53`).
    *
    * The unified column count is discovered IN the same pass: the sketch
    * accumulator grows to the longest row seen, so ragged inputs get the
    * reference's `MetaInfo::SynchronizeNumberOfColumns` semantics
    * (`include/xgboost/data.h:191` — num_col = global max, short rows pad
    * as missing) with no extra scan. `minFeatures` is a lower bound on the
    * result width (0 = fully data-driven).
    */
  def findCuts(
      data: RDD[(Array[Double], Double)], // (features, weight)
      minFeatures: Int,
      maxBin: Int): HistogramCuts = {
    val budget = QuantileSketch.sizeFor(maxBin)
    def grow(acc: Array[QuantileSketch], n: Int): Array[QuantileSketch] =
      if (acc.length >= n) acc
      else {
        val out = java.util.Arrays.copyOf(acc, n)
        var i = acc.length
        while (i < n) { out(i) = new QuantileSketch(budget); i += 1 }
        out
      }
    val zero = Array.fill(minFeatures)(new QuantileSketch(budget))
    val sketches = graft.Agg.aggregate(data)(zero)(
      seqOp = (acc0, row) => {
        val (fs, w) = row
        val acc = grow(acc0, fs.length)
        var f = 0
        while (f < fs.length) { acc(f).push(fs(f), w); f += 1 }
        acc
      },
      combOp = (a0, b) => {
        val a = grow(a0, b.length)
        var f = 0
        while (f < b.length) { a(f).merge(b(f)); f += 1 }
        a
      })
    HistogramCuts(sketches.map(s => cutsFromSummary(s.result, maxBin)))
  }

  /** Sparse-input cut finding: only PRESENT (idx, value) entries are pushed
    * — identical to the dense path's NaN-skip, so a sparse encoding of the
    * same data yields the same cuts (ref sparse sketching over CSR,
    * `src/common/hist_util.cc:53-81`). */
  def findCutsSparse(
      data: RDD[(Array[Int], Array[Double], Double)], // (indices, values, weight)
      minFeatures: Int,
      maxBin: Int): HistogramCuts = {
    val budget = QuantileSketch.sizeFor(maxBin)
    def grow(acc: Array[QuantileSketch], n: Int): Array[QuantileSketch] =
      if (acc.length >= n) acc
      else {
        val out = java.util.Arrays.copyOf(acc, n)
        var i = acc.length
        while (i < n) { out(i) = new QuantileSketch(budget); i += 1 }
        out
      }
    val zero = Array.fill(minFeatures)(new QuantileSketch(budget))
    val sketches = graft.Agg.aggregate(data)(zero)(
      seqOp = (acc0, row) => {
        val (idx, vs, w) = row
        val acc = if (idx.length == 0) acc0 else grow(acc0, idx(idx.length - 1) + 1)
        var k = 0
        while (k < idx.length) { acc(idx(k)).push(vs(k), w); k += 1 }
        acc
      },
      combOp = (a0, b) => {
        val a = grow(a0, b.length)
        var f = 0
        while (f < b.length) { a(f).merge(b(f)); f += 1 }
        a
      })
    HistogramCuts(sketches.map(s => cutsFromSummary(s.result, maxBin)))
  }

  /** Exact-method cuts: EVERY distinct feature value becomes its own bin
    * boundary, so downstream split enumeration over bins IS the exact
    * greedy enumeration over sorted column values (ref `grow_colmaker`'s
    * sorted-CSC scans, `src/tree/updater_colmaker.cc` + `SortedCSCPage`,
    * `include/xgboost/data.h:441-445`). The per-feature sorted set built
    * by the aggregation is the distributed analog of the sorted column.
    * Guarded by `maxDistinct` total values — exact is for small/medium
    * data, matching the reference (colmaker CHECKs a single worker). */
  def findCutsExact(
      data: RDD[(Array[Double], Double)],
      minFeatures: Int,
      maxDistinct: Int = 1 << 21): HistogramCuts = {
    def grow(acc: Array[java.util.TreeSet[java.lang.Double]], n: Int) =
      if (acc.length >= n) acc
      else {
        val out = java.util.Arrays.copyOf(acc, n)
        var i = acc.length
        while (i < n) { out(i) = new java.util.TreeSet[java.lang.Double](); i += 1 }
        out
      }
    val zero = Array.fill(minFeatures)(new java.util.TreeSet[java.lang.Double]())
    val sets = graft.Agg.aggregate(data)(zero)(
      seqOp = (acc0, row) => {
        val fs = row._1
        val acc = grow(acc0, fs.length)
        var f = 0
        while (f < fs.length) {
          val v = fs(f)
          if (v == v) acc(f).add(v)
          f += 1
        }
        acc
      },
      combOp = (a0, b) => {
        val a = grow(a0, b.length)
        var f = 0
        while (f < b.length) { a(f).addAll(b(f)); f += 1 }
        require(a.iterator.map(_.size).sum <= maxDistinct,
          s"tree_method=exact: > $maxDistinct distinct values; use hist/approx at this scale")
        a
      })
    HistogramCuts(sets.map { s =>
      if (s.isEmpty) Array(0.0)
      else {
        val out = new Array[Double](s.size)
        val it = s.iterator()
        var i = 0
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        out
      }
    })
  }

  /** Quantile values → deduplicated ascending boundaries (ref
    * `HistogramCuts` construction in `hist_util.cc`). */
  private[graft] def cutsFromSummary(s: WQSummary, maxBin: Int): Array[Double] = {
    if (s.size == 0) return Array(0.0)
    val tw = s.totalWeight
    val out = new scala.collection.mutable.ArrayBuffer[Double](maxBin)
    var b = 1
    while (b < maxBin) {
      val v = s.query(tw * b / maxBin)
      if (out.isEmpty || v > out.last) out += v
      b += 1
    }
    val max = s.values(s.size - 1)
    if (out.isEmpty || max > out.last) out += max
    out.toArray
  }
}
