package graft.data


/** Mergeable weighted quantile summary — the GK-style summary of the
  * reference's `WQSummary` (`src/common/quantile.h:35-530`) and of the
  * weighted-quantile-sketch appendix of Chen & Guestrin, KDD'16.
  *
  * Each entry is `(value, rmin, rmax, wmin)`:
  *   rmin = sum of weights of elements strictly below `value` (lower bound),
  *   rmax = sum of weights of elements at or below `value` (upper bound),
  *   wmin = total weight of elements exactly equal to `value`.
  * Invariants: rmin non-decreasing, rmax non-decreasing, rmin+wmin <= rmax.
  *
  * `merge` is the reference's `SetCombine`; `prune` is `SetPrune`
  * (`quantile.h:225`): both preserve the eps rank-error bound, so the
  * summary is a proper commutative-monoid aggregation buffer — safe under
  * Spark's arbitrary partial-agg merge order (SURVEY §7.4 risk 1).
  */
final class WQSummary(
    val values: Array[Double],
    val rmins: Array[Double],
    val rmaxs: Array[Double],
    val wmins: Array[Double]
) extends Serializable {

  def size: Int = values.length
  def totalWeight: Double = if (size == 0) 0.0 else rmaxs(size - 1)

  /** SetCombine (quantile.h `SetCombine`): merge two summaries. Primitive
    * preallocated output — this runs once per buffer flush on the sketch
    * hot path, so no boxed collections. */
  def merge(other: WQSummary): WQSummary = {
    if (other.size == 0) return this
    if (size == 0) return other
    val cap = size + other.size
    val v = new Array[Double](cap)
    val rmin = new Array[Double](cap)
    val rmax = new Array[Double](cap)
    val wmin = new Array[Double](cap)
    var len = 0
    var i = 0; var j = 0
    // helpers: rank bounds contributed by the OTHER summary at a foreign value
    def addEntry(value: Double, rmi: Double, rma: Double, wmi: Double): Unit = {
      if (len > 0 && v(len - 1) == value) {
        // identical values merged: ranks add
        rmin(len - 1) += rmi; rmax(len - 1) += rma; wmin(len - 1) += wmi
      } else { v(len) = value; rmin(len) = rmi; rmax(len) = rma; wmin(len) = wmi; len += 1 }
    }
    while (i < size || j < other.size) {
      if (j >= other.size || (i < size && values(i) < other.values(j))) {
        // entry from this; other's contribution at values(i)
        val x = values(i)
        val p = other.predecessorBefore(x, j)
        addEntry(x, rmins(i) + other.rminNext(p), rmaxs(i) + other.rmaxPrev(p + 1), wmins(i))
        i += 1
      } else if (i >= size || other.values(j) < values(i)) {
        val x = other.values(j)
        val p = predecessorBefore(x, i)
        addEntry(x, other.rmins(j) + rminNext(p), other.rmaxs(j) + rmaxPrev(p + 1), other.wmins(j))
        j += 1
      } else { // equal values: exact sum
        addEntry(values(i), rmins(i) + other.rmins(j), rmaxs(i) + other.rmaxs(j),
          wmins(i) + other.wmins(j))
        i += 1; j += 1
      }
    }
    new WQSummary(java.util.Arrays.copyOf(v, len), java.util.Arrays.copyOf(rmin, len),
      java.util.Arrays.copyOf(rmax, len), java.util.Arrays.copyOf(wmin, len))
  }

  /** Index of the last entry with value < x, scanning from `hint − 1`
    * (cursor lower bound); −1 if none. */
  private def predecessorBefore(x: Double, hint: Int): Int = {
    var p = hint - 1
    while (p + 1 < size && values(p + 1) < x) p += 1
    p
  }

  /** rmin + wmin of entry p (RMinNext), 0 below the front. */
  private def rminNext(p: Int): Double = if (p >= 0) rmins(p) + wmins(p) else 0.0

  /** rmax − wmin of entry s (RMaxPrev), total weight past the back. */
  private def rmaxPrev(s: Int): Double = if (s < size) rmaxs(s) - wmins(s) else totalWeight

  /** SetPrune (quantile.h:225): shrink to at most `maxSize` entries keeping
    * endpoints; selects entries nearest evenly spaced ranks. The quantile
    * cursor is non-decreasing, so kept indices arrive sorted and dedup is
    * a same-as-last check (no boxed set). */
  def prune(maxSize: Int): WQSummary = {
    if (size <= maxSize || size <= 2) return this
    val keep = new Array[Int](maxSize)
    keep(0) = 0
    var kept = 1
    val tw = totalWeight
    val n = maxSize - 2
    var k = 1
    var cursor = 0
    while (k <= n) {
      val d = tw * k / (n + 1)
      // first entry whose mid-rank >= d, starting from cursor (ranks sorted)
      while (cursor < size - 1 && (rmins(cursor) + rmaxs(cursor)) * 0.5 < d) cursor += 1
      if (cursor != keep(kept - 1) && cursor != size - 1) { keep(kept) = cursor; kept += 1 }
      k += 1
    }
    keep(kept) = size - 1
    kept += 1
    val v = new Array[Double](kept)
    val rmin = new Array[Double](kept)
    val rmax = new Array[Double](kept)
    val wmin = new Array[Double](kept)
    var t = 0
    while (t < kept) {
      val idx = keep(t)
      v(t) = values(idx); rmin(t) = rmins(idx); rmax(t) = rmaxs(idx); wmin(t) = wmins(idx)
      t += 1
    }
    new WQSummary(v, rmin, rmax, wmin)
  }

  /** Value whose rank range covers `d` (query function of the paper):
    * first entry with rmax >= d, so a value whose [rmin, rmax] interval
    * contains the requested rank is returned. */
  def query(d: Double): Double = {
    if (size == 0) return Double.NaN
    if (d >= totalWeight) return values(size - 1)
    var lo = 0; var hi = size - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (rmaxs(mid) < d) lo = mid + 1 else hi = mid
    }
    values(lo)
  }
}

object WQSummary {
  val empty = new WQSummary(Array.empty, Array.empty, Array.empty, Array.empty)

  /** Exact summary from raw (value, weight) pairs (test surface). */
  def fromSorted(pairs: Array[(Double, Double)]): WQSummary =
    fromSorted(pairs.map(_._1), pairs.map(_._2), pairs.length)

  /** Exact summary from value-ascending parallel arrays (first `n` slots). */
  def fromSorted(vals: Array[Double], ws: Array[Double], n: Int): WQSummary = {
    if (n == 0) return empty
    val v = new Array[Double](n)
    val wmin = new Array[Double](n)
    var len = 0
    var i = 0
    while (i < n) {
      if (len > 0 && v(len - 1) == vals(i)) wmin(len - 1) += ws(i)
      else { v(len) = vals(i); wmin(len) = ws(i); len += 1 }
      i += 1
    }
    val rmin = new Array[Double](len)
    val rmax = new Array[Double](len)
    var acc = 0.0
    i = 0
    while (i < len) { rmin(i) = acc; acc += wmin(i); rmax(i) = acc; i += 1 }
    new WQSummary(java.util.Arrays.copyOf(v, len), rmin, rmax,
      java.util.Arrays.copyOf(wmin, len))
  }
}

/** Streaming sketch over one feature: buffers raw pairs, folds them into a
  * pruned summary when full (the background-queue design of
  * `quantile.h:488` `WQuantileSketch`). `maxSize` follows the reference's
  * budget `2/eps * kFactor` with kFactor=2 (`quantile.h:568-590`).
  *
  * Hot path (every row × every feature of the sketch pass goes through
  * `push`): the buffer is a pair of primitive double arrays and the flush
  * sort is an in-place dual-array quicksort — no per-push tuple boxing,
  * no boxed comparator. Unweighted inputs (all weights 1) are the common
  * case and cost the same as weighted ones.
  *
  * Shipped sketches carry only their summary: serialization flushes the
  * buffer and drops it, and the next `push` allocates a new one. An empty
  * buffer is 2 × 1024 doubles per feature, which every task result and
  * every zero value in a task closure would otherwise carry. */
final class QuantileSketch(val maxSize: Int, bufferCap: Int = 4096) extends Serializable {
  private var summary: WQSummary = WQSummary.empty
  private var bufV: Array[Double] = null
  private var bufW: Array[Double] = null
  private var bufLen = 0

  def push(value: Double, weight: Double): Unit = {
    if (!java.lang.Double.isNaN(value) && weight > 0) {
      if (bufV == null) {
        bufV = new Array[Double](math.min(bufferCap, 1024))
        bufW = new Array[Double](bufV.length)
      } else if (bufLen == bufV.length && bufLen < bufferCap) {
        val cap = math.min(bufferCap, bufV.length * 2)
        bufV = java.util.Arrays.copyOf(bufV, cap)
        bufW = java.util.Arrays.copyOf(bufW, cap)
      }
      bufV(bufLen) = value
      bufW(bufLen) = weight
      bufLen += 1
      if (bufLen >= bufferCap) flush()
    }
  }

  /** In-place quicksort of (bufV, bufW) by value over [lo, hi]. Equal
    * values need no stable order: `fromSorted` folds them into one entry
    * by summing weights, which commutes. */
  private def sortPairs(lo0: Int, hi0: Int): Unit = {
    var lo = lo0; var hi = hi0
    while (lo < hi) {
      val pivot = bufV((lo + hi) >>> 1)
      var i = lo; var j = hi
      while (i <= j) {
        while (bufV(i) < pivot) i += 1
        while (bufV(j) > pivot) j -= 1
        if (i <= j) {
          val tv = bufV(i); bufV(i) = bufV(j); bufV(j) = tv
          val tw = bufW(i); bufW(i) = bufW(j); bufW(j) = tw
          i += 1; j -= 1
        }
      }
      // recurse on the smaller side, loop on the larger (O(log n) stack)
      if (j - lo < hi - i) { if (lo < j) sortPairs(lo, j); lo = i }
      else { if (i < hi) sortPairs(i, hi); hi = j }
    }
  }

  private def flush(): Unit = {
    if (bufLen > 0) {
      sortPairs(0, bufLen - 1)
      summary = summary.merge(WQSummary.fromSorted(bufV, bufW, bufLen)).prune(maxSize)
      bufLen = 0
    }
  }

  def result: WQSummary = { flush(); summary }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    flush()
    bufV = null
    bufW = null
    out.defaultWriteObject()
  }

  def merge(other: QuantileSketch): QuantileSketch = {
    flush()
    summary = summary.merge(other.result).prune(maxSize)
    this
  }
}

object QuantileSketch {
  /** Sketch budget for a target bin count (ref `quantile.h:568`: eps =
    * 1/max_bin, internal resolution eps/kFactor, kFactor=2). */
  def sizeFor(maxBin: Int): Int = math.max(8 * maxBin, 64)
}
