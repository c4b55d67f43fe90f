package graft.ext

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Tight-loop vector kernels as native Catalyst expressions. The HOF
  * spelling (`aggregate(zip_with(...))`) is interpreted — every element pays
  * a boxed lambda call outside whole-stage codegen; a 64-dim dot over a
  * candidate-pair join dominated the near-dup query wall-clock. This
  * expression emits a primitive loop inside codegen instead. Accumulation is
  * left-to-right in double — bit-identical to the HOF spelling and to
  * DuckDB's `list_sum(list_transform(...))`, so oracle hashes are unchanged. */
object VectorMath {

  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    s
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  // NaN elements of `a` contribute 0 (gblinear sparse-missing semantics)

  def dotNanFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val x = a.getFloat(i); if (x == x) s += x.toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def dotNanFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val x = a.getFloat(i); if (x == x) s += x.toDouble * b.getDouble(i); i += 1 }
    s
  }

  def dotNanDF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val x = a.getDouble(i); if (x == x) s += x * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def dotNanDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { val x = a.getDouble(i); if (x == x) s += x * b.getDouble(i); i += 1 }
    s
  }
}

/** IVF coarse-quantizer cell assignment: the `probe` nearest centroids of
  * the input vector, by squared distance `|c|² − 2·v·c` (the `|v|²` term is
  * constant per row and cannot change the argmin). Ties break to the LOWEST
  * centroid index, and the probe list is built by repeated first-min scans —
  * both properties are mirrored exactly by the generated oracle SQL.
  * Centroids ride the plan as a codegen reference object. */
case class IvfCells(child: Expression, centroids: Array[Array[Double]],
    probe: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf_cells requires array<float|double>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf_cells"

  @transient private lazy val normSq: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def cellsOf(v: ArrayData): ArrayData = {
    val k = centroids.length
    val d = new Array[Double](k)
    var c = 0
    while (c < k) {
      val dot = if (isFloat) VectorMath.dotFD(v, UnsafeWrap.wrap(centroids(c)))
        else VectorMath.dotDD(v, UnsafeWrap.wrap(centroids(c)))
      d(c) = normSq(c) - 2.0 * dot
      c += 1
    }
    val out = new Array[Int](math.min(probe, k))
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < out.length) {
      var best = -1
      var bestD = Double.MaxValue
      var i = 0
      while (i < k) {
        if (!taken(i) && d(i) < bestD) { best = i; bestD = d(i) }
        i += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  protected override def nullSafeEval(v: Any): Any =
    cellsOf(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftIvf", this, classOf[IvfCells].getName)
    defineCodeGen(ctx, ev, v => s"$self.cellsOf($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)
}

/** TWO-LEVEL (coarse × fine residual) IVF cell assignment — the
  * quantizer-growth escape past driver-side Lloyd: a composed cell id
  * `c1 * fine.length + c2` where `c1` is the nearest coarse centroid
  * and `c2` the nearest FINE centroid of the residual `v − coarse(c1)`
  * (the faiss IVF-with-residual two-level shape). k = k1·k2 effective
  * cells from only k1 + k2 trained centroids, so the k ≈ √n sizing
  * contract stays driver-trainable at 10¹⁰ docs (k = 10⁵ needs k1 =
  * k2 ≈ 320 — see Similarity.trainQuantizer2).
  *
  * `probe × fineProbe` composed cells are produced by probing the
  * `probe` nearest COARSE centroids (repeated first-min scans, ties →
  * lowest index — the [[IvfCells]] convention) and composing each
  * with its residual's `fineProbe` nearest FINE centroids (same
  * repeated-min convention). The GATE keeps `fineProbe = 1` (recall
  * probing there is a coarse-boundary concern and per-coarse the fine
  * id is the deterministic argmin); the snapshot-ANN READ
  * (`ivfTopKFromSnapshot`) widens it because a corpus vector sharing
  * the query's coarse branch can live in a DIFFERENT fine cell — and
  * at (probe = k1, fineProbe = k2) every composed cell is probed, so
  * the read is exactly brute force (the `p_ann_snapshot2` oracle).
  *
  * Arithmetic (mirrored EXACTLY by the generated oracle SQL): coarse
  * distance `|c|² − 2·v·c` as in [[IvfCells]]; fine distance over the
  * residual uses `r·f = v·f − c·f`, i.e.
  * `|f|² − 2·(v·f − ccDot(c1)(f))` with `|f|²` and the k1×k2 table
  * `ccDot` precomputed — `|r|²` is constant per (v, c1) and cannot
  * change the argmin. v·f is computed ONCE per fine centroid and
  * reused across probes: k1 + k2 dot products per vector, never
  * k1·k2. */
case class Ivf2Cells(child: Expression, coarse: Array[Array[Double]],
    fine: Array[Array[Double]], probe: Int,
    fineProbe: Int = 1) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_ivf2_cells requires array<float|double>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_ivf2_cells"

  @transient private lazy val normSqC: Array[Double] =
    coarse.map(c => c.map(x => x * x).sum)
  @transient private lazy val normSqF: Array[Double] =
    fine.map(f => f.map(x => x * x).sum)
  // coarse(b)·fine(j), the residual-dot correction table (k1×k2 doubles)
  @transient private lazy val ccDot: Array[Array[Double]] =
    coarse.map(c => fine.map { f =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * f(i); i += 1 }
      s
    })

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def cellsOf(v: ArrayData): ArrayData = {
    val k1 = coarse.length
    val k2 = fine.length
    val dC = new Array[Double](k1)
    var c = 0
    while (c < k1) {
      val dot = if (isFloat) VectorMath.dotFD(v, UnsafeWrap.wrap(coarse(c)))
        else VectorMath.dotDD(v, UnsafeWrap.wrap(coarse(c)))
      dC(c) = normSqC(c) - 2.0 * dot
      c += 1
    }
    val vF = new Array[Double](k2)
    var j = 0
    while (j < k2) {
      vF(j) = if (isFloat) VectorMath.dotFD(v, UnsafeWrap.wrap(fine(j)))
        else VectorMath.dotDD(v, UnsafeWrap.wrap(fine(j)))
      j += 1
    }
    val nC = math.min(probe, k1)
    val nF = math.min(fineProbe, k2)
    val out = new Array[Int](nC * nF)
    val taken = new Array[Boolean](k1)
    var p = 0
    while (p < nC) {
      var best = -1
      var bestD = Double.MaxValue
      var i = 0
      while (i < k1) {
        if (!taken(i) && dC(i) < bestD) { best = i; bestD = dC(i) }
        i += 1
      }
      taken(best) = true
      // the fine residual distances of THIS coarse branch, probed by
      // the same repeated strictly-less min scan (ties → lowest index)
      val takenF = new Array[Boolean](k2)
      var q = 0
      while (q < nF) {
        var bf = -1
        var bfD = Double.MaxValue
        var f = 0
        while (f < k2) {
          val d = normSqF(f) - 2.0 * (vF(f) - ccDot(best)(f))
          if (!takenF(f) && d < bfD) { bf = f; bfD = d }
          f += 1
        }
        takenF(bf) = true
        out(p * nF + q) = best * k2 + bf
        q += 1
      }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  protected override def nullSafeEval(v: Any): Any =
    cellsOf(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftIvf2", this, classOf[Ivf2Cells].getName)
    defineCodeGen(ctx, ev, v => s"$self.cellsOf($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): Ivf2Cells =
    copy(child = newChild)
}

/** Product-quantization code assignment: the input vector is cut into
  * `codebooks.length` contiguous subvectors and each is assigned to its
  * nearest sub-centroid by squared distance `|c|² − 2·v·c` (the subvector
  * norm is constant within a sub and cannot change the argmin). Ties break
  * to the LOWEST code, mirroring [[IvfCells]]' strictly-less scan — the
  * oracle SQL reproduces both. Output: array<int> of one code per sub.
  * Codebooks ride the plan as a codegen reference object. */
case class PqCodes(child: Expression,
    codebooks: Array[Array[Array[Double]]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_codes requires array<float|double>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  @transient private lazy val normSq: Array[Array[Double]] =
    codebooks.map(_.map(c => c.map(x => x * x).sum))

  private def isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def codesOf(v: ArrayData): ArrayData = {
    val m = codebooks.length
    val out = new Array[Int](m)
    var off = 0
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val subDim = cb(0).length
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        // dot(v[off..off+subDim), cb(c)) left-to-right, like VectorMath
        var dp = 0.0
        var i = 0
        if (isFloat) while (i < subDim) { dp += v.getFloat(off + i).toDouble * cb(c)(i); i += 1 }
        else while (i < subDim) { dp += v.getDouble(off + i) * cb(c)(i); i += 1 }
        val d = normSq(s)(c) - 2.0 * dp
        if (d < bestD) { best = c; bestD = d }
        c += 1
      }
      out(s) = best
      off += subDim
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  protected override def nullSafeEval(v: Any): Any =
    codesOf(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftPq", this, classOf[PqCodes].getName)
    defineCodeGen(ctx, ev, v => s"$self.codesOf($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** PQ code DECODE: the reconstructed vector of a codes column —
  * per-sub centroid rows concatenated in sub order (array<double> of
  * the original dimensionality). Pure table lookup, no arithmetic, so
  * the oracle's `list_concat(CASE code…)` replay is exact by
  * construction. The read half of the PQ-compressed snapshot: store
  * (cell, codes), decode on the gate/re-rank path. */
case class PqDecode(child: Expression,
    codebooks: Array[Array[Array[Double]]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_decode requires array<int>, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_decode"

  def decodeOf(codes: ArrayData): ArrayData = {
    val dim = codebooks.map(_(0).length).sum
    val out = new Array[Double](dim)
    var off = 0
    var s = 0
    while (s < codebooks.length) {
      val cent = codebooks(s)(codes.getInt(s))
      System.arraycopy(cent, 0, out, off, cent.length)
      off += cent.length
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  protected override def nullSafeEval(v: Any): Any =
    decodeOf(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftPqDec", this, classOf[PqDecode].getName)
    defineCodeGen(ctx, ev, v => s"$self.decodeOf($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqDecode =
    copy(child = newChild)
}

/** Asymmetric-distance computation (ADC): approximate squared L2 distance
  * between an exact query vector and a PQ-coded corpus vector —
  * Σ_sub |q_sub − codebook(sub)(code_sub)|². Accumulation: each sub-total
  * folds left-to-right from 0.0, and sub-totals add in sub order — the
  * exact grouping the oracle's `list_sum(...) + list_sum(...) + …`
  * reproduces, so rounded distances hash-match. */
case class PqAdc(left: Expression, right: Expression,
    codebooks: Array[Array[Array[Double]]]) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_adc requires (array<float|double>, array<int>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"

  private def isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def adcOf(q: ArrayData, codes: ArrayData): Double = {
    var total = 0.0
    var off = 0
    var s = 0
    while (s < codebooks.length) {
      val cent = codebooks(s)(codes.getInt(s))
      var sub = 0.0
      var i = 0
      if (isFloat) while (i < cent.length) {
        val t = q.getFloat(off + i).toDouble - cent(i); sub += t * t; i += 1
      } else while (i < cent.length) {
        val t = q.getDouble(off + i) - cent(i); sub += t * t; i += 1
      }
      total += sub
      off += cent.length
      s += 1
    }
    total
  }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    adcOf(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftPqAdc", this, classOf[PqAdc].getName)
    defineCodeGen(ctx, ev, (q, c) => s"$self.adcOf($q, $c)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdc = copy(left = newLeft, right = newRight)
}

/** Wrap a driver-built primitive array as ArrayData once (cached per
  * centroid array via identity — centroids are immutable plan constants). */
private object UnsafeWrap {
  private val cache = new java.util.concurrent.ConcurrentHashMap[Array[Double], ArrayData]()
  def wrap(a: Array[Double]): ArrayData =
    cache.computeIfAbsent(a, arr => UnsafeArrayData.fromPrimitiveArray(arr))
}

/** dot(a, b) over array<float>/array<double> columns in any combination;
  * null arrays yield null (BinaryExpression null-intolerant default).
  * `skipNaN` makes NaN elements of `a` contribute 0 — the gblinear
  * missing-feature convention. */
case class VectorDot(left: Expression, right: Expression,
    skipNaN: Boolean = false) extends BinaryExpression {

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left.dataType), elemType(right.dataType)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires array<float|double> inputs, got (${left.dataType.sql}, ${right.dataType.sql})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def method: String = {
    val base = (elemType(left.dataType).get, elemType(right.dataType).get) match {
      case (FloatType, FloatType) => "FF"
      case (FloatType, DoubleType) => "FD"
      case (DoubleType, FloatType) => "DF"
      case (DoubleType, DoubleType) => "DD"
    }
    (if (skipNaN) "dotNan" else "dot") + base
  }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    method match {
      case "dotFF" => VectorMath.dotFF(x, y)
      case "dotFD" => VectorMath.dotFD(x, y)
      case "dotDF" => VectorMath.dotDF(x, y)
      case "dotDD" => VectorMath.dotDD(x, y)
      case "dotNanFF" => VectorMath.dotNanFF(x, y)
      case "dotNanFD" => VectorMath.dotNanFD(x, y)
      case "dotNanDF" => VectorMath.dotNanDF(x, y)
      case "dotNanDD" => VectorMath.dotNanDD(x, y)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = VectorMath.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, (a, b) => s"$cls.$method($a, $b)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VectorDot = copy(left = newLeft, right = newRight)
}
