package graft.predict

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.model.BoosterModel
import graft.objective.{Objective, SoftmaxObjective}

/** Structure-of-arrays ensemble for the prediction hot path — the analog of
  * the reference's array-layout tree walk (`src/predictor/cpu_predictor.cc:175`
  * `RegTree::GetLeafIndex` over contiguous node arrays). All trees' nodes are
  * concatenated into flat primitive arrays (no per-node objects, no boxing),
  * so a row prediction is numTrees pointer-free array walks. Shipped to
  * executors once as a codegen reference object. */
final class FlatModel(
    val feature: Array[Int], // global node id → split feature (−1 = leaf)
    val threshold: Array[Double],
    val defaultLeft: Array[Boolean],
    val left: Array[Int], // global node ids
    val right: Array[Int],
    val leafOff: Array[Int], // node → offset into leafVal
    val leafLen: Array[Int],
    val leafVal: Array[Double],
    val catOff: Array[Int], // node → offset into catVal (categorical splits)
    val catLen: Array[Int],
    val catVal: Array[Int],
    val treeRoot: Array[Int],
    val treeWeight: Array[Double],
    val treeGroup: Array[Int],
    val baseScore: Array[Double],
    val numGroups: Int,
    val numFeatures: Int,
    val objective: Objective,
    val nodeValue: Array[Double], // cover-weighted expected value per node (Saabas)
    val cover: Array[Double] // sum of hessians routed through each node
) extends Serializable {

  private val numTrees = treeRoot.length

  @inline private def featAt(a: ArrayData, f: Int): Double =
    if (f >= a.numElements() || a.isNullAt(f)) Double.NaN else a.getDouble(f)

  /** Leaf node (global id) the row lands in for tree t. */
  def leafOf(a: ArrayData, t: Int): Int = {
    var i = treeRoot(t)
    var f = feature(i)
    while (f >= 0) {
      val v = featAt(a, f)
      i =
        if (v != v) { if (defaultLeft(i)) left(i) else right(i) } // NaN
        else if (catLen(i) > 0) {
          val o = catOff(i)
          if (java.util.Arrays.binarySearch(catVal, o, o + catLen(i), v.toInt) >= 0) right(i)
          else left(i)
        } else if (v <= threshold(i)) left(i)
        else right(i)
      f = feature(i)
    }
    i
  }

  def margin(a: ArrayData): Array[Double] = {
    val out = baseScore.clone()
    var t = 0
    while (t < numTrees) {
      val li = leafOf(a, t)
      val off = leafOff(li)
      val len = leafLen(li)
      if (len == 1) out(treeGroup(t)) += treeWeight(t) * leafVal(off)
      else { // multi-target tree: vector leaf maps 1:1 onto groups
        var k = 0
        while (k < len) { out(k) += treeWeight(t) * leafVal(off + k); k += 1 }
      }
      t += 1
    }
    out
  }

  // --- sparse row access: features as (sorted indices, parallel values) —
  // --- absent features are missing; a tree walk touches only depth
  // --- features per tree, so the binary search beats densifying a wide
  // --- one-hot row (ref sparse CSR predict, cpu_predictor.cc FVecDrop) ---

  @inline private def featAtSparse(idx: ArrayData, vals: ArrayData, f: Int): Double = {
    var lo = 0
    var hi = idx.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = idx.getInt(mid)
      if (v == f) return vals.getDouble(mid)
      else if (v < f) lo = mid + 1
      else hi = mid - 1
    }
    Double.NaN
  }

  def leafOfSparse(idx: ArrayData, vals: ArrayData, t: Int): Int = {
    var i = treeRoot(t)
    var f = feature(i)
    while (f >= 0) {
      val v = featAtSparse(idx, vals, f)
      i =
        if (v != v) { if (defaultLeft(i)) left(i) else right(i) } // missing
        else if (catLen(i) > 0) {
          val o = catOff(i)
          if (java.util.Arrays.binarySearch(catVal, o, o + catLen(i), v.toInt) >= 0) right(i)
          else left(i)
        } else if (v <= threshold(i)) left(i)
        else right(i)
      f = feature(i)
    }
    i
  }

  def marginSparse(idx: ArrayData, vals: ArrayData): Array[Double] = {
    val out = baseScore.clone()
    var t = 0
    while (t < numTrees) {
      val li = leafOfSparse(idx, vals, t)
      val off = leafOff(li)
      val len = leafLen(li)
      if (len == 1) out(treeGroup(t)) += treeWeight(t) * leafVal(off)
      else {
        var k = 0
        while (k < len) { out(k) += treeWeight(t) * leafVal(off + k); k += 1 }
      }
      t += 1
    }
    out
  }

  def marginSparseData(idx: ArrayData, vals: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(marginSparse(idx, vals))

  def valueOfSparse(idx: ArrayData, vals: ArrayData): Double =
    objective.predTransform(marginSparse(idx, vals)(0))

  def marginScalarSparse(idx: ArrayData, vals: ArrayData): Double =
    marginSparse(idx, vals)(0)

  def leafSparseData(idx: ArrayData, vals: ArrayData): ArrayData = {
    val out = new Array[Int](numTrees)
    var t = 0
    while (t < numTrees) { out(t) = leafOfSparse(idx, vals, t); t += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // --- codegen entry points (one per TreePredict mode; ArrayData in, ---
  // --- primitive or UnsafeArrayData out)                             ---

  def marginData(a: ArrayData): ArrayData = UnsafeArrayData.fromPrimitiveArray(margin(a))

  def valueOf(a: ArrayData): Double = objective.predTransform(margin(a)(0))

  def marginScalar(a: ArrayData): Double = margin(a)(0)

  def softprobData(a: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(SoftmaxObjective.softmaxInPlace(margin(a)))

  def argmaxOf(a: ArrayData): Double = {
    val m = margin(a)
    var best = 0; var k = 1
    while (k < m.length) { if (m(k) > m(best)) best = k; k += 1 }
    best.toDouble
  }

  def leafData(a: ArrayData): ArrayData = {
    val out = new Array[Int](numTrees)
    var t = 0
    while (t < numTrees) { out(t) = leafOf(a, t); t += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Exact TreeSHAP φ (nfeat+1 incl. bias) — ref `shap.cc:101-340`. */
  def shapData(a: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(TreeShap.shap(this, a))

  /** SHAP interaction values, (nfeat+1)² flattened row-major. */
  def shapInterData(a: ArrayData): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(TreeShap.interactions(this, a))

  /** Saabas cover-weighted path attribution (nfeat+1 incl. bias), the fast
    * variant of the reference's `approx_contribs`
    * (`include/xgboost/learner.h:111`); sums to the margin by construction. */
  def contribData(a: ArrayData): ArrayData = {
    val out = new Array[Double](numFeatures + 1)
    out(numFeatures) = baseScore(0)
    var t = 0
    while (t < numTrees) {
      val w = treeWeight(t)
      var i = treeRoot(t)
      out(numFeatures) += w * nodeValue(i)
      var f = feature(i)
      while (f >= 0) {
        val v = featAt(a, f)
        val next =
          if (v != v) { if (defaultLeft(i)) left(i) else right(i) }
          else if (catLen(i) > 0) {
            val o = catOff(i)
            if (java.util.Arrays.binarySearch(catVal, o, o + catLen(i), v.toInt) >= 0) right(i)
            else left(i)
          } else if (v <= threshold(i)) left(i)
          else right(i)
        out(f) += w * (nodeValue(next) - nodeValue(i))
        i = next
        f = feature(i)
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object FlatModel {
  def apply(model: BoosterModel): FlatModel = {
    val nNodes = model.trees.iterator.map(_.nodes.length).sum
    val feature = new Array[Int](nNodes)
    val threshold = new Array[Double](nNodes)
    val defaultLeft = new Array[Boolean](nNodes)
    val left = new Array[Int](nNodes)
    val right = new Array[Int](nNodes)
    val leafOff = new Array[Int](nNodes)
    val leafLen = new Array[Int](nNodes)
    val catOff = new Array[Int](nNodes)
    val catLen = new Array[Int](nNodes)
    val leafBuf = new scala.collection.mutable.ArrayBuffer[Double]
    val catBuf = new scala.collection.mutable.ArrayBuffer[Int]
    val treeRoot = new Array[Int](model.trees.length)
    val nodeValue = new Array[Double](nNodes)
    val coverAll = new Array[Double](nNodes)

    var base = 0
    model.trees.zipWithIndex.foreach { case (tree, t) =>
      treeRoot(t) = base
      tree.nodes.zipWithIndex.foreach { case (n, j) =>
        val i = base + j
        feature(i) = n.feature
        threshold(i) = n.threshold
        defaultLeft(i) = n.defaultLeft
        left(i) = if (n.left >= 0) base + n.left else -1
        right(i) = if (n.right >= 0) base + n.right else -1
        leafOff(i) = leafBuf.length
        leafLen(i) = n.leaf.length
        leafBuf ++= n.leaf
        catOff(i) = catBuf.length
        catLen(i) = n.categoriesRight.length
        catBuf ++= n.categoriesRight
      }
      // cover-weighted expected node values for path attribution
      val cover = new Array[Double](tree.nodes.length)
      def fill(j: Int): (Double, Double) = { // (weightedValue, cover)
        val n = tree.nodes(j)
        if (n.isLeaf) {
          cover(j) = math.max(n.sumHess, 1e-16)
          nodeValue(base + j) = if (n.leaf.nonEmpty) n.leaf(0) else 0.0
          (nodeValue(base + j) * cover(j), cover(j))
        } else {
          val (lv, lc) = fill(n.left)
          val (rv, rc) = fill(n.right)
          cover(j) = lc + rc
          nodeValue(base + j) = (lv + rv) / cover(j)
          (lv + rv, cover(j))
        }
      }
      fill(0)
      System.arraycopy(cover, 0, coverAll, base, cover.length)
      base += tree.nodes.length
    }

    // objective only feeds valueOf's scalar predTransform; multi:* models go
    // through softprob/argmax, so identity suffices there
    val obj =
      if (model.objective.startsWith("multi:")) graft.objective.SquaredError
      else Objective(model.objective)
    new FlatModel(feature, threshold, defaultLeft, left, right,
      leafOff, leafLen, leafBuf.toArray, catOff, catLen, catBuf.toArray,
      treeRoot, model.treeWeights, model.treeGroup, model.baseScore,
      model.numGroups, model.numFeatures, obj, nodeValue, coverAll)
  }
}

/** Native Catalyst prediction expression (SURVEY §7.3): a codegen'd tree
  * walk over the [[FlatModel]] reference object, replacing the earlier
  * Seq-boxing Scala UDFs. `doGenCode` emits a direct method call on the
  * flattened arrays — the row stays inside whole-stage codegen, with no
  * serializer round-trip and no per-row allocation beyond the output. */
case class TreePredict(child: Expression, model: FlatModel, mode: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_predict requires array<double> features, got ${other.sql}")
  }

  override def dataType: DataType = mode match {
    case TreePredict.Margin | TreePredict.Softprob | TreePredict.Contrib |
         TreePredict.Shap | TreePredict.ShapInter =>
      ArrayType(DoubleType, containsNull = false)
    case TreePredict.Leaf => ArrayType(IntegerType, containsNull = false)
    case _ => DoubleType
  }

  override def prettyName: String = "graft_predict"

  private def methodName: String = mode match {
    case TreePredict.Margin => "marginData"
    case TreePredict.Value => "valueOf"
    case TreePredict.MarginScalar => "marginScalar"
    case TreePredict.Softprob => "softprobData"
    case TreePredict.Argmax => "argmaxOf"
    case TreePredict.Leaf => "leafData"
    case TreePredict.Contrib => "contribData"
    case TreePredict.Shap => "shapData"
    case TreePredict.ShapInter => "shapInterData"
  }

  protected override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    mode match {
      case TreePredict.Margin => model.marginData(a)
      case TreePredict.Value => model.valueOf(a)
      case TreePredict.MarginScalar => model.marginScalar(a)
      case TreePredict.Softprob => model.softprobData(a)
      case TreePredict.Argmax => model.argmaxOf(a)
      case TreePredict.Leaf => model.leafData(a)
      case TreePredict.Contrib => model.contribData(a)
      case TreePredict.Shap => model.shapData(a)
      case TreePredict.ShapInter => model.shapInterData(a)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("graftModel", model, classOf[FlatModel].getName)
    defineCodeGen(ctx, ev, c => s"$m.$methodName($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): TreePredict =
    copy(child = newChild)
}

object TreePredict {
  val Margin = 0
  val Value = 1
  val Softprob = 2
  val Argmax = 3
  val Leaf = 4
  val Contrib = 5
  val MarginScalar = 6
  val Shap = 7
  val ShapInter = 8
}

/** Sparse-row prediction: features arrive as (sorted indices, parallel
  * values) columns and are NEVER densified — each tree walk binary-searches
  * only the few features on its path, so a 100k-wide one-hot row costs
  * O(depth·trees·log nnz), not O(numFeatures). Same codegen shape as
  * [[TreePredict]]. Modes: Value / MarginScalar / Leaf. */
case class TreePredictSparse(left: Expression, right: Expression,
    model: FlatModel, mode: Int) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_predict_sparse requires (array<int>, array<double>), got (${l.sql}, ${r.sql})")
  }

  override def dataType: DataType = mode match {
    case TreePredict.Margin => ArrayType(DoubleType, containsNull = false)
    case TreePredict.Leaf => ArrayType(IntegerType, containsNull = false)
    case _ => DoubleType
  }

  override def prettyName: String = "graft_predict_sparse"

  private def methodName: String = mode match {
    case TreePredict.Margin => "marginSparseData"
    case TreePredict.Value => "valueOfSparse"
    case TreePredict.MarginScalar => "marginScalarSparse"
    case TreePredict.Leaf => "leafSparseData"
    case m => throw new IllegalArgumentException(s"sparse predict does not support mode $m")
  }

  protected override def nullSafeEval(idx: Any, vals: Any): Any = {
    val i = idx.asInstanceOf[ArrayData]
    val v = vals.asInstanceOf[ArrayData]
    mode match {
      case TreePredict.Margin => model.marginSparseData(i, v)
      case TreePredict.Value => model.valueOfSparse(i, v)
      case TreePredict.MarginScalar => model.marginScalarSparse(i, v)
      case TreePredict.Leaf => model.leafSparseData(i, v)
      case m => throw new IllegalArgumentException(s"sparse predict does not support mode $m")
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("graftModel", model, classOf[FlatModel].getName)
    defineCodeGen(ctx, ev, (i, v) => s"$m.$methodName($i, $v)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TreePredictSparse = copy(left = newLeft, right = newRight)
}
