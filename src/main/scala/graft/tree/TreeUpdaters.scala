package graft.tree

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import graft.model.{BoosterModel, Node, Tree}
import graft.objective.Objective

/** Post-hoc tree updaters: `prune` and `refresh` (ref
  * `src/tree/updater_prune.cc:186`, `src/tree/updater_refresh.cc:153`).
  * Both are structure-preserving model transforms — prune is a pure
  * driver-side walk (the model is small), refresh is one aggregation pass
  * per tree over the data. */
object TreeUpdaters {

  /** Recursively collapse split nodes whose children are both leaves and
    * whose gain < `gamma`, or that sit deeper than `maxDepth` (ref
    * `TryPruneLeaf`/`CollapseToLeaf`, `tree_model.h:205-225`): a collapsed
    * split becomes a leaf with the node's own would-be weight (stored at
    * build time), and newly-formed leaf pairs can collapse further —
    * bottom-up, like the reference's recursive prune. Unreachable nodes
    * are dropped and ids renumbered. */
  def prune(tree: Tree, gamma: Double, maxDepth: Int = Int.MaxValue): Tree = {
    val n = tree.nodes
    // post-order: decide leaf-ness bottom-up
    val isLeafNow = new Array[Boolean](n.length)
    def walk(i: Int, depth: Int): Unit = {
      val node = n(i)
      if (node.isLeaf) { isLeafNow(i) = true; return }
      walk(node.left, depth + 1)
      walk(node.right, depth + 1)
      val bothLeaves = isLeafNow(node.left) && isLeafNow(node.right)
      isLeafNow(i) = bothLeaves && (node.gain < gamma || depth + 1 > maxDepth)
    }
    walk(0, 0)
    // compact: BFS over kept structure, renumbering
    val remap = collection.mutable.Map[Int, Int]()
    val out = collection.mutable.ArrayBuffer[Node]()
    def emit(i: Int): Int = {
      val id = out.length
      remap(i) = id
      val node = n(i)
      if (isLeafNow(i)) {
        val w =
          if (node.isLeaf) node.leaf
          else if (node.leaf.nonEmpty) node.leaf // stored internal weight
          else { // legacy model without internal weights: cover-weighted mean
            val (lv, rv) = (collapsedValue(n, node.left), collapsedValue(n, node.right))
            val (lc, rc) = (n(node.left).sumHess, n(node.right).sumHess)
            Array((lv * lc + rv * rc) / math.max(lc + rc, 1e-16))
          }
        out += Node.makeLeaf(w, node.sumHess)
        id
      } else {
        out += node // placeholder; children patched below
        val l = emit(node.left)
        val r = emit(node.right)
        out(id) = node.copy(left = l, right = r)
        id
      }
    }
    emit(0)
    Tree(out.toArray)
  }

  private def collapsedValue(n: Array[Node], i: Int): Double =
    if (n(i).leaf.nonEmpty) n(i).leaf(0)
    else {
      val l = n(i).left; val r = n(i).right
      (collapsedValue(n, l) * n(l).sumHess + collapsedValue(n, r) * n(r).sumHess) /
        math.max(n(l).sumHess + n(r).sumHess, 1e-16)
    }

  def prune(model: BoosterModel, gamma: Double): BoosterModel =
    model.copy(trees = model.trees.map(prune(_, gamma)))

  /** Recompute node statistics and (optionally) leaf weights on `data`
    * WITHOUT changing tree structure (ref `updater_refresh.cc:153`):
    * sequentially per tree, each row walks its root→leaf path and
    * contributes its weighted (g, h) — at the margin of the trees
    * refreshed so far, the same prequential gradients boosting used — to
    * every node on the path; ONE aggregation of `2·nNodes` doubles per
    * tree, then leaves become `calcWeight(G, H)` and `sumHess`/`gain` are
    * refreshed from the new sums. */
  def refresh(model: BoosterModel, data: RDD[(Array[Double], Double, Double)],
      params: TrainParams, refreshLeaf: Boolean = true): BoosterModel = {
    require(model.numGroups == 1, "refresh supports single-output models")
    val obj = Objective(params.objective, maxDeltaStep = params.maxDeltaStep,
      alpha = params.quantileAlpha, rho = params.tweedieVariancePower,
      delta = params.pseudoHuberSlope)
    val sc = data.sparkContext
    // prequential margin packed with the row (same rework as the trainers'
    // packed prediction cache): one cached RDD[((x, y, w), margin)], no
    // cross-generation zip between the data and a separate margin RDD
    val baseScore = model.baseScore(0)
    var cache: RDD[((Array[Double], Double, Double), Double)] =
      data.map(r => (r, baseScore)).persist(StorageLevel.MEMORY_AND_DISK)
    cache.count()

    val newTrees = model.trees.zipWithIndex.map { case (tree, t) =>
      val bTree = sc.broadcast(tree)
      val nNodes = tree.nodes.length
      val acc = graft.Agg.aggregate(cache)(new Array[Double](2 * nNodes))(
        seqOp = { case (a, ((x, y, w), m)) =>
          val out = new Array[Double](2)
          obj.gradient(m, y, out)
          val g = w * out(0); val h = w * out(1)
          val nodes = bTree.value.nodes
          var i = 0
          var done = false
          while (!done) {
            a(2 * i) += g; a(2 * i + 1) += h
            val node = nodes(i)
            if (node.isLeaf) done = true
            else {
              val v = x(node.feature)
              i = if (java.lang.Double.isNaN(v)) {
                if (node.defaultLeft) node.left else node.right
              } else if (node.isCategorical) {
                if (java.util.Arrays.binarySearch(node.categoriesRight, v.toInt) >= 0)
                  node.right
                else node.left
              } else if (v <= node.threshold) node.left
              else node.right
            }
          }
          a
        },
        combOp = { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })

      val refreshed = Tree(tree.nodes.zipWithIndex.map { case (node, i) =>
        val g = acc(2 * i); val h = acc(2 * i + 1)
        val w = SplitEnumerator.calcWeight(g, h, params,
          Double.NegativeInfinity, Double.PositiveInfinity)
        if (node.isLeaf) {
          if (refreshLeaf) Node.makeLeaf(Array(w), h) else node.copy(sumHess = h)
        } else {
          val gl = acc(2 * node.left); val hl = acc(2 * node.left + 1)
          val gr = acc(2 * node.right); val hr = acc(2 * node.right + 1)
          val gain = SplitEnumerator.calcGain(gl, hl, params) +
            SplitEnumerator.calcGain(gr, hr, params) -
            SplitEnumerator.calcGain(g, h, params)
          node.copy(sumHess = h, gain = gain,
            leaf = if (refreshLeaf) Array(w) else node.leaf)
        }
      })
      bTree.destroy()
      // advance prequential margins with the REFRESHED tree
      val bNew = sc.broadcast((refreshed, model.treeWeights(t)))
      val next = cache.map { case (r, m) =>
        val (tr, tw) = bNew.value
        (r, m + tw * tr.predict(r._1)(0))
      }
      next.persist(StorageLevel.MEMORY_AND_DISK).count()
      cache.unpersist(blocking = false)
      cache = next
      refreshed
    }
    cache.unpersist(blocking = false)
    model.copy(trees = newTrees)
  }
}
