package graft.model

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Interop with the reference's native JSON model format (the schema
  * written by `Learner::SaveModel` — `src/learner.cc:955-985`, trees
  * `src/tree/tree_model.cc:1226` with the field names of
  * `src/tree/io_utils.h:50-63`, booster layout
  * `src/gbm/gbtree_model.cc:51-85`). A user switching engines can load an
  * existing xgboost-trained model here (`fromXGBoostJson`) and score it
  * with the codegen predictors, or export a graft-trained booster for the
  * reference runtime (`toXGBoostJson`).
  *
  * Split-comparison semantics: the reference routes LEFT on
  * `value < split_condition`; graft routes LEFT on `value <= threshold`.
  * Importing uses `threshold = nextDown(cond)` in double space
  * (v <= nextDown(c) ⟺ v < c — exact, since no float32 value can equal
  * the double-ulp predecessor of a float32 condition). Exporting must
  * account for the reference parsing `split_condition` into float32
  * (`tree_model.cc` LoadModelImpl), which would round a double-space
  * `nextUp(T)` back to T: we emit the smallest FLOAT32 strictly greater
  * than the threshold, so `v <= T` (graft) ⟺ `v < cond` (reference) holds
  * exactly for every float32 feature value v — which is all of them, the
  * reference casts features to float32 at ingestion. Caveat only if graft
  * is fed double features that are not float32-representable.
  *
  * Scope: gbtree and dart boosters with scalar-leaf trees (including
  * one-tree-per-class multiclass via `tree_info`), numerical AND
  * categorical splits (the `SaveCategoricalSplit` side arrays, r7 — the
  * flat `categories` list is the right-routed set, matching
  * `Node.categoriesRight`). `multi_strategy=multi_output_tree` layouts
  * raise a descriptive error rather than mis-importing.
  */
object XGBoostJson {
  private implicit val fmt: Formats = DefaultFormats

  // ---- import --------------------------------------------------------------

  def fromXGBoostJson(s: String): BoosterModel = fromParsed(JsonMethods.parse(s))

  /** Shared import path for the text-JSON and UBJSON ([[Ubjson]]) carriers
    * — both serialize the same `Learner::SaveModel` document. */
  private[model] def fromParsed(j: JValue): BoosterModel = {
    val learner = j \ "learner"
    require(learner != JNothing, "not an xgboost model JSON: missing 'learner'")
    val lmp = learner \ "learner_model_param"
    def lmpStr(k: String, dflt: String): String =
      (lmp \ k) match { case JString(v) => v; case _ => dflt }
    val numFeatures = lmpStr("num_feature", "0").toInt
    val numClass = lmpStr("num_class", "0").toInt
    val numTarget = lmpStr("num_target", "1").toInt
    require(numTarget <= 1 || numClass <= 1,
      s"num_target=$numTarget with num_class=$numClass is not a valid layout")
    // multi-target (multi_strategy=multi_output_tree): vector-leaf trees of
    // group 0, one leaf lane per target — the layout GBTTrainer grows for
    // MultiTargetTrainer
    val numGroups = math.max(math.max(numClass, numTarget), 1)

    val objName = (learner \ "objective" \ "name") match {
      case JString(n) => n
      case _ => "reg:squarederror"
    }

    val gb = learner \ "gradient_booster"
    val boosterName = (gb \ "name").extract[String]
    require(boosterName == "gbtree" || boosterName == "dart",
      s"unsupported booster '$boosterName' (gbtree/dart only; gblinear models " +
        "have no trees to import)")
    // dart nests the gbtree payload one level down (gbtree.cc:451)
    val model = if (boosterName == "dart") gb \ "gbtree" \ "model" else gb \ "model"
    require(model != JNothing, "malformed model: missing gradient_booster model")

    val treesJson = (model \ "trees").extract[List[JValue]]
    val treeInfo = (model \ "tree_info").extract[List[Int]].toArray
    val weightDrop = (model \ "weight_drop") match {
      case JArray(ws) => ws.map(_.extract[Double]).toArray
      case _ => Array.empty[Double]
    }

    val trees = treesJson.map(parseTree).toArray
    if (numTarget > 1)
      require(trees.forall(_.nodes.forall(n => !n.isLeaf || n.leaf.length == numTarget)),
        s"num_target=$numTarget but the trees are not multi-target layout " +
          "(missing/mis-sized leaf_weights) — malformed model")
    val treeWeights =
      if (weightDrop.nonEmpty) {
        require(weightDrop.length == trees.length, "weight_drop/trees length mismatch")
        weightDrop
      } else Array.fill(trees.length)(1.0)

    // base_score is stored in the objective's OUTPUT space; the margin the
    // trees start from is ProbToMargin(base_score) (learner.cc:152). The
    // post-3.1 ParamArray form carries one value per output lane.
    val bsAll = parseBaseScores(lmpStr("base_score", "0.5"))
    def toMargin(v: Double): Double =
      try graft.objective.Objective(objName).probToMargin(v)
      catch { case _: Throwable => v } // unknown objective: take it as margin
    val baseMargins =
      if (bsAll.length == numGroups) bsAll.map(toMargin)
      else Array.fill(numGroups)(toMargin(bsAll(0)))

    BoosterModel(trees, treeWeights,
      if (treeInfo.length == trees.length) treeInfo else new Array[Int](trees.length),
      baseMargins, objName, numGroups, numFeatures,
      featureNames = strArray(learner \ "feature_names"),
      featureTypes = strArray(learner \ "feature_types"))
  }

  /** learner.feature_names / feature_types (`src/learner.cc:694-696`):
    * string arrays, possibly absent or empty. */
  private def strArray(v: JValue): Array[String] = v match {
    case JArray(xs) => xs.collect { case JString(x) => x }.toArray
    case _ => Array.empty
  }

  /** `base_score` is a plain scalar string pre-3.1 ("5E-1") but a
    * bracketed ParamArray string since 3.1 ("[5E-1]", one value per
    * output group — `src/common/param_array.cc` WriteStream); accept both
    * and take the first element as the scalar score. */
  private[graft] def parseBaseScore(raw: String): Double = parseBaseScores(raw)(0)

  /** All base_score lanes (ParamArray since 3.1 — one per output). */
  private[graft] def parseBaseScores(raw: String): Array[Double] = {
    val s = raw.trim.stripPrefix("[").stripPrefix("(").stripSuffix("]").stripSuffix(")")
    val vals = s.split(',').map(_.trim).filter(_.nonEmpty)
    require(vals.nonEmpty, s"empty base_score '$raw'")
    vals.map(_.toDouble)
  }

  /** Smallest float32 strictly greater than t (as a double). Used for
    * export: the reference parses split_condition into float32, so the
    * successor must be taken in float32 space — a double-space nextUp
    * would round back to t for any float-representable t. */
  private[graft] def float32Successor(t: Double): Double = {
    val f = t.toFloat
    if (f.toDouble > t) f.toDouble else Math.nextUp(f).toDouble
  }

  private def parseTree(tj: JValue): Tree = {
    // multi-target layout (MultiTargetTree::SaveModel,
    // multi_target_tree_model.cc:348): same field names, but leaves store
    // their K-vector in `leaf_weights` indexed by the leaf ordinal that
    // sits in the leaf's right_children slot (LeafIdx = RightChild,
    // multi_target_tree_model.h:114); `base_weights` is n_nodes×K internal
    // weight vectors; leaf-ness is left_children == -1
    (tj \ "leaf_weights") match {
      case JArray(lw) if lw.nonEmpty => return parseMultiTargetTree(tj)
      case _ =>
    }
    def ints(k: String): Array[Int] = (tj \ k).extract[List[Int]].toArray
    def nums(k: String): Array[Double] = (tj \ k) match {
      case JArray(vs) => vs.map {
        case JDouble(d) => d
        case JInt(i) => i.toDouble
        case JDecimal(d) => d.toDouble
        case other => throw new IllegalArgumentException(s"bad number in $k: $other")
      }.toArray
      case _ => throw new IllegalArgumentException(s"missing tree array '$k'")
    }
    val lefts = ints("left_children")
    val rights = ints("right_children")
    val splitIdx = ints("split_indices")
    val conds = nums("split_conditions")
    val dftLeft = nums("default_left").map(_ != 0.0)
    val sumHess = nums("sum_hessian")
    val lossChg = nums("loss_changes")
    val n = lefts.length
    require(Seq(rights, splitIdx, conds, dftLeft, sumHess, lossChg).forall(_.length == n),
      "inconsistent tree array lengths")
    // categorical splits (RegTree::SaveCategoricalSplit, tree_model.cc:1043):
    // categories_nodes lists the categorical node ids; categories_segments/
    // sizes index the flat ascending `categories` list. The listed set is
    // the RIGHT-routed partition: the reference's Decision() sends
    // NOT-in-set LEFT (categorical GetDecision, predict_fn.h:18-20), the
    // same contract as our Node.categoriesRight.
    val catsByNode: Map[Int, Array[Int]] = (tj \ "categories_nodes") match {
      case JArray(cn) if cn.nonEmpty =>
        val catNodes = ints("categories_nodes")
        val segs = ints("categories_segments")
        val sizes = ints("categories_sizes")
        val flat = ints("categories")
        require(segs.length == catNodes.length && sizes.length == catNodes.length,
          "inconsistent categorical split arrays")
        catNodes.indices.map { k =>
          catNodes(k) -> java.util.Arrays.copyOfRange(flat, segs(k), segs(k) + sizes(k))
        }.toMap
      case _ => Map.empty
    }
    Tree(Array.tabulate(n) { i =>
      if (lefts(i) == -1) // leaf: split_conditions holds the leaf value
        Node(feature = -1, threshold = 0.0, defaultLeft = true, left = -1, right = -1,
          leaf = Array(conds(i)), gain = lossChg(i), sumHess = sumHess(i),
          categoriesRight = Array.empty)
      else catsByNode.get(i) match {
        case Some(cats) => // categorical: split_conditions value is unused
          Node(feature = splitIdx(i), threshold = 0.0,
            defaultLeft = dftLeft(i), left = lefts(i), right = rights(i),
            leaf = Array.empty, gain = lossChg(i), sumHess = sumHess(i),
            categoriesRight = cats)
        case None =>
          Node(feature = splitIdx(i),
            // ref routes left on v < cond; ours on v <= threshold — exact in doubles
            threshold = Math.nextDown(conds(i)),
            defaultLeft = dftLeft(i), left = lefts(i), right = rights(i),
            leaf = Array.empty, gain = lossChg(i), sumHess = sumHess(i),
            categoriesRight = Array.empty)
      }
    })
  }

  private def parseMultiTargetTree(tj: JValue): Tree = {
    def ints(k: String): Array[Int] = (tj \ k).extract[List[Int]].toArray
    def nums(k: String): Array[Double] = (tj \ k).extract[List[Double]].toArray
    val lefts = ints("left_children")
    val rights = ints("right_children")
    val splitIdx = ints("split_indices")
    val conds = nums("split_conditions")
    val dftLeft = nums("default_left").map(_ != 0.0)
    val sumHess = nums("sum_hessian")
    val lossChg = nums("loss_changes")
    val baseW = nums("base_weights")
    val leafW = nums("leaf_weights")
    val n = lefts.length
    require(n > 0 && baseW.length % n == 0, "malformed multi-target tree arrays")
    val k = baseW.length / n
    Tree(Array.tabulate(n) { i =>
      if (lefts(i) == -1) // leaf: right_children holds the leaf ordinal
        Node(feature = -1, threshold = 0.0, defaultLeft = true, left = -1, right = -1,
          leaf = java.util.Arrays.copyOfRange(leafW, rights(i) * k, (rights(i) + 1) * k),
          gain = lossChg(i), sumHess = sumHess(i), categoriesRight = Array.empty)
      else
        Node(feature = splitIdx(i), threshold = Math.nextDown(conds(i)),
          defaultLeft = dftLeft(i), left = lefts(i), right = rights(i),
          // internal K-vector weight (prune-collapse target)
          leaf = java.util.Arrays.copyOfRange(baseW, i * k, (i + 1) * k),
          gain = lossChg(i), sumHess = sumHess(i), categoriesRight = Array.empty)
    })
  }

  // ---- export --------------------------------------------------------------

  def toXGBoostJson(m: BoosterModel): String = {
    // vector-leaf ensembles use the reference's MultiTargetTree layout
    if (m.trees.exists(_.nodes.exists(n => n.isLeaf && n.leaf.length > 1)))
      return toXGBoostJsonMultiTarget(m)

    val treesJson = m.trees.zipWithIndex.map { case (t, ti) =>
      val n = t.nodes.length
      val parents = Array.fill(n)(-1)
      t.nodes.zipWithIndex.foreach { case (node, i) =>
        if (!node.isLeaf) { parents(node.left) = i; parents(node.right) = i }
      }
      // categorical splits → the SaveCategoricalSplit layout (ascending
      // node ids; categoriesRight IS the reference's right-routed set)
      val catNodes = t.nodes.zipWithIndex
        .filter { case (node, _) => !node.isLeaf && node.isCategorical }
      val catSegments = catNodes.scanLeft(0) { case (off, (node, _)) =>
        off + node.categoriesRight.length
      }.init
      val w = m.treeWeights(ti) // fold the tree weight into the leaf values
      JObject(
        "tree_param" -> JObject(
          "num_nodes" -> JString(n.toString),
          "num_feature" -> JString(m.numFeatures.toString),
          "size_leaf_vector" -> JString("1")),
        "id" -> JInt(ti),
        "loss_changes" -> JArray(t.nodes.map(x => JDouble(x.gain)).toList),
        "sum_hessian" -> JArray(t.nodes.map(x => JDouble(x.sumHess)).toList),
        "base_weights" -> JArray(t.nodes.map(x =>
          JDouble(if (x.isLeaf) x.leaf(0) * w else 0.0)).toList),
        "left_children" -> JArray(t.nodes.map(x => JInt(if (x.isLeaf) -1 else x.left)).toList),
        "right_children" -> JArray(t.nodes.map(x => JInt(if (x.isLeaf) -1 else x.right)).toList),
        "parents" -> JArray(parents.map(p => JInt(BigInt(p))).toList),
        "split_indices" -> JArray(t.nodes.map(x =>
          JInt(BigInt(if (x.isLeaf) 0 else x.feature))).toList),
        "split_conditions" -> JArray(t.nodes.map(x =>
          JDouble(if (x.isLeaf) x.leaf(0) * w
          else if (x.isCategorical) 0.0 // unused on the categorical path
          else float32Successor(x.threshold))).toList),
        "default_left" -> JArray(t.nodes.map(x =>
          JInt(if (!x.isLeaf && x.defaultLeft) 1 else 0)).toList),
        "split_type" -> JArray(t.nodes.map(x =>
          JInt(if (!x.isLeaf && x.isCategorical) 1 else 0)).toList),
        "categories" -> JArray(catNodes.flatMap(_._1.categoriesRight)
          .map(c => JInt(BigInt(c))).toList),
        "categories_nodes" -> JArray(catNodes.map(p => JInt(BigInt(p._2))).toList),
        "categories_segments" -> JArray(catSegments.map(s => JInt(BigInt(s))).toList),
        "categories_sizes" -> JArray(catNodes.map(p =>
          JInt(BigInt(p._1.categoriesRight.length))).toList))
    }
    val iters = if (m.numGroups > 0) m.trees.length / math.max(m.numGroups, 1) else m.trees.length
    val indptr = (0 to math.max(iters, 0)).map(i => JInt(BigInt(i * math.max(m.numGroups, 1))))
    val root = JObject(
      "version" -> JArray(List(JInt(3), JInt(0), JInt(0))),
      "learner" -> JObject(
        "learner_model_param" -> JObject(
          "base_score" -> JString(marginToOutput(m.objective, m.baseScore(0)).toString),
          "num_feature" -> JString(m.numFeatures.toString),
          "num_class" -> JString((if (m.numGroups > 1) m.numGroups else 0).toString),
          "num_target" -> JString("1"),
          "boost_from_average" -> JString("1")),
        "gradient_booster" -> JObject(
          "name" -> JString("gbtree"),
          "model" -> JObject(
            "gbtree_model_param" -> JObject(
              "num_trees" -> JString(m.trees.length.toString),
              "num_parallel_tree" -> JString("1")),
            "trees" -> JArray(treesJson.toList),
            "tree_info" -> JArray(m.treeGroup.map(g => JInt(BigInt(g))).toList),
            "iteration_indptr" -> JArray(indptr.toList))),
        "objective" -> JObject("name" -> JString(m.objective)),
        "attributes" -> JObject(),
        "feature_names" -> JArray(m.featureNames.map(JString(_)).toList),
        "feature_types" -> JArray(m.featureTypes.map(JString(_)).toList)))
    JsonMethods.compact(JsonMethods.render(root))
  }

  /** Export a vector-leaf (multi-target) booster in the reference's
    * `MultiTargetTree::SaveModel` layout (multi_target_tree_model.cc:348):
    * a leaf's `right_children` slot holds its leaf ordinal into the
    * `leaf_weights` (n_leaves×K) array; `base_weights` carries every
    * node's K-vector weight; `num_target` = K on the learner. Tree
    * weights (eta) are folded into the emitted weights like the scalar
    * export. */
  private def toXGBoostJsonMultiTarget(m: BoosterModel): String = {
    val K = m.numGroups
    require(m.trees.forall(_.nodes.forall(n => n.leaf.isEmpty || n.leaf.length == K)),
      s"vector-leaf export needs every node weight to carry $K lanes")
    require(m.trees.forall(_.nodes.forall(n => n.isLeaf || !n.isCategorical)),
      "categorical multi-target export is not part of the reference layout")
    val treesJson = m.trees.zipWithIndex.map { case (t, ti) =>
      val n = t.nodes.length
      val w = m.treeWeights(ti)
      val parents = Array.fill(n)(-1)
      t.nodes.zipWithIndex.foreach { case (node, i) =>
        if (!node.isLeaf) { parents(node.left) = i; parents(node.right) = i }
      }
      // leaf ordinals in node-index order; LeafIdx rides in right_children
      var ord = -1
      val leafOrd = t.nodes.map(nd => if (nd.isLeaf) { ord += 1; ord } else -1)
      val leafWeights = new Array[Double]((ord + 1) * K)
      t.nodes.zipWithIndex.foreach { case (nd, i) =>
        if (nd.isLeaf) {
          var j = 0
          while (j < K) { leafWeights(leafOrd(i) * K + j) = nd.leaf(j) * w; j += 1 }
        }
      }
      val baseWeights = t.nodes.flatMap(nd =>
        if (nd.leaf.length == K) nd.leaf.map(_ * w) else new Array[Double](K))
      JObject(
        "tree_param" -> JObject(
          "num_nodes" -> JString(n.toString),
          "num_feature" -> JString(m.numFeatures.toString),
          "size_leaf_vector" -> JString(K.toString)),
        "id" -> JInt(ti),
        "loss_changes" -> JArray(t.nodes.map(x => JDouble(x.gain)).toList),
        "sum_hessian" -> JArray(t.nodes.map(x => JDouble(x.sumHess)).toList),
        "base_weights" -> JArray(baseWeights.map(JDouble(_)).toList),
        "leaf_weights" -> JArray(leafWeights.map(JDouble(_)).toList),
        "left_children" -> JArray(t.nodes.map(x => JInt(if (x.isLeaf) -1 else x.left)).toList),
        "right_children" -> JArray(t.nodes.zipWithIndex.map { case (x, i) =>
          JInt(if (x.isLeaf) leafOrd(i) else x.right) }.toList),
        "parents" -> JArray(parents.map(p => JInt(BigInt(p))).toList),
        "split_indices" -> JArray(t.nodes.map(x =>
          JInt(BigInt(if (x.isLeaf) 0 else x.feature))).toList),
        "split_conditions" -> JArray(t.nodes.map(x =>
          JDouble(if (x.isLeaf) 0.0 else float32Successor(x.threshold))).toList),
        "default_left" -> JArray(t.nodes.map(x =>
          JInt(if (!x.isLeaf && x.defaultLeft) 1 else 0)).toList))
    }
    val bs = m.baseScore.map(v => marginToOutput(m.objective, v))
    val root = JObject(
      "version" -> JArray(List(JInt(3), JInt(0), JInt(0))),
      "learner" -> JObject(
        "learner_model_param" -> JObject(
          "base_score" -> JString(bs.mkString("[", ",", "]")),
          "num_feature" -> JString(m.numFeatures.toString),
          "num_class" -> JString("0"),
          "num_target" -> JString(K.toString),
          "boost_from_average" -> JString("1")),
        "gradient_booster" -> JObject(
          "name" -> JString("gbtree"),
          "model" -> JObject(
            "gbtree_model_param" -> JObject(
              "num_trees" -> JString(m.trees.length.toString),
              "num_parallel_tree" -> JString("1")),
            "trees" -> JArray(treesJson.toList),
            "tree_info" -> JArray(m.treeGroup.map(g => JInt(BigInt(g))).toList),
            "iteration_indptr" -> JArray((0 to m.trees.length).map(i => JInt(BigInt(i))).toList))),
        "objective" -> JObject("name" -> JString(m.objective)),
        "attributes" -> JObject(),
        "feature_names" -> JArray(m.featureNames.map(JString(_)).toList),
        "feature_types" -> JArray(m.featureTypes.map(JString(_)).toList)))
    JsonMethods.compact(JsonMethods.render(root))
  }

  /** Inverse of the objective link for base_score export (the reference
    * stores base_score in output space and re-applies ProbToMargin on
    * load). */
  private def marginToOutput(objective: String, margin: Double): Double = objective match {
    case "binary:logistic" | "reg:logistic" => 1.0 / (1.0 + math.exp(-margin))
    case "count:poisson" | "reg:gamma" | "reg:tweedie" => math.exp(margin)
    case _ => margin
  }

  // ---- gblinear ------------------------------------------------------------

  /** Import a reference gblinear model (`src/gbm/gblinear_model.cc:10-18`:
    * one flat `weights` array laid out `[feature × group]` with the bias
    * appended; single output group supported here). */
  def linearFromXGBoostJson(s: String): graft.linear.LinearModel =
    linearFromParsed(JsonMethods.parse(s))

  private[model] def linearFromParsed(j: JValue): graft.linear.LinearModel = {
    val learner = j \ "learner"
    require(learner != JNothing, "not an xgboost model JSON: missing 'learner'")
    val gb = learner \ "gradient_booster"
    require((gb \ "name").extract[String] == "gblinear",
      "not a gblinear model; use fromXGBoostJson for tree boosters")
    val lmp = learner \ "learner_model_param"
    def lmpStr(k: String, dflt: String): String =
      (lmp \ k) match { case JString(v) => v; case _ => dflt }
    val nf = lmpStr("num_feature", "0").toInt
    val numClass = lmpStr("num_class", "0").toInt
    require(numClass <= 1, s"multiclass gblinear (num_class=$numClass): " +
      "use linearMultiFromXGBoostJson / Ubjson.linearMultiFromXGBoostUbj")
    val objName = (learner \ "objective" \ "name") match {
      case JString(n) => n
      case _ => "reg:squarederror"
    }
    val all = (gb \ "model" \ "weights").extract[List[Double]].toArray
    require(all.length == nf + 1,
      s"weights length ${all.length} != num_feature $nf + 1 bias")
    val bs = parseBaseScore(lmpStr("base_score", "0.5"))
    val baseMargin =
      try graft.objective.Objective(objName).probToMargin(bs)
      catch { case _: Throwable => bs }
    graft.linear.LinearModel(all.take(nf), all(nf), baseMargin, objName, nf)
  }

  /** Import a MULTICLASS reference gblinear model: the flat `weights`
    * array is laid out `weight[fid·K + gid]` with the K per-group biases
    * appended (`src/gbm/gblinear_model.h` layout), K = num_class. */
  def linearMultiFromXGBoostJson(s: String): graft.linear.MultiLinearModel =
    linearMultiFromParsed(JsonMethods.parse(s))

  private[model] def linearMultiFromParsed(j: JValue): graft.linear.MultiLinearModel = {
    val learner = j \ "learner"
    require(learner != JNothing, "not an xgboost model JSON: missing 'learner'")
    val gb = learner \ "gradient_booster"
    require((gb \ "name").extract[String] == "gblinear", "not a gblinear model")
    val lmp = learner \ "learner_model_param"
    def lmpStr(k: String, dflt: String): String =
      (lmp \ k) match { case JString(v) => v; case _ => dflt }
    val nf = lmpStr("num_feature", "0").toInt
    val numClass = lmpStr("num_class", "0").toInt
    require(numClass >= 2, s"num_class=$numClass is not a multiclass gblinear model")
    val objName = (learner \ "objective" \ "name") match {
      case JString(n) => n
      case _ => "multi:softprob"
    }
    val all = (gb \ "model" \ "weights").extract[List[Double]].toArray
    require(all.length == (nf + 1) * numClass,
      s"weights length ${all.length} != (num_feature $nf + 1) * num_class $numClass")
    val weights = Array.tabulate(numClass)(k => Array.tabulate(nf)(f => all(f * numClass + k)))
    val bias = Array.tabulate(numClass)(k => all(nf * numClass + k))
    graft.linear.MultiLinearModel(weights, bias, new Array[Double](numClass), objName, nf)
  }

  /** Export a multiclass gblinear model in the reference layout. */
  def toXGBoostJson(lm: graft.linear.MultiLinearModel): String = {
    val K = lm.numClass
    val flat = Array.tabulate((lm.numFeatures + 1) * K) { i =>
      val f = i / K; val k = i % K
      if (f < lm.numFeatures) lm.weights(k)(f) else lm.bias(k)
    }
    val root = JObject(
      "version" -> JArray(List(JInt(3), JInt(0), JInt(0))),
      "learner" -> JObject(
        "learner_model_param" -> JObject(
          "base_score" -> JString("5E-1"),
          "num_feature" -> JString(lm.numFeatures.toString),
          "num_class" -> JString(K.toString),
          "num_target" -> JString("1")),
        "gradient_booster" -> JObject(
          "name" -> JString("gblinear"),
          "model" -> JObject(
            "weights" -> JArray(flat.map(JDouble(_)).toList),
            "boosted_rounds" -> JInt(1))),
        "objective" -> JObject("name" -> JString(lm.objective)),
        "attributes" -> JObject(),
        "feature_names" -> JArray(Nil),
        "feature_types" -> JArray(Nil)))
    JsonMethods.compact(JsonMethods.render(root))
  }

  /** Export a graft gblinear model in the reference schema. */
  def toXGBoostJson(lm: graft.linear.LinearModel): String = {
    val root = JObject(
      "version" -> JArray(List(JInt(3), JInt(0), JInt(0))),
      "learner" -> JObject(
        "learner_model_param" -> JObject(
          "base_score" -> JString(marginToOutput(lm.objective, lm.baseScore).toString),
          "num_feature" -> JString(lm.numFeatures.toString),
          "num_class" -> JString("0"),
          "num_target" -> JString("1")),
        "gradient_booster" -> JObject(
          "name" -> JString("gblinear"),
          "model" -> JObject(
            "weights" -> JArray((lm.weights :+ lm.bias).map(JDouble(_)).toList),
            "boosted_rounds" -> JInt(1))),
        "objective" -> JObject("name" -> JString(lm.objective)),
        "attributes" -> JObject(),
        "feature_names" -> JArray(Nil),
        "feature_types" -> JArray(Nil)))
    JsonMethods.compact(JsonMethods.render(root))
  }
}
