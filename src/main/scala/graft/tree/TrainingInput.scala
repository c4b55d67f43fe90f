package graft.tree

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, NarrowDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import graft.Agg
import graft.data.{Binning, HistogramCuts}

/** The RDDs one fit has persisted and not yet released. `release`
  * unpersists them all; it runs from a `finally`, so a fit that throws
  * leaves nothing persisted behind. */
private[graft] final class Owned {
  private val live = mutable.LinkedHashSet.empty[RDD[_]]

  /** `rdd`, persisted and owned until `unpersist` or `release`. */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    live += rdd
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Releases `rdd` now; an RDD this fit does not own is left alone. */
  def unpersist(rdd: RDD[_]): Unit =
    if (live.remove(rdd)) rdd.unpersist(blocking = false)

  def release(): Unit = {
    live.foreach(_.unpersist(blocking = false))
    live.clear()
  }
}

private[graft] object Owned {
  /** `f` with a fresh [[Owned]], released when `f` returns or throws. */
  def apply[R](f: Owned => R): R = {
    val owned = new Owned
    try f(owned) finally owned.release()
  }
}

/** The binned input of one fit, as [[TrainingInput.prepare]] hands it to
  * the trainer: the persisted cache of binned rows, their cuts, and `bin`,
  * which lays out another row set (an eval watch) at the partition floor
  * and bins it with the same cuts into a cache released with `binned`. */
private[tree] final case class Prepared[T, B](
    binned: RDD[B], cuts: HistogramCuts, bin: RDD[T] => RDD[B])

/** The one training-input path of the tree trainers: the reference's
  * `DMatrix::Create` → `GHistIndexMatrix` (sketch → cuts → bin,
  * `src/common/hist_util.cc:53`). Every [[GBTTrainer]] entry point and
  * [[MultiTargetTrainer]] goes through [[prepare]], supplying only its
  * row → binned-row mapping. It
  *  1. lays the rows out: lifted to the `minTrainPartitions` floor, or
  *     co-partitioned by query id for ranking;
  *  2. computes the cuts over the laid-out rows;
  *  3. bins them into one persisted cache in a single `zipWithUniqueId`
  *     pass (the ids seed per-row subsampling);
  *  4. runs the trainer on that cache, and releases everything it
  *     persisted when the trainer returns or throws.
  *
  * Persistence is decided here and nowhere else. The laid-out rows are
  * read twice, by the sketch and by the binning pass, so a copy of them is
  * persisted only when the second read would go back to the source
  * ([[rereadsSource]]), and released as soon as the binned cache is
  * counted. A trainer persists only RDDs it created: a caller's cache keeps
  * its storage level and stays persisted. Any normalization of the input
  * partitioning (fixed virtual shards, say) belongs in the layout step.
  */
private[graft] object TrainingInput {

  /** True when reading `rdd` again would recompute it from its source:
    * walking its narrow dependencies reaches a source before any persisted
    * or checkpointed RDD, or any shuffle (a re-read fetches the map
    * outputs). */
  def rereadsSource(rdd: RDD[_]): Boolean = {
    val seen = mutable.HashSet.empty[Int]
    def walk(r: RDD[_]): Boolean =
      seen.add(r.id) && r.getStorageLevel == StorageLevel.NONE && !r.isCheckpointed &&
        (r.dependencies.isEmpty || r.dependencies.exists {
          case n: NarrowDependency[_] => walk(n.rdd)
          case _ => false
        })
    walk(rdd)
  }

  /** `f` over `rows`, or over a persisted copy of them, released when `f`
    * returns or throws. Rows read twice get the copy when the second read
    * would go back to the source. Rows read `everyRound` get it unless the
    * caller persisted them: per-round work after a shuffle (row decoding,
    * featurizing) must not repeat each round. */
  def withRereadable[T: ClassTag, R](rows: RDD[T], everyRound: Boolean = false)(
      f: RDD[T] => R): R = {
    val copy =
      if (everyRound) rows.getStorageLevel == StorageLevel.NONE
      else rereadsSource(rows)
    if (!copy) f(rows)
    else Owned(owned => f(owned.persist(rows.map(identity))))
  }

  /** The rows lifted to the training parallelism floor — −1: the default
    * parallelism, 0: never, n: n partitions. A single parquet file would
    * otherwise train on 1-3 tasks; the one shuffle is reused by every
    * pass. */
  def atFloor[T: ClassTag](data: RDD[T], params: TrainParams): RDD[T] = {
    val target = params.minTrainPartitions match {
      case -1 => data.sparkContext.defaultParallelism
      case n => n
    }
    if (target > data.getNumPartitions) data.repartition(target) else data
  }

  /** rank:* layout: hash-partitioned by query id (the reference Spark
    * layer's `sortPartitionIfNeeded`, `XGBoostEstimator.scala:142-144`),
    * so every per-round λ pass walks whole groups without a shuffle. The
    * partitioning shuffle is also the spreading one: only its partition
    * count takes the floor. */
  private def byQid[T: ClassTag](data: RDD[T], params: TrainParams, qid: T => Long): RDD[T] = {
    val n = params.minTrainPartitions match {
      case -1 => math.max(data.getNumPartitions, data.sparkContext.defaultParallelism)
      case 0 => math.max(data.getNumPartitions, 1)
      case n => math.max(n, 1)
    }
    data.map(r => (qid(r), r)).partitionBy(new HashPartitioner(n)).values
  }

  /** Lays out `data`, cuts it with `cutsOf`, bins it with `binRow` (row,
    * cuts, unique row id) into a persisted, counted cache, and runs
    * `train` on it. `qid` set ⇒ the ranking layout, with rows in query-id
    * order within each partition of the cache. Everything persisted here
    * is released when `train` returns or throws. */
  def prepare[T: ClassTag, B: ClassTag, R](params: TrainParams, data: RDD[T])(
      cutsOf: RDD[T] => HistogramCuts, binRow: (T, HistogramCuts, Long) => B,
      qid: T => Long = null)(train: Prepared[T, B] => R): R = Owned { owned =>
    def bin(rows: RDD[T], cuts: HistogramCuts): RDD[B] = {
      val b = owned.persist(rows.zipWithUniqueId().map { case (r, id) => binRow(r, cuts, id) })
      b.count()
      b
    }
    val laidOut = if (qid == null) atFloor(data, params) else byQid(data, params, qid)
    val (binned, cuts) = withRereadable(laidOut) { rows =>
      val cuts = cutsOf(rows)
      // the sketch needs no order: the in-partition qid sort runs once,
      // fused into the binning pass
      val ordered =
        if (qid == null) rows
        else rows.mapPartitions(it => it.toArray.sortBy(qid).iterator, preservesPartitioning = true)
      (bin(ordered, cuts), cuts)
    }
    train(Prepared[T, B](binned, cuts, rows => bin(atFloor(rows, params), cuts)))
  }

  /** Cuts of dense (features, weight) rows for `params`: tree_method=exact
    * gives every distinct value its own bin, so the bin-space scan is the
    * exact greedy scan (`Binning.findCutsExact`); otherwise the weighted
    * quantile sketch, with identity bins over the integer codes of
    * `params.catFeatures`. The column count is unified inside the sketch
    * pass (ref `MetaInfo::SynchronizeNumberOfColumns`,
    * `include/xgboost/data.h:191`). */
  def denseCuts(params: TrainParams, rows: RDD[(Array[Double], Double)]): HistogramCuts =
    if (params.treeMethod == "exact") Binning.findCutsExact(rows, 0)
    else {
      val base = Binning.findCuts(rows, 0, params.maxBin)
      if (params.catFeatures.isEmpty) base
      else HistogramCuts(base.cuts.zipWithIndex.map { case (c, f) =>
        if (!params.catFeatures.contains(f)) c
        else Array.tabulate(math.max(0, c.last.toInt) + 1)(_.toDouble)
      })
    }

  /** The tree-size limits, bounded below by 0 as in the reference
    * (`max_depth`, `max_leaves`, `src/tree/param.h`); both tree trainers
    * check them before any work. */
  def requireTreeLimits(params: TrainParams): Unit = {
    require(params.maxDepth >= 0, s"maxDepth must be >= 0, got ${params.maxDepth}")
    require(params.maxLeaves >= 0, s"maxLeaves must be >= 0, got ${params.maxLeaves}")
  }

  /** The weighted label sums the base score needs, and the widest row. */
  final case class InputStats(sumWy: Double, sumW: Double, width: Int)

  /** The fail-fast input check (ref `CheckLabel` per objective plus
    * `MetaInfo::Validate`, `include/xgboost/data.h:127`) fused with the
    * base-score statistics in one pass; the error carries the violation
    * count like the reference's CHECK messages. */
  def validate[T](rows: RDD[T], objective: String)(labelOk: T => Boolean,
      label: T => Double, weight: T => Double, width: T => Int): InputStats = {
    val (n, badLabels, badWeights, sumWy, sumW, maxWidth) =
      Agg.aggregate(rows)((0L, 0L, 0L, 0.0, 0.0, 0))(
        { case ((n, bl, bw, wy, sw, nf), r) =>
          val w = weight(r)
          (n + 1, if (labelOk(r)) bl else bl + 1, if (w >= 0 && !w.isNaN) bw else bw + 1,
            wy + w * label(r), sw + w, math.max(nf, width(r)))
        },
        { case ((a0, a1, a2, a3, a4, a5), (b0, b1, b2, b3, b4, b5)) =>
          (a0 + b0, a1 + b1, a2 + b2, a3 + b3, a4 + b4, math.max(a5, b5)) })
    if (n == 0)
      throw new IllegalArgumentException("cannot train on an empty dataset (0 rows)")
    if (badLabels > 0)
      throw new IllegalArgumentException(
        s"$badLabels label(s) violate the $objective label constraints")
    if (badWeights > 0)
      throw new IllegalArgumentException(s"$badWeights instance weight(s) are negative or NaN")
    InputStats(sumWy, sumW, maxWidth)
  }
}
