package graft

import org.apache.spark.{SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD

import scala.reflect.ClassTag

/** Aggregations that end at the driver: the reference's histogram
  * allreduce is a binomial tree over workers
  * (`src/collective/allreduce.h:27`).
  *
  * Under the cutoff every aggregation is ONE `SparkContext.runJob`: each
  * task folds its partition, and the driver merges the partials as they
  * arrive. That is depth-1 `treeAggregate`/`treeReduce` with the same
  * combine algebra (below), so results are bit-identical, minus a fixed
  * driver cost. `treeAggregate` reaches `runJob` through `mapPartitions`
  * and `fold`, and Spark's `ClosureCleaner` reads the whole bytecode of the
  * class that defines each closure it cleans (`RDD`, `SparkContext`, the
  * caller) about nine times per job. Here the only cleaned closure is
  * defined in this small object; the caller's functions travel inside it
  * and are serialized with the task but never cleaned. The boosting loop
  * runs several of these per round, so that cost was most of a round's
  * driver gap.
  *
  * Combine algebra of depth-1 `treeAggregate`, kept exactly:
  *   - each task folds `seqOp` into one fresh copy of the zero value and
  *     combines that result with a second fresh copy: a zero mutated in
  *     place (the sketch array, a histogram) is never combined with itself;
  *   - the driver merges the task results into its own copy of the zero, in
  *     the order the tasks complete.
  * `reducePartitions` keeps `treeReduce`'s: the first result to arrive
  * starts the driver's value, and an RDD with no partitions throws.
  *
  * Above the cutoff, `treeAggregate(depth = 2)` adds a shuffle stage that
  * caps driver fan-in at √P merges — the 1000-executor design point. At
  * 32 partitions × ~100 KB partials that stage would be pure overhead.
  */
object Agg {
  /** Partition-count cutoff below which partials reduce directly at the
    * driver. 64 × the largest per-level payload (~a few MB) is well under
    * driver capacity; beyond that the tree level starts paying. */
  private val directCutoff = 64

  private def depth(numPartitions: Int): Int = if (numPartitions <= directCutoff) 1 else 2

  /** `rdd.treeAggregate(zero)(seqOp, combOp)`, in one job under the cutoff. */
  def aggregate[T, U: ClassTag](rdd: RDD[T])(zero: U)(
      seqOp: (U, T) => U, combOp: (U, U) => U): U = {
    val n = rdd.getNumPartitions
    if (depth(n) > 1) return rdd.treeAggregate(zero)(seqOp, combOp, depth(n))
    var acc = copyOf(zero)
    if (n > 0) {
      // a distinct object, so each task deserializes two separate zeros
      val taskZero = copyOf(zero)
      val fold = (_: TaskContext, it: Iterator[T]) => combOp(taskZero, it.foldLeft(zero)(seqOp))
      rdd.sparkContext.runJob(rdd, fold, 0 until n, (_: Int, u: U) => acc = combOp(acc, u))
    }
    acc
  }

  /** `rdd.mapPartitions(it => Iterator.single(f(it))).treeReduce(combOp)`:
    * one value per partition, reduced at the driver, in one job under the
    * cutoff. Throws `UnsupportedOperationException` on an RDD with no
    * partitions. */
  def reducePartitions[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => U)(
      combOp: (U, U) => U): U = {
    val n = rdd.getNumPartitions
    if (depth(n) > 1)
      return rdd.mapPartitions(it => Iterator.single(f(it))).treeReduce(combOp, depth(n))
    var acc: Option[U] = None
    if (n > 0)
      rdd.sparkContext.runJob(rdd, (_: TaskContext, it: Iterator[T]) => f(it), 0 until n,
        (_: Int, u: U) => acc = Some(acc.fold(u)(combOp(_, u))))
    acc.getOrElse(throw new UnsupportedOperationException("empty collection"))
  }

  /** A deep copy through the closure serializer (Spark's `Utils.clone`). */
  private def copyOf[U: ClassTag](u: U): U = {
    val ser = SparkEnv.get.closureSerializer.newInstance()
    ser.deserialize[U](ser.serialize(u))
  }
}
