package graft

import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

/** `Agg` runs each aggregation as one job of its own, and must return
  * exactly what Spark's `treeAggregate`/`treeReduce` return at the depth it
  * stands in for: 1 up to 64 partitions, 2 above. Every trainer digest
  * depends on that. The inputs are integer-valued doubles, so merge order
  * cannot change a sum and results compare with `==`. */
class AggSpec extends AnyFunSuite {
  import TestSpark._

  private def sc = spark.sparkContext
  private def depthOf(rdd: RDD[_]) = if (rdd.getNumPartitions <= 64) 1 else 2
  private def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)

  private def sameAsSpark(rdd: RDD[Double]): Unit = {
    val depth = depthOf(rdd)
    val seq = (u: (Double, Long), x: Double) => (u._1 + x, u._2 + 1)
    val comb = (a: (Double, Long), b: (Double, Long)) => (a._1 + b._1, a._2 + b._2)
    assert(Agg.aggregate(rdd)((0.0, 0L))(seq, comb) ==
      rdd.treeAggregate((0.0, 0L))(seq, comb, depth))
    val perPartition = (it: Iterator[Double]) => it.foldLeft((0.0, 0L))(seq)
    assert(Agg.reducePartitions(rdd)(perPartition)(comb) ==
      rdd.mapPartitions(it => Iterator.single(perPartition(it))).treeReduce(comb, depth))
  }

  test("integer-valued doubles: same result as treeAggregate and treeReduce") {
    sameAsSpark(sc.parallelize((1 to 5000).map(_.toDouble), 7))
  }

  test("empty partitions: same result as treeAggregate and treeReduce") {
    val rdd = sc.parallelize(Seq(3.0, 5.0, 11.0), 9)
    assert(rdd.glom().collect().count(_.isEmpty) >= 6)
    sameAsSpark(rdd)
  }

  test("more than 64 partitions: same result as the depth-2 tree") {
    sameAsSpark(sc.parallelize((1 to 20000).map(i => (i % 97).toDouble), 100))
  }

  test("a -0.0 partial keeps its sign exactly as Spark does") {
    val rdd = sc.parallelize(Seq(-0.0, -0.0, -0.0), 3)
    for (zero <- Seq(-0.0, 0.0)) {
      val add = (a: Double, b: Double) => a + b
      assert(bits(Agg.aggregate(rdd)(zero)(add, add)) ==
        bits(rdd.treeAggregate(zero)(add, add, 1)), s"zero $zero")
    }
    val sum = (it: Iterator[Double]) => it.foldLeft(-0.0)(_ + _)
    val got = Agg.reducePartitions(rdd)(sum)(_ + _)
    assert(bits(got) == bits(-0.0))
    assert(bits(got) == bits(rdd.mapPartitions(it => Iterator.single(sum(it))).treeReduce(_ + _, 1)))
  }

  test("an accumulator mutated in place is never combined with itself") {
    val rdd = sc.parallelize(1 to 1000, 6)
    val seq = (a: Array[Long], x: Int) => { a(x % 4) += x; a }
    val comb = (a: Array[Long], b: Array[Long]) => {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    val zero = new Array[Long](4)
    val got = Agg.aggregate(rdd)(zero)(seq, comb)
    assert(got.toSeq == rdd.treeAggregate(new Array[Long](4))(seq, comb, 1).toSeq)
    assert(got.sum == (1 to 1000).sum)
    assert(zero.forall(_ == 0L), "the caller's zero value is left as it was")
  }

  test("no partitions: aggregate gives the zero value, reducePartitions throws") {
    val rdd = sc.emptyRDD[Int]
    assert(rdd.getNumPartitions == 0)
    assert(Agg.aggregate(rdd)(5L)((n, _) => n + 1, _ + _) == 5L)
    assert(rdd.treeAggregate(5L)((n, _) => n + 1, _ + _, 1) == 5L)
    intercept[UnsupportedOperationException] {
      Agg.reducePartitions(rdd)(_.size)(_ + _)
    }
    intercept[UnsupportedOperationException] {
      rdd.mapPartitions(it => Iterator.single(it.size)).treeReduce(_ + _, 1)
    }
  }
}
