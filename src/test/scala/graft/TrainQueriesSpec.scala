package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TrainQueries

class TrainQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("t_predict_throughput: (n_scored, mean_pred) pinned at sf0.001, same for 1 and 7 input partitions") {
    val row = TrainQueries.queries("t_predict_throughput")(spark, sf).collect().toSeq
    assert(row.map(r => (r.getLong(0), r.getDouble(1))) == Seq((6000L, 0.818)))
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
    def digest(parts: Int) = TrainQueries.predictThroughput(
      lineitem.repartition(parts, col("l_orderkey"))).collect().toSeq
    assert(digest(1) == row)
    assert(digest(7) == row)
  }
}
