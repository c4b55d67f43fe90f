package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.CoreQueries

/** `CoreQueries.spreadTable` caches each table's split count for the
  * JVM's lifetime; the cache must not serve one split-size setting's
  * count to a session running under another. */
class SpreadTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("spreadTable takes each maxPartitionBytes value's own split count") {
    val dir = Files.createTempDirectory("spread_table").toString
    // one parquet file of a few hundred KB: under 16 KB splits it scans
    // as many partitions, under the default as one
    spark.range(60000).select(col("id"), (col("id") * 7919 % 100003).as("v"))
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    val target = spark.sparkContext.defaultParallelism
    def counts(maxPartitionBytes: Option[String]): (Int, Int) = {
      maxPartitionBytes match {
        case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
      }
      try (CoreQueries.table(spark, dir, "t").rdd.getNumPartitions,
        CoreQueries.spreadTable(spark, dir, "t", "id").rdd.getNumPartitions)
      finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    val (rawDefault, spreadDefault) = counts(None)
    val (rawSmall, spreadSmall) = counts(Some("16k"))
    // the fixture straddles the target: one setting repartitions, the
    // other keeps the scan's own (larger) split count
    assert(rawDefault < target && rawSmall > target, s"$rawDefault / $rawSmall")
    assert(spreadDefault == target)
    assert(spreadSmall == rawSmall)
  }
}
