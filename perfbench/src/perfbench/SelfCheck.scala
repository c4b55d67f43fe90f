package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checks that one seed gives identical inputs at any partition or core
  * count: every generated frame is fingerprinted under local[1] with one
  * partition and under local[4] with seven, and the fingerprints must match.
  * Returns the process exit code. */
object SelfCheck {
  val Seed = 7L

  private def frames(spark: SparkSession, parts: Int): Seq[(String, DataFrame)] = {
    val (wideTrain, wideHoldout) = Inputs.wide(spark, Seed, Train.WideSize, parts)
    val (rankTrain, rankHoldout) = Inputs.rank(spark, Seed, Train.RankSize, parts)
    Seq("wide.train" -> wideTrain, "wide.holdout" -> wideHoldout,
      "rank.train" -> rankTrain, "rank.holdout" -> rankHoldout) ++
      (0 until CrawlGate.Size.bootGens + CrawlGate.Size.days).map(g =>
        s"crawl.docs-$g" -> Inputs.crawlDocs(spark, Seed, CrawlGate.Size, g, parts))
  }

  private def digests(work: Path, cores: Int, parts: Int) = {
    val spark = Main.session(work.resolve(s"selfcheck-local$cores"), cores)
    try frames(spark, parts).map { case (name, df) => name -> Inputs.digest(df) }
    finally spark.stop()
  }

  def run(work: Path): Int = {
    val one = digests(work, 1, 1)
    val many = digests(work, 4, 7)
    val bad = one.zip(many).filter { case (a, b) => a != b }
    one.zip(many).foreach { case ((name, a), (_, b)) =>
      println(s"perfbench selfcheck: $name local[1]x1 $a local[4]x7 $b ${if (a == b) "same" else "DIFFERENT"}")
    }
    if (bad.isEmpty) 0 else 1
  }
}
