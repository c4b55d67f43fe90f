package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.CellQuantizer.Flat
import graft.ext.{Dedup, Similarity}
import graft.queries.PipelineQueries

/** The capstone's cap ledger (r18): `p_daily_full7` certifies gate
  * DECISIONS in one hash, but a change that silently pushed a tier's
  * groups past its cap would still hash green — over-cap members pass
  * their tier BY CONVENTION. This spec rebuilds the capstone's own
  * artifacts (same fixture builders, same caps) and pins the cap
  * reports at zero drops on BOTH capped tiers, so capping-out a
  * membrane fails a spec instead of passing ungated. */
class CapstoneCapReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("p_daily_full7 artifacts stay inside the banded and semantic caps; report accounting exact") {
    val dir = TestSpark.sf
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    def page(t: Column, id: Column) = concat_ws("\n",
      lit("Subscribe to our newsletter today!"),
      concat(lit("Slogan number "), (id % 40).cast("string")),
      t,
      concat(lit("Unique closer "), id.cast("string")))
    val bar = lit(" share this page on all social media channels right now thanks")
    val far = array_repeat(lit(25.0f), 64)
    val corpus = d.join(e, "doc_id")
    val pbase = corpus.where(col("doc_id") % 3 === 1)
    val prior = pbase.select(col("doc_id"),
      page(concat(col("text"), bar), col("doc_id")).as("text"), col("lang"),
      PipelineQueries.urlFixture.as("url"), col("embedding")).localCheckpoint()
    val batch = corpus.where(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        page(concat(col("text"), bar), col("doc_id")).as("text"),
        col("lang"), col("embedding"))
      .unionByName(PipelineQueries.membraneReplicas(prior.drop("url"), pbase,
        page(PipelineQueries.rewordedText, col("doc_id") + 80000)))
      .unionByName(prior.where(col("doc_id") >= 350 && col("doc_id") < 450)
        .select((col("doc_id") + 100000).as("doc_id"),
          page(concat(lit("url replica body "), col("doc_id").cast("string")),
            col("doc_id") + 100000).as("text"),
          col("lang"), far.as("embedding")))
      .localCheckpoint()
    val nPrior = prior.count()
    val nBatch = batch.count()

    // banded tier: every (band, key) bucket of BOTH signature tables
    // inside the capstone's MaxBucket — zero groups dropped, zero rows
    // passing ungated; accounting exact (Bands rows per signature)
    for ((sigs, n, side) <- Seq(
        (Dedup.minhashSignatures(prior, "text", col("doc_id"),
          PipelineQueries.NumHashes), nPrior, "prior"),
        (Dedup.minhashSignatures(batch, "text", col("doc_id"),
          PipelineQueries.NumHashes), nBatch, "batch"))) {
      val r = Dedup.bucketCapReport(sigs, PipelineQueries.NumHashes,
        PipelineQueries.Bands, PipelineQueries.MaxBucket).head()
      assert(r.getLong(1) == 0L && r.getLong(3) == 0L,
        s"$side banded tier capped out: $r")
      assert(r.getLong(2) == n * PipelineQueries.Bands,
        s"$side banded accounting: $r != $n × Bands")
    }

    // semantic tier: prior snapshot cells and batch probe rows inside
    // the capstone's 1000-cap (the far-embedding replica classes all
    // share ONE cell by construction — the report proves even that
    // stays inside); accounting exact at nprobe = 1
    val sem = Similarity.semanticCapReport(batch,
        Similarity.semanticKeys(prior, Flat(PipelineQueries.ivfCentroids),
          idCol = "doc_id"),
        Flat(PipelineQueries.ivfCentroids), maxCellSize = 1000)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(sem("prior")._2 == 0L && sem("prior")._4 == 0L,
      s"semantic prior capped out: ${sem("prior")}")
    assert(sem("batch")._2 == 0L && sem("batch")._4 == 0L,
      s"semantic batch capped out: ${sem("batch")}")
    assert(sem("prior")._3 == nPrior && sem("batch")._3 == nBatch,
      s"semantic accounting: $sem vs ($nPrior, $nBatch)")
  }
}
