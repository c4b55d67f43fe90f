package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The lexical crawl membrane's snapshot as ONE value, with the daily
  * cadence as its three operations: [[CrawlSnapshot.build]] (day 0),
  * [[gate]] (retain → [[Dedup.incrementalCrawlGate]]) and [[advance]]
  * (stamp the day's acceptances and union them in). Retire is the
  * `minGen` a gate is given: rows last stamped before it stop blocking,
  * and a persisted snapshot drops them at its next
  * [[graft.sources.BucketedSnapshot.compact]].
  *
  * It holds the three stamped projections ([[Dedup.stampGeneration]])
  * the gate's tiers read, each a persistable table:
  *  - `sigKeys` (_key, _gen): the signature-equality tier's keys, derived
  *    map-only from the signatures ([[Dedup.nearDupKeysFromSignatures]]);
  *  - `sigs` (id, mh0..mh{k−1}, _gen): the banded tier's signatures;
  *  - `canonKeys` (_key, _gen), optional: the normalized tier's keys; the
  *    tier is on exactly when they are present.
  * Keeping the pairing here is the point: the key tier and the exact
  * tier share the single-`_key` shape, so a hand-wired gate can swap them
  * and pass validation (see [[Dedup.incrementalDedupKeys]]).
  *
  * Shapes are checked when the value is built, so the constructor can
  * wrap tables read back from storage as well as ones just built.
  * `numHashes`, `textCol` and `idCol` are the signature settings every
  * projection and every batch frame must share; shingles, the banded
  * tier's threshold and its bucket cap are [[Dedup.incrementalCrawlGate]]'s
  * defaults.
  *
  * The snapshot is a mergeable summary: [[advance]] is a union of
  * per-document pure functions of text, so a snapshot advanced day by
  * day gates exactly like one recomputed over the prior corpus and every
  * acceptance (CurationSpec's snapshot-loop advance law). */
final class CrawlSnapshot(val sigKeys: DataFrame, val sigs: DataFrame,
    val canonKeys: Option[DataFrame] = None, val numHashes: Int = 128,
    val textCol: String = "text", val idCol: String = "doc_id") {
  import CrawlSnapshot.requireShape

  requireShape("sigKeys", sigKeys, Seq("_key", "_gen"))
  requireShape("sigs", sigs, CrawlSnapshot.sigCols(numHashes) :+ "_gen")
  canonKeys.foreach(requireShape("canonKeys", _, Seq("_key", "_gen")))

  /** The kept rows of `batch` (original schema): every projection is
    * retained at `minGen`, then the batch runs through
    * [[Dedup.incrementalCrawlGate]]. `batchSigs` is the batch's
    * materialized signature table (from [[CrawlSnapshot.build]]'s
    * `batches`); pass the same frame to [[advance]].
    *
    * The key tiers keep every key with a row at `_gen >= minGen`, map
    * only: that is the key set [[Dedup.retainGenerations]] keeps (some
    * row reaches `minGen` exactly when the newest one does), and the
    * tiers anti-join against the keys, so duplicates change nothing.
    * The signatures keep each id's newest row
    * ([[Dedup.retainSignatureGenerations]]), materialized once because
    * the banded tier reads them twice. */
  def gate(batch: DataFrame, batchSigs: DataFrame, minGen: Long,
      bands: Int = 32): DataFrame = {
    def live(keys: DataFrame) = keys.where(col("_gen") >= minGen).select("_key")
    Dedup.incrementalCrawlGate(batch, live(sigKeys),
      Dedup.materializeOnce(
        Dedup.retainSignatureGenerations(sigs, minGen, numHashes)),
      textCol, idCol, numHashes, bands,
      priorCanonKeys = canonKeys.map(live), batchSigs = Some(batchSigs))
  }

  /** This snapshot with `kept` accepted at generation `gen`. `kept`
    * must be rows of the batch `batchSigs` was built from (a [[gate]]
    * result); pass it materialized, as each later gate reads it. The
    * kept docs' signatures are the batch signatures semi-joined on the
    * kept ids — a signature depends only on its text, so this equals a
    * fresh signature pass over `kept` without running one. Lazy: the
    * result is a plan over this snapshot's tables, which a persisting
    * pipeline appends to storage. */
  def advance(kept: DataFrame, batchSigs: DataFrame, gen: Long): CrawlSnapshot = {
    val keptSigs = batchSigs.join(kept.select(col(idCol).as("id")), Seq("id"),
      "left_semi")
    new CrawlSnapshot(
      sigKeys.unionByName(Dedup.stampGeneration(Dedup.nearDupKeysFromSignatures(
        keptSigs, kept, textCol, numHashes), gen)),
      sigs.unionByName(Dedup.stampSignatureGeneration(keptSigs, gen, numHashes)),
      canonKeys.map(_.unionByName(
        Dedup.stampGeneration(Dedup.canonicalKeys(kept, textCol), gen))),
      numHashes, textCol, idCol)
  }
}

object CrawlSnapshot {

  private def sigCols(numHashes: Int): Seq[String] =
    "id" +: (0 until numHashes).map(k => s"mh$k")

  private def requireShape(name: String, df: DataFrame, cols: Seq[String]): Unit =
    require(df.columns.toSeq == cols,
      s"CrawlSnapshot $name must have columns (${cols.mkString(", ")}); got (" +
        df.columns.mkString(", ") + ")")

  /** The generation-`gen` snapshot of `docs` (id in `idCol`, text in
    * `textCol`) plus the signature table of each frame in `batches`.
    * One signature pass over `docs`; the key tier derives from it
    * map-only. The snapshot signatures, every batch's signatures and
    * the optional (`canonical`) canonical keys are independent jobs, so
    * they are materialized together on [[Par]] (on the session's
    * materialize route, see [[Dedup.materializeOnce]]); the key tier
    * follows.
    * Returns the snapshot and the batch signature tables in `batches`
    * order, ready for [[CrawlSnapshot.gate]] and
    * [[CrawlSnapshot.advance]]. */
  def build(docs: DataFrame, gen: Long, batches: Seq[DataFrame] = Nil,
      canonical: Boolean = false, numHashes: Int = 128,
      textCol: String = "text",
      idCol: String = "doc_id"): (CrawlSnapshot, Seq[DataFrame]) = {
    def signatures(df: DataFrame) =
      Dedup.minhashSignatures(df, textCol, col(idCol), numHashes)
    val mats = Par.materializeAll(
      (Dedup.stampSignatureGeneration(signatures(docs), gen, numHashes) +:
        batches.map(signatures)) ++
        Option.when(canonical)(
          Dedup.stampGeneration(Dedup.canonicalKeys(docs, textCol), gen)))
    val sigs = mats.head
    val sigKeys = Dedup.stampGeneration(Dedup.nearDupKeysFromSignatures(
      sigs.drop("_gen"), docs, textCol, numHashes), gen)
    (new CrawlSnapshot(Dedup.materializeNow(sigKeys), sigs,
      Option.when(canonical)(mats.last), numHashes, textCol, idCol),
      mats.slice(1, 1 + batches.size))
  }
}
