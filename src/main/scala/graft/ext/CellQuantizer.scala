package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** How the semantic snapshot tier turns an embedding into a cell and a
  * stored payload — the one index abstraction every semantic operator
  * ([[Similarity.semanticKeys]], [[Similarity.rekeySemanticSnapshot]],
  * [[Similarity.ivfTopKFromSnapshot]], [[Similarity.annRecallProbe]],
  * [[Similarity.semanticCapReport]], [[Similarity.incrementalSemDedup]],
  * `StreamingIngest.semanticGate`) is written against:
  *
  *  - [[CellQuantizer.Flat]]: one level of IVF centroids
  *    ([[Similarity.kmeansCentroids]]); stores the raw embedding.
  *  - [[CellQuantizer.TwoLevel]]: coarse × fine residual centroids
  *    ([[Similarity.trainQuantizer2]]), composed cell `c1·k2 + c2`;
  *    stores the raw embedding.
  *  - [[CellQuantizer.Pq]]: flat IVF cells plus product-quantization
  *    codebooks ([[Similarity.pqTrainCodebooks]]); stores `codes`
  *    instead of the embedding.
  *
  * A snapshot is the (id, cell, payload) projection
  * [[Similarity.semanticKeys]] builds, optionally stamped with `_gen`
  * ([[Dedup.stampGeneration]]). The raw forms share every default
  * below; [[CellQuantizer.Pq]] overrides the payload, its encode and
  * decode, the batch-side comparison vector and the top-k score. */
sealed trait CellQuantizer {

  /** Probe-width bounds: `nprobe` ranges over the coarse cells,
    * `fineProbe` over the fine cells of each probed coarse branch (1
    * for the one-level forms). */
  def coarseCells: Int
  def fineCells: Int = 1

  protected def cells(vec: Column, nprobe: Int, fineProbe: Int): Column

  /** The `nprobe × fineProbe` nearest cells of `vec` (array<int>). */
  def probeCells(vec: Column, nprobe: Int, fineProbe: Int = 1): Column = {
    require(nprobe >= 1 && nprobe <= coarseCells &&
        fineProbe >= 1 && fineProbe <= fineCells,
      s"nprobe must be in [1, $coarseCells] and fineProbe in " +
        s"[1, $fineCells]; got ($nprobe, $fineProbe)")
    cells(vec, nprobe, fineProbe)
  }

  /** The single cell a stored vector lives in. */
  def cell(vec: Column): Column = cells(vec, 1, 1)(0)

  /** The snapshot's stored payload column. */
  def payload: String = "emb"
  def encode(vec: Column): Column = vec
  def decode(stored: Column): Column = stored

  /** The batch-side vector the gate compares against `decode(stored)`:
    * the raw vector, or for PQ the vector encoded and decoded through
    * the same codebooks, so both sides live in the quantized space. */
  def compareVec(vec: Column): Column = vec

  /** Top-k scoring over the `qe` query column and the payload. `stage`
    * adds what the score needs once per row (the raw forms: the L2 norm
    * of `vecCol`, as `<vecCol>_n`) before the candidate join; `score`
    * ranks a candidate pair under `rankOrder`: rounded cosine
    * descending, or rounded ADC distance ascending for PQ. */
  private[graft] def stage(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(s"${vecCol}_n", Similarity.l2Norm(col(vecCol)))

  private[graft] def score(roundDigits: Int): Column =
    round(Similarity.dot(col("qe"), col("emb")) /
      (col("qe_n") * col("emb_n")), roundDigits).as("cos")

  private[graft] def rankOrder: Column = col("cos").desc

  /** Loud schema check: `cells` must be this form's (id, cell, payload)
    * projection, or its `_gen`-stamped form when `stamped` is allowed. */
  private[graft] def requireSnapshot(cells: DataFrame, op: String,
      stamped: Boolean = false): Unit = {
    val want = Seq("id", "cell", payload)
    val got = cells.columns.toSeq
    require(got == want || (stamped && got == want :+ "_gen"),
      s"$op takes a semanticKeys projection (${want.mkString(", ")})" +
        (if (stamped) " or its stamped form (…, _gen)" else "") +
        "; got " + got.mkString(", "))
  }
}

object CellQuantizer {

  /** One-level IVF: the cell is the nearest centroid. */
  final case class Flat(centroids: Array[Array[Double]]) extends CellQuantizer {
    def coarseCells: Int = centroids.length
    protected def cells(vec: Column, nprobe: Int, fineProbe: Int): Column =
      Similarity.ivfCells(vec, centroids, nprobe)
  }

  /** Two-level residual IVF: composed cell `c1·k2 + c2`, `c2` the fine
    * argmin of the residual `v − coarse(c1)`; `nprobe` fans over the
    * coarse centroids, `fineProbe` over each branch's fine cells. */
  final case class TwoLevel(coarse: Array[Array[Double]],
      fine: Array[Array[Double]]) extends CellQuantizer {
    def coarseCells: Int = coarse.length
    override def fineCells: Int = fine.length
    protected def cells(vec: Column, nprobe: Int, fineProbe: Int): Column =
      Similarity.ivf2Cells(vec, coarse, fine, nprobe, fineProbe)
  }

  /** IVF-PQ: flat cells on the RAW vector, `codes` stored in place of
    * it. The gate decodes the stored codes and compares them with the
    * batch vector's own encode∘decode; the top-k read scores the raw
    * query against the codes with the ADC kernel. */
  final case class Pq(centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]) extends CellQuantizer {
    def coarseCells: Int = centroids.length
    protected def cells(vec: Column, nprobe: Int, fineProbe: Int): Column =
      Similarity.ivfCells(vec, centroids, nprobe)
    override def payload: String = "codes"
    override def encode(vec: Column): Column = Similarity.pqCodes(vec, codebooks)
    override def decode(stored: Column): Column =
      Similarity.pqDecode(stored, codebooks)
    override def compareVec(vec: Column): Column = decode(encode(vec))
    override private[graft] def stage(df: DataFrame, vecCol: String): DataFrame = df
    override private[graft] def score(roundDigits: Int): Column =
      round(Similarity.pqAdc(col("qe"), col("codes"), codebooks),
        roundDigits).as("adc")
    override private[graft] def rankOrder: Column = col("adc").asc
  }
}
