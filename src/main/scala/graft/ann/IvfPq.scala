package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * IVF-PQ composed index (Jégou, Douze & Schmid, TPAMI 2011 §IV — the
 * `IVFADC` variant): the coarse quantizer (IVF) partitions vectors into
 * cells, and each vector's RESIDUAL v − centroid(v) is product-quantized.
 * Queries probe only the `nProbe` nearest cells, ADC-scanning each
 * against a lookup table built for the query's residual IN THAT CELL
 * (q − c_cell) — the residual trick is what makes a small shared
 * codebook accurate: residuals live in a ball around the origin rather
 * than spread across the whole space. At 10^9+ vectors neither half
 * alone is deployable — flat PQ's fixed-width recall decays with n
 * (q115's scaling note), and uncompressed IVF doesn't fit in RAM; the
 * composition bounds BOTH the scan (nProbe cells) and the bytes
 * (m codes/vector).
 *
 * Reuse: the coarse quantizer IS [[Pq.train]] with m = 1, k = nCells —
 * an L2 Lloyd over full vectors (deterministic seeding, fused
 * assign+sum passes, k-row collects). Residual codebooks are a second
 * [[Pq.train]] over the residual column, SHARED across cells (the
 * paper's memory-practical choice, §IV-A).
 *
 * Scale shape: train = Lloyd passes with (nCells + m·k)-row collects;
 * encode = one projection, no shuffle (cell + codes from the broadcast
 * centroid/codebook literals); at rest the code table is written
 * partitioned BY CELL, so a probe's per-cell scan is partition-pruned
 * file I/O, not a filter over the corpus. The probe scan is an
 * equi-join of the (qid, cell, lut) probe table onto the cell column —
 * only probed cells' rows are ever touched; candidates per (query,
 * cell) are a bounded top-w window, so the exact re-rank joins
 * ≤ nProbe·w ids per query. Recall is formally MONOTONE in both knobs:
 * per-cell top-w candidate sets are supersets as w grows, and unions
 * over probed cells are supersets as nProbe grows — with an exact
 * re-rank on top, recall@k can only rise (q157 asserts the grid).
 */
object IvfPq {

  /** coarse(j) = cell-j centroid; cb = residual codebooks. */
  final case class Index(coarse: IndexedSeq[IndexedSeq[Double]],
                         cb: Pq.Codebook) {
    def nCells: Int = coarse.length
    def dim: Int = cb.dim
  }

  /** Nearest-cell id (0-based) of a vector column by squared L2 against
    * the broadcast centroid literal. */
  private def cellOf(vec: Column, coarse: IndexedSeq[IndexedSeq[Double]]): Column =
    Pq.argminCode(transform(vec, x => x.cast("double")),
      typedlit(coarse), coarse.length)

  /** (id, cell, rvec): per-vector cell assignment + residual. */
  def residuals(vectors: DataFrame, idCol: String, vecCol: String,
                coarse: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    val cLit = typedlit(coarse)
    vectors
      .withColumn("cell", cellOf(col(vecCol), coarse))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), element_at(cLit, col("cell") + 1),
          (a, b) => a.cast("double") - b).as("rvec"))
  }

  /** Train the composed index: L2 k-means cells (Pq with m = 1), then
    * residual PQ codebooks shared across cells. */
  def train(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
            nCells: Int, m: Int = 8, k: Int = 32, iters: Int = 2): Index = {
    val coarseCb = Pq.train(vectors, idCol, vecCol, dim,
      m = 1, k = nCells, iters = iters)
    val coarse = coarseCb.cents(0)
    val resid = residuals(vectors, idCol, vecCol, coarse)
      .transform(Pin(_)) // feeds every residual-codebook Lloyd pass
    Index(coarse, Pq.train(resid, idCol, "rvec", dim, m, k, iters))
  }

  /** Encode to the at-rest layout: (id, cell, codes). */
  def encode(vectors: DataFrame, idCol: String, vecCol: String,
             idx: Index): DataFrame = {
    val resid = residuals(vectors, idCol, vecCol, idx.coarse)
    Pq.encode(resid, idCol, "rvec", idx.cb)
      .join(resid.select(col(idCol), col("cell")), Seq(idCol))
  }

  /** Encode without the self-join: one projection computing cell +
    * residual + codes in a single pass (the production encoder). */
  def encodeFused(vectors: DataFrame, idCol: String, vecCol: String,
                  idx: Index): DataFrame = {
    val cLit = typedlit(idx.coarse)
    val withCell = vectors.withColumn("cell", cellOf(col(vecCol), idx.coarse))
      .withColumn("rvec",
        zip_with(col(vecCol), element_at(cLit, col("cell") + 1),
          (a, b) => a.cast("double") - b))
    withCell.select(col(idCol), col("cell"),
      array((0 until idx.cb.m).map { mi =>
        Pq.argminCode(Pq.subvec(col("rvec"), mi, idx.cb.dsub),
          typedlit(idx.cb.cents(mi)), idx.cb.k)
      }: _*).as("codes"))
  }

  /** At-rest layout: the code table written PARTITIONED BY CELL (the
    * Similarity.writeIndex pattern — directory-per-cell is the Iceberg/
    * Hive-partition stand-in). A probe's cell equi-join/IN-filter then
    * prunes partitions at PLANNING time: a 10^9-vector index reads only
    * the nProbe cell directories of 8-byte-code rows per query —
    * bounded scan AND bounded bytes, the §IV deployment. IvfPqSpec
    * asserts the pruning from the executed scan's `numPartitions` metric
    * (DataFrame.inputFiles ignores partition filters). */
  def writeIndex(codes: DataFrame, dir: String): Unit =
    codes.write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** Reopen a [[writeIndex]] directory (cell is a partition column). */
  def openIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Driver-side probe plan for one query: the `nProbe` nearest cells
    * by ‖q − c‖² with the per-cell RESIDUAL LUT (q − c_cell vs the
    * shared residual codebook). Returns (cell, probeRank 1-based, lut).
    * nProbe·m·k doubles per query — broadcast-sized. */
  def probe(query: Seq[Double], idx: Index, nProbe: Int)
      : Seq[(Int, Int, IndexedSeq[IndexedSeq[Double]])] = {
    require(query.length == idx.dim, s"query dim ${query.length} != ${idx.dim}")
    val ranked = idx.coarse.zipWithIndex.map { case (c, j) =>
      var s = 0.0; var i = 0
      while (i < c.length) { val d = query(i) - c(i); s += d * d; i += 1 }
      (j, s)
    }.sortBy { case (j, d) => (d, j) }.take(nProbe)
    ranked.zipWithIndex.map { case ((j, _), r) =>
      val qr = query.indices.map(i => query(i) - idx.coarse(j)(i))
      (j, r + 1, Pq.lutFor(qr, idx.cb))
    }
  }
}
