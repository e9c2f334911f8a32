package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.functions.gf

/**
 * Streaming incremental per-source token-frequency sketches: a
 * `foreachBatch` fold of [[graft.expr.CountMinAgg]] blobs — each
 * micro-batch of (source, tok) rows aggregates to per-source count-min
 * deltas, merged into the carried state via `count_min_merge_agg`
 * WITHOUT rescanning earlier batches. The streaming twin of the q121
 * batch sketch, run by [[BatchFold.snapshots]] as [[StreamingQuantiles]]
 * is: per-batch state snapshots under `sketches/batch=k` (`_SUCCESS`-gated,
 * the two newest kept), restart loads the latest committed snapshot
 * strictly before the replayed batch.
 *
 * Exactness contract — STRONGER than [[StreamingQuantiles]]'s: count-min
 * state is a vector of sums, so the stream fold is **byte-identical**
 * to a one-shot sketch over the concatenated stream (any merge tree,
 * any batch split — the [[graft.core.CountMin]] property). A replayed
 * batch therefore rewrites an IDENTICAL snapshot, total weight is
 * exact, and every point estimate matches the one-shot sketch bit for
 * bit. StreamingFreqSpec asserts all of it, including across a
 * stop/restart.
 *
 * At 100 TB this is the always-on frequency monitor: "how often did
 * THIS token/URL/host appear so far" answerable at any time for probe
 * sets unknown while the stream ran, at d·w longs per source.
 */
object StreamingFreq {

  val rowSchema: StructType = StructType(Seq(
    StructField("source", StringType), StructField("tok", StringType)))

  private val stateSchema = StructType(Seq(
    StructField("source", StringType), StructField("sk", BinaryType)))

  /** Start the streaming frequency monitor over parquet (source, tok)
    * deltas in root/batches. */
  def start(spark: SparkSession, root: String,
            depth: Int = 4, width: Int = 256): StreamingQuery =
    BatchFold.snapshots(spark, root, rowSchema, "sketches", stateSchema)(
      _.groupBy("source")
        .agg(gf.count_min_agg(xxhash64(col("tok")), lit(1L), depth, width).as("sk")),
      gf.count_min_merge_agg(col("sk")).as("sk"))

  /** Latest committed per-source sketch state. */
  def readSketches(spark: SparkSession, root: String): DataFrame =
    BatchFold.latest(spark, root, "sketches", stateSchema)
}
