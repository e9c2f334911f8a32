package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.functions.gf

/**
 * Streaming incremental per-source quantile profiles: a `foreachBatch`
 * fold of [[graft.expr.TDigestAgg]] digests — each micro-batch of
 * (source, value) rows aggregates to per-source digest deltas, which
 * merge into the carried per-source state via `tdigest_merge_agg`
 * WITHOUT rescanning earlier batches. The streaming twin of the q118
 * batch profile, run by [[BatchFold.snapshots]]: per-batch state
 * snapshots under `digests/batch=k` (`_SUCCESS`-gated, the two newest
 * kept), restart loads the latest committed snapshot strictly before the
 * replayed batch.
 *
 * Exactness contract (the [[graft.core.TDigest]] caveat, and the
 * q112 cuckoo precedent of ANSWER-level rather than byte-level
 * equivalence): digest BYTES are merge-order-dependent, so a replayed
 * batch may overwrite a byte-different but answer-equivalent snapshot;
 * what the stream preserves exactly is the total weight (counts are
 * summed, never estimated) and what it preserves within the O(1/δ)
 * bound is every quantile — StreamingQuantilesSpec asserts both,
 * including across a stop/restart.
 *
 * At 100 TB this is the always-on corpus monitor: per-source length /
 * quality quantiles maintained at O(δ) bytes per source per batch,
 * queried at any time without touching history.
 */
object StreamingQuantiles {

  val rowSchema: StructType = StructType(Seq(
    StructField("source", StringType), StructField("v", DoubleType)))

  private val stateSchema = StructType(Seq(
    StructField("source", StringType), StructField("dg", BinaryType)))

  /** Start the streaming profile over parquet (source, v) deltas in
    * root/batches. */
  def start(spark: SparkSession, root: String,
            delta: Double = 100.0): StreamingQuery =
    BatchFold.snapshots(spark, root, rowSchema, "digests", stateSchema)(
      _.groupBy("source").agg(gf.tdigest_agg(col("v"), delta).as("dg")),
      gf.tdigest_merge_agg(col("dg")).as("dg"))

  /** Latest committed per-source digest state. */
  def readDigests(spark: SparkSession, root: String): DataFrame =
    BatchFold.latest(spark, root, "digests", stateSchema)
}
