package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.Pin
import graft.text.TextPipeline

/**
 * Streaming incremental MinHash-LSH near-dup dedup: a [[BatchFold.stateful]]
 * step over [[TextPipeline.incrementalDedup]] with the SLIM signature
 * store (and the ingested-corpus pointer it rehydrates verify sets from)
 * as the carried state — the same pattern as [[StreamingCrawl]]'s
 * incremental seen state. Each micro-batch of new documents is deduped
 * against every previously processed document; the result is EXACTLY the
 * one-shot drop rule over the union ("∃ earlier doc with J ≥ t"), proven
 * by the stream≡batch test in StreamingCrawlSpec.
 *
 * Layout under `root/`:
 *   batches/            -- watched dir; (doc_id, text) parquet deltas
 *   survivors/batch=k/  -- per-batch surviving docs
 *   docs/batch=k/       -- per-batch ingested docs (corpus pointer for restart)
 *   sigs/batch=k/       -- per-batch slim signature deltas
 *   checkpoint/         -- Spark streaming checkpoint (offsets/commits)
 *
 * Crash/replay safety (the StreamingCrawl lesson): a replayed batch k
 * recomputes bit-identical output — its input files are pinned by the
 * streaming offset log, and the state loaded at query start excludes
 * batch k's own committed snapshots (strictly-before filter), so every
 * overwrite rewrites identical content. Snapshot reads are gated on
 * `_SUCCESS` so an interrupted write is invisible.
 *
 * State growth is the slim store's: ~(numPerms+1)×8 bytes per doc ever
 * seen, carried in memory per query and persisted as per-batch deltas.
 * Docs ids must be monotone across batches (the incrementalDedup
 * contract); within a micro-batch any order is fine.
 */
object StreamingIncrementalDedup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Start the streaming dedup over parquet doc deltas in root/batches. */
  def start(spark: SparkSession, root: String,
            cfg: TextPipeline.PipelineConfig = TextPipeline.PipelineConfig()): StreamingQuery =
    // carried: the slim signature store and the ingested docs
    BatchFold.stateful(spark, root, s"$root/batches", docSchema) { (s, k) =>
      val sigSchema = TextPipeline.signatureShingles(BatchFold.empty(s, docSchema),
        "doc_id", "text", cfg.numPerms, cfg.k).drop("__shSet").schema
      settled(BatchFold.all(s, root, "sigs", sigSchema, before = k),
        BatchFold.all(s, root, "docs", docSchema, before = k))
    } { case (batch, k, (store, ingested)) =>
      val b = Pin(batch) // pin the micro-batch input once
      if (Pin.count(Seq(b)).head._1 == 0) (store, ingested)
      else {
        val (surv, sigs0) = TextPipeline.incrementalDedup(store, ingested, b,
          "doc_id", "text", cfg)
        val sigs = Pin(sigs0) // two consumers: write + carry
        surv.write.mode("overwrite").parquet(s"$root/survivors/batch=$k")
        b.write.mode("overwrite").parquet(s"$root/docs/batch=$k")
        sigs.write.mode("overwrite").parquet(s"$root/sigs/batch=$k")
        settled(store.unionByName(sigs), ingested.unionByName(b))
      }
    }

  /** The carried (store, ingested) pair, pinned and settled in one job. */
  private def settled(store: DataFrame, ingested: DataFrame): (DataFrame, DataFrame) = {
    val pins = Seq(Pin(store), Pin(ingested))
    Pin.count(pins)
    (pins(0), pins(1))
  }

  /** All surviving docs committed by the stream so far. */
  def readSurvivors(spark: SparkSession, root: String): DataFrame =
    BatchFold.all(spark, root, "survivors", docSchema).select("doc_id", "text")
}
