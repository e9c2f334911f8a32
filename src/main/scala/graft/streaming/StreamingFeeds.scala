package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.Feeds
import graft.Pin

/**
 * Streaming feed poller: a `foreachBatch` wrapper over [[Feeds.entries]]
 * with the discovered-URL seen set as carried state — the push-shaped
 * new-URL discovery loop a recrawl scheduler runs continuously
 * (reference analog: the periodic navigation/sitemap refresh;
 * feeds are its low-latency sibling). Same [[BatchFold.stateful]]
 * carried state as [[StreamingCrawl]] / [[StreamingIncrementalDedup]].
 *
 * Each micro-batch of (feed_url, xml) blobs is parsed with the tolerant
 * column parser; entry urls are deduped within the batch (min-struct
 * deterministic representative) and anti-joined against every url
 * discovered by earlier batches, so an entry re-served by a later poll
 * of the same feed — the normal steady state; feeds re-serve their
 * whole window every poll — is emitted EXACTLY once across the stream.
 *
 * Layout under `root/`:
 *   feeds/              -- watched dir; (feed_url, xml) parquet deltas
 *   discoveries/batch=k -- newly discovered entries per micro-batch
 *   seen/batch=k        -- per-batch seen deltas (entry urls)
 *   checkpoint/         -- Spark streaming checkpoint
 *
 * Crash/replay safety (the StreamingCrawl write order): discoveries
 * are written BEFORE the seen delta, and state loaded at query start
 * takes only batches strictly before the replayed one, so a replayed
 * batch recomputes byte-identical output. Snapshot reads are
 * `_SUCCESS`-gated.
 */
object StreamingFeeds {

  val feedSchema: StructType = StructType(Seq(
    StructField("feed_url", StringType), StructField("xml", StringType)))

  private val seenSchema = StructType(Seq(StructField("entry_url", StringType)))

  def start(spark: SparkSession, root: String): StreamingQuery =
    BatchFold.stateful(spark, root, s"$root/feeds", feedSchema)(
        (s, k) => Pin(BatchFold.all(s, root, "seen", seenSchema, before = k))) { (batch, k, seen) =>
      val entries = Feeds.entries(batch)
        .filter(length(col("entry_url")) > 0)
        .groupBy("entry_url")
        .agg(min(struct(col("feed_url"), col("fmt"), col("title"),
          col("published"))).as("e"))
        .select(col("entry_url"), col("e.feed_url"), col("e.fmt"),
          col("e.title"), col("e.published"))
      val fresh = entries.join(seen, Seq("entry_url"), "left_anti")
        .transform(Pin(_))
      // discoveries FIRST, seen delta LAST (crash-replay ordering)
      fresh.write.mode(SaveMode.Overwrite)
        .parquet(s"$root/discoveries/batch=$k")
      fresh.select("entry_url").write.mode(SaveMode.Overwrite)
        .parquet(s"$root/seen/batch=$k")
      Pin.settled(seen.union(fresh.select("entry_url")))
    }

  /** All discoveries so far (committed batches only). */
  def readDiscoveries(spark: SparkSession, root: String): DataFrame =
    BatchFold.all(spark, root, "discoveries", StructType(Seq(
      StructField("entry_url", StringType), StructField("feed_url", StringType),
      StructField("fmt", StringType), StructField("title", StringType),
      StructField("published", StringType))))
}
