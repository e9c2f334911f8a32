package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.Pin
import graft.core.CrawlConfig
import graft.frontier.{CrawlRound, Crawler, FrontierStore}

/**
 * Structured-Streaming crawl (SURVEY.md T1/T6/T7): each BFS round is one
 * micro-batch. The frontier is a self-feeding parquet file-stream — a
 * round's next frontier is written back into the watched directory and
 * becomes the next micro-batch, which runs [[Crawler.step]] (the batch
 * crawler's round) and commits it to a [[FrontierStore]] in the batch
 * crawler's layout: `Crawler.crawl` with that store resumes a stopped
 * stream. Spark's streaming checkpoint gives exactly-once round processing
 * and mid-crawl resume (restart with the same root).
 *
 * Layout under `root/`:
 *   frontier_stream/   -- watched dir; seed delta + each round's next frontier
 *   store/             -- [[FrontierStore]]: manifest, frontier/seen/order per
 *                         round, compacted every `cfg.compactEvery` rounds
 *   checkpoint/        -- Spark streaming checkpoint (offsets/commits)
 */
object StreamingCrawl {

  val frontierSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("canonUrl", StringType),
    StructField("urlHash", LongType), StructField("host", StringType),
    StructField("depth", IntegerType), StructField("score", DoubleType)))

  private def store(spark: SparkSession, root: String) =
    new FrontierStore(spark, s"$root/store")

  /** Append a frontier to the watched dir in [[frontierSchema]]. */
  private def appendFrontier(frontier: DataFrame, root: String): Unit =
    frontier.select("url", "canonUrl", "urlHash", "host", "depth", "score")
      .write.mode("append").parquet(s"$root/frontier_stream")

  /** Write the seed frontier as delta 0 into the watched dir, and commit
    * it to the store as round 0. */
  def writeSeeds(spark: SparkSession, root: String, seeds: DataFrame): Unit = {
    val frontier = CrawlRound.seedFrontier(seeds)
    appendFrontier(frontier, root)
    Crawler.commitSeeds(store(spark, root), frontier)
  }

  /**
   * Start the streaming crawl; micro-batch `b` runs round `b + 1`. State
   * is loaded once per query start, at its first batch k, from the store
   * through round k-1 only (and compaction stops at k-1): Spark replays
   * batch k if it stopped after the store committed k, and the replay must
   * recompute round k from round k-1. Side effects are idempotent under
   * that at-least-once execution: the store rewrites round k identically,
   * and a duplicated frontier append collapses in the next batch's
   * `dedupeCandidates`. The append precedes the store commit, so no
   * partial batch loses discovered links.
   */
  def start(spark: SparkSession, root: String, pagesKeyed: DataFrame,
            robots: DataFrame, cfg: CrawlConfig): StreamingQuery = {
    val st = store(spark, root)
    val robotsK = Pin(robots)
    // the carried state is the round state awaiting its batch's frontier
    BatchFold.stateful(spark, root, s"$root/frontier_stream", frontierSchema)(
        (_, k) => (f: DataFrame) => Crawler.storedState(st, k - 1, f)) { (batch, _, from) =>
      val s = Crawler.step(from(Pin(CrawlRound.dedupeCandidates(batch))),
        pagesKeyed, robotsK, cfg)
      // an empty next frontier appends nothing: the stream goes idle
      if (s.metrics.frontierNext > 0) appendFrontier(s.to.frontier, root)
      Crawler.commit(st, s, cfg, lag = 1)
      s.release(cfg)
      // the next batch reads this frontier back from the watched dir
      s.to.frontier.unpersist()
      (f: DataFrame) => s.to.copy(frontier = f)
    }
  }

  /** All crawl-order rows committed by the stream so far (empty-schema
    * frame when no round has committed yet). */
  def readOrder(spark: SparkSession, root: String): DataFrame = {
    val st = store(spark, root)
    st.lastCommittedRound.filter(_ > 0).map(st.readOrderUpTo)
      .getOrElse(Crawler.emptyOrder(spark))
  }

  /**
   * Event-time metrics stream (SURVEY.md T7/T8): tumbling 1-minute windows
   * over fetched pages' `warc_ts` with a 1-hour watermark — fetch counts
   * per capture window, late rows beyond the watermark dropped.
   */
  def warcMetrics(fetchedStream: DataFrame): DataFrame =
    fetchedStream
      .withWatermark("warc_ts", "1 hour")
      .groupBy(window(col("warc_ts"), "1 minute"), col("host"))
      .agg(count("*").as("fetches"), sum(when(col("fetchOk"), 0).otherwise(1)).as("misses"))
}
