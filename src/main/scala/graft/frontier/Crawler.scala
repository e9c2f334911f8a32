package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.CrawlConfig
import graft.functions.gf

/**
 * The round-synchronous crawl driver (SURVEY.md T1/T2/T6): BFS rounds over
 * a page-store table, each round one micro-batch of declarative Catalyst
 * plans. State (frontier, seen) lives in checkpointed DataFrames —
 * `localCheckpoint` truncates the per-round lineage while *retaining the
 * hash partitioning*, so the seen anti-join never re-shuffles the seen
 * side; optional [[FrontierStore]] snapshots give Iceberg-like commit +
 * resume semantics.
 *
 * [[crawl]] is the one crawl loop: the specs, the benchmark's `crawl`
 * workload and `graft.Bench`'s frontier drain all run it. The drain is
 * its lean configuration — no store, `keepPayload = false` — where
 * page payloads are dropped after link discovery and the lazy `order` /
 * `fetchedPages` frames are never computed unless a caller uses them.
 */
object Crawler {

  final case class RoundMetrics(
      round: Int, fetched: Long, fetchMisses: Long, discovered: Long,
      dedupHits: Long, frontierNext: Long, seenTotal: Long, wallMs: Long)

  final case class CrawlResult(
      order: DataFrame,          // all CrawlOrderRow rows, every round
      fetchedPages: DataFrame,   // all fetched frontier×page rows (for extraction)
      seen: DataFrame,           // final seen set (urlHash)
      metrics: Seq[RoundMetrics])

  /** pages keyed by url identity, hash-partitioned once so every round's
    * fetch join only shuffles the (budget-sized) frontier side. At real
    * scale this is a bucketed/Iceberg table; in-session we persist the
    * repartitioned scan (SURVEY.md §4 join strategy). */
  def keyPages(pages: DataFrame, partitions: Int): DataFrame =
    pages
      .withColumn("urlHash", gf.url_id(col("url")))
      .repartition(partitions, col("urlHash"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  def crawl(spark: SparkSession, pages: DataFrame, robots: DataFrame, seeds: DataFrame,
            cfg: CrawlConfig, maxRounds: Int,
            store: Option[FrontierStore] = None,
            keyedPages: Option[DataFrame] = None): CrawlResult = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pagesKeyed = keyedPages.getOrElse(keyPages(pages, parts))

    // LAZY local checkpoints: lineage truncation + caching piggyback on the
    // next action instead of running a dedicated job each — halves the
    // per-round job count (every ck'd frame gets an action within the round)
    val ck = (df: DataFrame) => df.localCheckpoint(false)

    // resume from the last committed snapshot if a store is present (T6)
    val resumeRound = store.flatMap(_.lastCommittedRound)
    var frontier: DataFrame = resumeRound match {
      case Some(k) => ck(store.get.readFrontier(k))
      case None =>
        // probe seeding (healthcare_scraper.py:140-151): candidate
        // facility-listing urls per seed domain join the round-0 frontier
        val seeded = if (cfg.probeSeeds)
          seeds.select("url").unionByName(CrawlRound.probeUrls(seeds))
        else seeds
        val f0 = ck(CrawlRound.seedFrontier(seeded))
        store.foreach(_.writeRound(0, f0,
          f0.select("urlHash").limit(0), emptyOrder(spark)))
        f0
    }
    var seen: DataFrame = resumeRound match {
      case Some(k) => ck(store.get.readSeenUpTo(k).repartition(parts, col("urlHash")))
      case None => frontier.select("urlHash").limit(0)
    }
    var seenCount: Long = if (resumeRound.isDefined) seen.count() else 0L
    var frontierCount: Long = frontier.count()
    // incremental seen-bloom state (J1): per-round delta merge, geometric
    // rebuilds — None rebuilds from `seen` on first advance (incl. resume)
    var bloomState: Option[SeenSet.BloomState] = None

    val orders = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val fetchedAll = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val metrics = scala.collection.mutable.ArrayBuffer[RoundMetrics]()

    // L3 state: pages fetched so far per host (config.py:67 max_pages_per_site)
    var hostFetched: DataFrame = resumeRound match {
      case Some(k) if k > 0 =>
        ck(store.get.readOrderUpTo(k).groupBy("host")
          .agg(count("*").as("hostDone")))
      case _ => emptyOrder(spark).groupBy("host").agg(count("*").as("hostDone"))
    }

    // robots is joined (broadcast) every round — materialize it once so
    // each round's broadcast reads the cached RDD instead of re-scanning
    // the robots table (at 10^10 scale a real table scan per round)
    val robotsK = ck(robots)

    var round = resumeRound.getOrElse(0) + 1
    while (round <= maxRounds && frontierCount > 0) {
      val t0 = System.nanoTime()
      // ck inside run(): rank, fetch join and discovery each computed once
      val r = CrawlRound.run(round, frontier, pagesKeyed, robotsK, cfg, ck,
        Some(hostFetched))

      val fetched = r.fetched
      val order = r.order
      val delta = fetched.select("urlHash")
      // A9/T7: per-round counters ride the count() action via observe() —
      // no extra job for the miss count
      val obs = org.apache.spark.sql.Observation(s"graft-round-$round")
      val fetchedCount = fetched
        .observe(obs, sum(when(!col("fetchOk"), 1L).otherwise(0L)).as("misses"))
        .count()
      val newSeen = ck(seen.unionByName(delta).repartition(parts, col("urlHash")))
      val newSeenCount = seenCount + fetchedCount // budgeted rows are urlHash-unique

      val discovered = r.discovered
      val discoveredCount = discovered.count()
      val bs0 = SeenSet.advance(bloomState, delta, newSeen, newSeenCount, cfg)
      val bs = bs0.copy(blooms = ck(bs0.blooms))
      val fresh = SeenSet.filterUnseen(discovered, newSeen, newSeenCount, cfg,
        Some(bs.blooms))
      val nextFrontier = ck(CrawlRound.dedupeCandidates(
        r.deferred.unionByName(fresh)))
      val nextCount = nextFrontier.count()

      store.foreach { st =>
        st.writeRound(round, nextFrontier, delta,
          order.select("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk"))
        // bounded-storage maintenance: compact the committed prefix and
        // drop superseded dirs every n-th round (readers are manifest-
        // derived, so resume across this is byte-identical — CrawlSpec)
        if (cfg.compactEvery > 0 && round % cfg.compactEvery == 0) {
          st.compact(round); st.gc()
        }
      }

      val misses = Option(obs.get.getOrElse("misses", 0L))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      metrics += RoundMetrics(round, fetchedCount, misses, discoveredCount,
        dedupHits = discoveredCount + r.deferred.count() - nextCount,
        frontierNext = nextCount, seenTotal = newSeenCount,
        wallMs = (System.nanoTime() - t0) / 1000000L)

      hostFetched = ck(hostFetched
        .unionByName(fetched.groupBy("host").agg(count("*").as("hostDone")))
        .groupBy("host").agg(sum("hostDone").as("hostDone")))

      orders += order
      fetchedAll += fetched
      r.hits.unpersist() // joined (raw) is the cached parent downstream
      if (!cfg.keepPayload) r.raw.unpersist() // page payloads were transient
      seen.unpersist(); frontier.unpersist()
      bloomState.foreach(_.blooms.unpersist())
      bloomState = Some(bs)
      seen = newSeen; seenCount = newSeenCount
      frontier = nextFrontier; frontierCount = nextCount
      round += 1
    }

    val orderAll = if (orders.nonEmpty) orders.reduce(_ unionByName _) else emptyOrder(spark)
    val fetchedPages = if (fetchedAll.nonEmpty) fetchedAll.reduce(_ unionByName _)
      else pagesKeyed.limit(0)
    CrawlResult(orderAll, fetchedPages, seen, metrics.toSeq)
  }

  private def emptyOrder(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, String, Int, String, Long, Double, Boolean)]
      .toDF("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk")
  }
}
