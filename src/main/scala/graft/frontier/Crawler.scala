package graft.frontier

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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

  /**
   * BFS from `seeds` for at most `maxRounds` rounds (or until the frontier
   * is empty), resuming from `store`'s last committed round if it has one.
   *
   * Commit pipeline: with a store, round k's commit — [[FrontierStore.writeRound]],
   * plus `compact` and `gc` every `cfg.compactEvery`-th round — runs on
   * one committer thread this call owns, in round order, while round k+1
   * computes. The loop waits for commit k only at the end of round k+1,
   * before it unpersists the next frontier that commit reads; a failed
   * commit stops the crawl there, with no later commit started, and
   * `crawl` rethrows its error. `crawl` never returns or throws while a
   * commit it started is still running, so on return the store's
   * manifest names the last round run. A crash mid-crawl leaves the
   * manifest at most one round behind the loop; resume re-runs that round.
   *
   * `RoundMetrics.wallMs` covers a round from its start until the next
   * round may start, including any wait for the previous round's commit.
   */
  def crawl(spark: SparkSession, pages: DataFrame, robots: DataFrame, seeds: DataFrame,
            cfg: CrawlConfig, maxRounds: Int,
            store: Option[FrontierStore] = None,
            keyedPages: Option[DataFrame] = None): CrawlResult = {
    val commits = new Committer
    try {
      val result = rounds(spark, pages, robots, seeds, cfg, maxRounds, store, keyedPages,
        commits)
      commits.await() // the last round's commit
      result
    } catch {
      case t: Throwable => commits.drain(t); throw t
    } finally commits.shutdown()
  }

  private def rounds(spark: SparkSession, pages: DataFrame, robots: DataFrame,
                     seeds: DataFrame, cfg: CrawlConfig, maxRounds: Int,
                     store: Option[FrontierStore], keyedPages: Option[DataFrame],
                     commits: Committer): CrawlResult = {
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
        ck(CrawlRound.seedFrontier(seeded))
    }
    var seen: DataFrame = resumeRound match {
      case Some(k) => ck(store.get.readSeenUpTo(k).repartition(parts, col("urlHash")))
      case None => frontier.select("urlHash").limit(0)
    }
    val Seq(seen0, frontier0) = countRows(Seq(seen, frontier)).map(_._1)
    var seenCount: Long = seen0
    var frontierCount: Long = frontier0
    // the seed frontier commits as round 0 while round 1 computes (from a
    // val: the commit runs later, the `frontier` var moves on)
    if (resumeRound.isEmpty) store.foreach { st =>
      val f0 = frontier
      commits.submit(st.writeRound(0, f0, f0.select("urlHash").limit(0), emptyOrder(spark)))
    }
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
      // A9/T7: fetched rows and misses, counted in the job that
      // materializes the fetched checkpoint
      val Seq((fetchedCount, misses)) = countRows(Seq(fetched), !col("fetchOk"))
      val newSeen = ck(seen.unionByName(delta).repartition(parts, col("urlHash")))
      val newSeenCount = seenCount + fetchedCount // budgeted rows are urlHash-unique

      val discovered = r.discovered
      val bs0 = SeenSet.advance(bloomState, delta, newSeen, newSeenCount, cfg)
      val bs = bs0.copy(blooms = ck(bs0.blooms))
      val fresh = SeenSet.filterUnseen(discovered, newSeen, newSeenCount, cfg,
        Some(bs.blooms))
      val nextFrontier = ck(CrawlRound.dedupeCandidates(
        r.deferred.unionByName(fresh)))
      val Seq(nextCount, discoveredCount, deferredCount) =
        countRows(Seq(nextFrontier, discovered, r.deferred)).map(_._1)

      hostFetched = ck(hostFetched
        .unionByName(fetched.select(col("host"), lit(1L).as("hostDone")))
        .groupBy("host").agg(sum("hostDone").as("hostDone")))

      // commit this round while the next one computes. submit() first
      // waits for the previous commit, which read `frontier` (its next
      // frontier): it lands before that frame is unpersisted below. The
      // commit reads `k`, not the `round` var: it runs after round += 1
      val k = round
      store.foreach { st =>
        commits.submit {
          st.writeRound(k, nextFrontier, delta,
            order.select("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk"))
          // bounded-storage maintenance: compact the committed prefix and
          // drop superseded dirs every n-th round (readers are manifest-
          // derived, so resume across this is byte-identical — CrawlSpec)
          if (cfg.compactEvery > 0 && k % cfg.compactEvery == 0) {
            st.compact(k); st.gc()
          }
        }
      }

      orders += order
      fetchedAll += fetched
      r.hits.unpersist() // joined (raw) is the cached parent downstream
      if (!cfg.keepPayload) r.raw.unpersist() // page payloads were transient
      seen.unpersist(); frontier.unpersist()
      bloomState.foreach(_.blooms.unpersist())
      bloomState = Some(bs)
      seen = newSeen; seenCount = newSeenCount
      frontier = nextFrontier; frontierCount = nextCount
      metrics += RoundMetrics(round, fetchedCount, misses, discoveredCount,
        dedupHits = discoveredCount + deferredCount - nextCount,
        frontierNext = nextCount, seenTotal = newSeenCount,
        wallMs = (System.nanoTime() - t0) / 1000000L)
      round += 1
    }

    val orderAll = if (orders.nonEmpty) orders.reduce(_ unionByName _) else emptyOrder(spark)
    val fetchedPages = if (fetchedAll.nonEmpty) fetchedAll.reduce(_ unionByName _)
      else pagesKeyed.limit(0)
    CrawlResult(orderAll, fetchedPages, seen, metrics.toSeq)
  }

  /** Per frame, `(rows, rows where flag holds)`, all in ONE job without a
    * shuffle: a task counts one partition of one frame where the frame's
    * checkpoint holds it, and the driver adds the counts up. A frame not
    * yet materialized is materialized by this job. */
  private def countRows(frames: Seq[DataFrame], flag: Column = lit(false)): Seq[(Long, Long)] = {
    val rdds = frames.map(_.select(flag).queryExecution.toRdd)
    val perPartition = frames.head.sparkSession.sparkContext
      .union(rdds.map(_.mapPartitions { rows =>
        var n, flagged = 0L
        rows.foreach { r => n += 1; if (!r.isNullAt(0) && r.getBoolean(0)) flagged += 1 }
        Iterator((n, flagged))
      }))
      .collect()
    val bounds = rdds.map(_.getNumPartitions).scanLeft(0)(_ + _)
    bounds.zip(bounds.tail).map { case (from, until) =>
      perPartition.slice(from, until).foldLeft((0L, 0L)) { case ((a, b), (n, f)) =>
        (a + n, b + f) }
    }
  }

  /** The committer thread one [[crawl]] call owns. Commits run on it one
    * at a time in submission (round) order, at most one in flight. */
  private final class Committer {
    private val thread = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "graft-frontier-commit"); t.setDaemon(true); t
    }
    private var inFlight: Option[Future[Unit]] = None

    /** Block until the in-flight commit has finished; rethrow its failure.
      * An interrupted wait leaves the commit in flight for [[drain]]. */
    def await(): Unit = inFlight.foreach { f =>
      try f.get()
      catch { case e: ExecutionException => throw e.getCause }
      finally if (f.isDone) inFlight = None
    }

    /** Start `commit` once the previous commit has finished without error:
      * after a failed commit no later one runs. */
    def submit(commit: => Unit): Unit = {
      await()
      inFlight = Some(thread.submit(new Callable[Unit] { def call(): Unit = commit }))
    }

    /** Wait out the in-flight commit of a failing crawl, recording its own
      * failure on the crawl's. */
    def drain(failure: Throwable): Unit =
      try await() catch { case e: Throwable => failure.addSuppressed(e) }

    def shutdown(): Unit = thread.shutdown()
  }

  private def emptyOrder(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, String, Int, String, Long, Double, Boolean)]
      .toDF("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk")
  }
}
