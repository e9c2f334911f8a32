package graft.frontier

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.CrawlConfig
import org.apache.spark.sql.graftbridge.Bridge
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
 * Its round body is [[step]], which `graft.streaming.StreamingCrawl`
 * runs once per micro-batch: both drivers share one round semantics and
 * one [[FrontierStore]] layout, so [[crawl]] resumes a store the stream
 * committed.
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
      val pagesKeyed = keyedPages.getOrElse(keyPages(pages, shufflePartitions(spark)))
      // resume from the last committed snapshot if a store is present (T6)
      val resumeRound = store.flatMap(_.lastCommittedRound)
      var state = resumeRound match {
        case Some(k) => storedState(store.get, k, ck(store.get.readFrontier(k)))
        case None =>
          // probe seeding (healthcare_scraper.py:140-151): candidate
          // facility-listing urls per seed domain join the round-0 frontier
          val seeded = if (cfg.probeSeeds)
            seeds.select("url").unionByName(CrawlRound.probeUrls(seeds))
          else seeds
          val frontier = ck(CrawlRound.seedFrontier(seeded))
          val s0 = counted(RoundState(0, frontier, 0L, frontier.select("urlHash").limit(0), 0L,
            None, hostDone(emptyOrder(spark))))
          // the seed frontier commits as round 0 while round 1 computes
          store.foreach(st => commits.submit(commitSeeds(st, frontier)))
          s0
      }
      // robots is joined (broadcast) every round — materialize it once
      // instead of re-scanning the robots table per round
      val robotsK = ck(robots)

      // only the rounds' results are kept: a kept Step would pin every
      // checkpoint it references for the whole crawl
      val orders = scala.collection.mutable.ArrayBuffer[DataFrame]()
      val fetchedAll = scala.collection.mutable.ArrayBuffer[DataFrame]()
      val metrics = scala.collection.mutable.ArrayBuffer[RoundMetrics]()
      while (state.round < maxRounds && state.frontierCount > 0) {
        val t0 = System.nanoTime()
        val s = step(state, pagesKeyed, robotsK, cfg)
        // commit this round while the next one computes. submit() first
        // waits for the previous commit, which read `s.from.frontier`: it
        // lands before release() unpersists that frame
        store.foreach(st => commits.submit(commit(st, s, cfg, lag = 0)))
        s.release(cfg)
        orders += s.result.order
        fetchedAll += s.result.fetched
        state = s.to
        metrics += s.metrics.copy(wallMs = (System.nanoTime() - t0) / 1000000L)
      }
      commits.await() // the last round's commit
      CrawlResult(
        orders.reduceOption(_ unionByName _).getOrElse(emptyOrder(spark)),
        fetchedAll.reduceOption(_ unionByName _).getOrElse(pagesKeyed.limit(0)),
        state.seen, metrics.toSeq)
    } catch {
      case t: Throwable => commits.drain(t); throw t
    } finally commits.shutdown()
  }

  // ---- the round step: the one place round semantics live ----

  /** The crawl state after round `round`: the next frontier, the seen set
    * and its bloom pre-filter (None: rebuilt from `seen` on the next
    * advance), and the pages fetched so far per host (L3, config.py:67). */
  private[graft] final case class RoundState(
      round: Int, frontier: DataFrame, frontierCount: Long,
      seen: DataFrame, seenCount: Long,
      bloom: Option[SeenSet.BloomState], hostFetched: DataFrame)

  /** One round run by [[step]], `from` one state `to` the next. */
  private[graft] final case class Step(
      from: RoundState, to: RoundState, result: CrawlRound.RoundResult, metrics: RoundMetrics) {

    /** Unpersist what only this round read. Call once nothing reads
      * `from` again (the previous round's commit reads its frontier). */
    def release(cfg: CrawlConfig): Unit = {
      result.hits.unpersist() // joined (raw) is the cached parent downstream
      if (!cfg.keepPayload) result.raw.unpersist() // page payloads were transient
      from.seen.unpersist(); from.frontier.unpersist()
      from.bloom.foreach(_.blooms.unpersist())
    }
  }

  /** LAZY local checkpoints: lineage truncation + caching piggyback on the
    * next action instead of running a dedicated job each (every ck'd frame
    * gets an action within the round). The carried size estimate is
    * clamped, see [[Bridge.clampSizeEstimate]]. */
  private[graft] val ck: DataFrame => DataFrame =
    df => Bridge.clampSizeEstimate(df.localCheckpoint(false))

  /** Run round `from.round + 1`: the ranked, capped fetch, the seen union
    * and bloom advance, the seen-filtered, deduped next frontier and the
    * per-host fetch tally, in two count jobs that materialize every
    * checkpoint. */
  private[graft] def step(from: RoundState, pagesKeyed: DataFrame, robots: DataFrame,
                          cfg: CrawlConfig): Step = {
    val t0 = System.nanoTime()
    val round = from.round + 1
    // ck inside run(): rank, fetch join and discovery each computed once
    val r = CrawlRound.run(round, from.frontier, pagesKeyed, robots, cfg, ck,
      Some(from.hostFetched))
    val delta = r.fetched.select("urlHash")
    // A9/T7: fetched rows and misses, counted in the job that
    // materializes the fetched checkpoint
    val Seq((fetchedCount, misses)) = countRows(Seq(r.fetched), !col("fetchOk"))
    val seen = ck(from.seen.unionByName(delta)
      .repartition(shufflePartitions(from.seen.sparkSession), col("urlHash")))
    val seenCount = from.seenCount + fetchedCount // budgeted rows are urlHash-unique
    val bs0 = SeenSet.advance(from.bloom, delta, seen, seenCount, cfg)
    val bs = bs0.copy(blooms = ck(bs0.blooms))
    val fresh = SeenSet.filterUnseen(r.discovered, seen, seenCount, cfg, Some(bs.blooms))
    val next = ck(CrawlRound.dedupeCandidates(r.deferred.unionByName(fresh)))
    val Seq(nextCount, discoveredCount, deferredCount) =
      countRows(Seq(next, r.discovered, r.deferred)).map(_._1)
    val hostFetched = ck(from.hostFetched
      .unionByName(r.fetched.select(col("host"), lit(1L).as("hostDone")))
      .groupBy("host").agg(sum("hostDone").as("hostDone")))
    Step(from, RoundState(round, next, nextCount, seen, seenCount, Some(bs), hostFetched), r,
      RoundMetrics(round, fetchedCount, misses, discoveredCount,
        dedupHits = discoveredCount + deferredCount - nextCount,
        frontierNext = nextCount, seenTotal = seenCount,
        wallMs = (System.nanoTime() - t0) / 1000000L))
  }

  /** The state after round `k` of `st` (read through `k` only, even when
    * the store is past it), with `frontier` as round k+1's input. */
  private[graft] def storedState(st: FrontierStore, k: Int, frontier: DataFrame): RoundState = {
    val spark = frontier.sparkSession
    val seen = ck(st.readSeenUpTo(k).repartition(shufflePartitions(spark), col("urlHash")))
    val hostFetched =
      if (k > 0) ck(hostDone(st.readOrderUpTo(k))) else hostDone(emptyOrder(spark))
    counted(RoundState(k, frontier, 0L, seen, 0L, None, hostFetched))
  }

  /** `s` with its seen and frontier counts, in one job. */
  private def counted(s: RoundState): RoundState = {
    val Seq(seenCount, frontierCount) = countRows(Seq(s.seen, s.frontier)).map(_._1)
    s.copy(seenCount = seenCount, frontierCount = frontierCount)
  }

  private[graft] def commitSeeds(st: FrontierStore, frontier: DataFrame): Unit =
    st.writeRound(0, frontier, frontier.select("urlHash").limit(0),
      emptyOrder(frontier.sparkSession))

  /** Commit `s`'s round k; every `cfg.compactEvery`-th round also compacts
    * through round k - `lag` and gc's (readers are manifest-derived, so
    * resume across it is byte-identical). A driver that may replay round k
    * from the store's round k-1 passes lag 1. */
  private[graft] def commit(st: FrontierStore, s: Step, cfg: CrawlConfig, lag: Int): Unit = {
    val k = s.to.round
    st.writeRound(k, s.to.frontier, s.result.fetched.select("urlHash"), s.result.order)
    if (cfg.compactEvery > 0 && k % cfg.compactEvery == 0 && k - lag >= 1) {
      st.compact(k - lag); st.gc()
    }
  }

  private def hostDone(order: DataFrame): DataFrame =
    order.groupBy("host").agg(count("*").as("hostDone"))

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

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

  private[graft] def emptyOrder(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, String, Int, String, Long, Double, Boolean)]
      .toDF("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk")
  }
}
