package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CrawlConfig
import graft.frontier.{CrawlRound, Crawler, FrontierStore, PageStore, SeenSet}
import graft.frontier.Crawler.RoundMetrics
import graft.synth.{PageSynth, SynthConfig}

object CrawlBench {

  def rmTree(dir: String): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  def treeBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
  }

  /** Unpersist every cached RDD that is not in `keep`: the crawl loop
    * leaves its final checkpoints cached, and a later pass must not pay
    * for an earlier pass's memory. */
  def releaseExcept(spark: SparkSession, keep: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }

  def cachedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Decimal digits of the optimizer's size estimate for a frame: an exact
    * count, from the bit length and one power-of-ten comparison. */
  def sizeEstimateDigits(df: DataFrame): Long = {
    val v = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.stats.sizeInBytes.bigInteger
    if (v.signum == 0) 1L
    else {
      val guess = (v.bitLength * math.log10(2.0)).toLong + 1
      if (v.compareTo(java.math.BigInteger.TEN.pow((guess - 1).toInt)) < 0) guess - 1
      else guess
    }
  }

  private def emptyOrder(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, String, Int, String, Long, Double, Boolean)]
      .toDF("round", "host", "hostRank", "canonUrl", "urlHash", "score", "fetchOk")
  }

  final case class Traced(metrics: Seq[RoundMetrics], digitsPerRound: Seq[Long])

  /**
   * `Crawler.crawl`'s round loop composed from the same public layer
   * functions, with one span per layer call and one forced action per
   * span, so each span holds its own work. It must reproduce `crawl`'s
   * per-round fetch counts exactly. The size-estimate digits of each
   * round's seen frame are read in a `bench.*` span that no layer owns.
   */
  def tracedCrawl(spark: SparkSession, robots: DataFrame, seeds: DataFrame,
                  cfg: CrawlConfig, maxRounds: Int, store: Option[FrontierStore],
                  pagesKeyed: DataFrame, tr: Tracer): Traced = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val ck = (df: DataFrame) => df.localCheckpoint(false)
    val resumeRound = store.flatMap(_.lastCommittedRound)
    var frontier: DataFrame = null
    var seen: DataFrame = null
    var hostFetched: DataFrame = null
    var seenCount = 0L
    var frontierCount = 0L
    resumeRound match {
      case Some(k) => tr.span("store.resume_read") {
        val st = store.get
        frontier = ck(st.readFrontier(k))
        seen = ck(st.readSeenUpTo(k).repartition(parts, col("urlHash")))
        hostFetched = ck(
          (if (k > 0) st.readOrderUpTo(k) else emptyOrder(spark))
            .groupBy("host").agg(count("*").as("hostDone")))
        seenCount = seen.count()
        frontierCount = frontier.count()
        hostFetched.count()
      }
      case None =>
        tr.span("crawler.seed") {
          frontier = ck(CrawlRound.seedFrontier(seeds))
          seen = frontier.select("urlHash").limit(0)
          hostFetched = emptyOrder(spark).groupBy("host").agg(count("*").as("hostDone"))
          frontierCount = frontier.count()
        }
        store.foreach(st => tr.span("store.write") {
          st.writeRound(0, frontier, frontier.select("urlHash").limit(0), emptyOrder(spark))
        })
    }
    var bloomState: Option[SeenSet.BloomState] = None
    val robotsK = ck(robots)
    val metrics = ArrayBuffer[RoundMetrics]()
    val digits = ArrayBuffer[Long]()
    var round = resumeRound.getOrElse(0) + 1
    while (round <= maxRounds && frontierCount > 0) tr.span("crawler.round") {
      val t0 = System.nanoTime()
      val obs = Observation(s"graftbench-round-$round")
      val (r, fetchedCount) = tr.span("round.rank_fetch") {
        val r = CrawlRound.run(round, frontier, pagesKeyed, robotsK, cfg, ck, Some(hostFetched))
        (r, r.fetched.observe(obs,
          sum(when(!col("fetchOk"), 1L).otherwise(0L)).as("misses")).count())
      }
      val delta = r.fetched.select("urlHash")
      val newSeen = tr.span("crawler.seen_union") {
        val s = ck(seen.unionByName(delta).repartition(parts, col("urlHash")))
        s.count(); s
      }
      val newSeenCount = seenCount + fetchedCount
      val discoveredCount = tr.span("round.discover")(r.discovered.count())
      val bs = tr.span("seen.advance") {
        val bs0 = SeenSet.advance(bloomState, delta, newSeen, newSeenCount, cfg)
        val b = bs0.copy(blooms = ck(bs0.blooms))
        b.blooms.count(); b
      }
      val (next, nextCount) = tr.span("seen.filter") {
        val fresh = SeenSet.filterUnseen(r.discovered, newSeen, newSeenCount, cfg,
          Some(bs.blooms))
        val n = ck(CrawlRound.dedupeCandidates(r.deferred.unionByName(fresh)))
        (n, n.count())
      }
      store.foreach { st =>
        tr.span("store.write") {
          st.writeRound(round, next, delta, r.order.select("round", "host",
            "hostRank", "canonUrl", "urlHash", "score", "fetchOk"))
        }
        if (cfg.compactEvery > 0 && round % cfg.compactEvery == 0)
          tr.span("store.compact") { st.compact(round); st.gc() }
      }
      val deferredCount = tr.span("crawler.bookkeeping")(r.deferred.count())
      val misses = Option(obs.get.getOrElse("misses", 0L))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      metrics += RoundMetrics(round, fetchedCount, misses, discoveredCount,
        dedupHits = discoveredCount + deferredCount - nextCount,
        frontierNext = nextCount, seenTotal = newSeenCount,
        wallMs = (System.nanoTime() - t0) / 1000000L)
      hostFetched = tr.span("crawler.host_fetched") {
        val h = ck(hostFetched
          .unionByName(r.fetched.groupBy("host").agg(count("*").as("hostDone")))
          .groupBy("host").agg(sum("hostDone").as("hostDone")))
        h.count(); h
      }
      r.hits.unpersist()
      if (!cfg.keepPayload) r.raw.unpersist()
      seen.unpersist(); frontier.unpersist()
      bloomState.foreach(_.blooms.unpersist())
      bloomState = Some(bs)
      seen = newSeen; seenCount = newSeenCount
      frontier = next; frontierCount = nextCount
      digits += tr.span("bench.size_estimate")(sizeEstimateDigits(seen))
      round += 1
    }
    Traced(metrics.toSeq, digits.toSeq)
  }

  /** Per-layer counters of a crawl's rounds. */
  def roundCounters(ms: Seq[RoundMetrics]): Map[String, Double] = {
    val discovered = ms.map(_.discovered).sum
    val hits = ms.map(_.dedupHits).sum
    Map(
      "crawler.round_ms_max" -> (0L +: ms.map(_.wallMs)).max.toDouble,
      "crawler.fetched" -> ms.map(_.fetched).sum.toDouble,
      "crawler.fetch_misses" -> ms.map(_.fetchMisses).sum.toDouble,
      "crawler.discovered" -> discovered.toDouble,
      "crawler.dedup_hits" -> hits.toDouble,
      "seen.dedup_hit_ratio" -> (if (discovered == 0) 0.0 else hits.toDouble / discovered))
  }

  def engine(w: Recorder.Window, cores: Int): Map[String, Double] = Map(
    "catalyst.analysis_ms" -> w.analysisMs,
    "catalyst.optimization_ms" -> w.optimizationMs,
    "catalyst.planning_ms" -> w.planningMs,
    "spark.jobs" -> w.jobs.toDouble,
    "spark.task_s" -> w.taskS,
    "spark.driver_gap_s" -> w.driverGapS,
    "spark.core_busy_frac" -> w.coreBusyFrac(cores),
    "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
    "spark.shuffle_read_bytes" -> w.shuffleRead.toDouble,
    "spark.spill_bytes" -> w.spill.toDouble,
    "spark.failed_tasks" -> w.failedTasks.toDouble)

  def traceSelf(tr: Tracer): Map[String, Double] = Map(
    "round.rank_fetch_ms" -> tr.selfMs("round.rank_fetch"),
    "round.discover_ms" -> tr.selfMs("round.discover"),
    "seen.advance_ms" -> tr.selfMs("seen.advance"),
    "seen.filter_ms" -> tr.selfMs("seen.filter"),
    "crawler.self_ms" -> tr.layerSelfMs("crawler"),
    "store.write_ms" -> tr.selfMs("store.write"),
    "store.compact_ms" -> tr.selfMs("store.compact"),
    "store.resume_read_ms" -> tr.selfMs("store.resume_read"))

  def checkFetches(checks: Checks, what: String, got: Seq[RoundMetrics],
                   expected: Seq[Long]): Unit = {
    val g = got.map(_.fetched)
    checks.check(s"$what.rounds", g.size == expected.size,
      s"ran ${g.size} rounds, expected ${expected.size} (fetches ${g.mkString(",")})")
    g.zip(expected).zip(got.map(_.round)).foreach { case ((a, e), r) =>
      checks.check(s"$what.round$r.fetched", a == e, s"fetched $a, expected $e")
    }
  }
}

/**
 * `crawl`: BFS from the root of every host over the bucketed on-disk
 * `PageStore`, committing every round to a `FrontierStore` (compacting
 * every 2nd), then a fresh `Crawler.crawl` that resumes from the store.
 * Rounds grow from narrow (40 fetches: per-round driver, Catalyst and
 * store work dominate) to wide (thousands: `CrawlRound` fetch and
 * discovery and the `SeenSet` anti-join dominate).
 */
final class Crawl(c: Ctx) extends Workload {
  import CrawlBench._
  import Crawl._
  private val spark = c.spark
  private val synth = SynthConfig(nPages = Pages, nHosts = 40, hotFrac = 0.4, seed = c.seed)
  private val cfg = CrawlConfig(maxDepth = 30, perHostBudget = 20000,
    maxPagesPerSite = Int.MaxValue, maxPageNo = Int.MaxValue,
    saltBuckets = 16, bloomBuckets = 32, keepPayload = false,
    pageBuckets = Buckets, compactEvery = 2)
  private var pages: DataFrame = _
  private var robots: DataFrame = _
  private var seeds: DataFrame = _
  private val storeDir = s"${c.workDir}/frontier-store"
  private def expected =
    if (c.inject("fetch")) Fetches.updated(0, Fetches.head + 1) else Fetches

  def setup(): Unit = {
    val dir = s"${c.workDir}/pagestore"
    rmTree(dir)
    // one writer task per bucket: 64 files, not 64 per task
    val bucket = pmod(graft.functions.gf.url_id(col("url")), lit(Buckets.toLong))
    PageStore.write(PageSynth.pages(spark, synth).toDF().repartition(c.cores, bucket),
      dir, Buckets)
    pages = PageStore.open(spark, dir)
    robots = PageSynth.robots(spark, synth).toDF()
    seeds = PageSynth.wideSeeds(spark, synth, 1).toDF("url")
  }

  private final case class Run(bfs: Crawler.CrawlResult, bfsS: Double,
      resume: Crawler.CrawlResult, resumeS: Double, files: Long, bytes: Long) {
    def metrics: Seq[RoundMetrics] = bfs.metrics ++ resume.metrics
    def wallS: Double = bfsS + resumeS
  }

  private def crawl(what: String, maxRounds: Int): Option[(Crawler.CrawlResult, Double)] = {
    val (r, s) = Stats.timeS(c.checks.op(s"crawl.$what")(Crawler.crawl(spark, null,
      robots, seeds, cfg, maxRounds, Some(new FrontierStore(spark, storeDir)), Some(pages))))
    r.map((_, s))
  }

  private def run(): Option[Run] = {
    rmTree(storeDir)
    for {
      (bfs, bfsS) <- crawl("bfs", BfsRounds)
      files = new FrontierStore(spark, storeDir).fileCount
      bytes = treeBytes(storeDir)
      (res, resS) <- crawl("resume", ResumeTo)
    } yield Run(bfs, bfsS, res, resS, files, bytes)
  }

  private def checkOutput(r: Run): Unit = {
    checkFetches(c.checks, "bfs", r.bfs.metrics, expected)
    checkFetches(c.checks, "resume", r.resume.metrics, ResumeFetches)
    val n = r.resume.seen.count()
    c.checks.check("resume.seen_rows", n == SeenRows, s"seen $n rows")
    val d = Digest.of(r.resume.seen.select("urlHash"))
    c.checks.check("resume.seen_digest", d == SeenDigest, s"seen digest $d")
  }

  def pass(): PassResult = {
    val keep = cachedIds(spark)
    val r = run()
    r.foreach(checkOutput)
    releaseExcept(spark, keep)
    r.map(r => PassResult(r.wallS, r.metrics.map(_.wallMs.toDouble), r.metrics.map(_.fetched).sum))
      .getOrElse(PassResult(Double.NaN, Nil, 0L))
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val keep = cachedIds(spark)
    val (r, w) = c.rec.window(run())
    r.foreach(checkOutput)
    val digits = r.map(x => sizeEstimateDigits(x.bfs.seen)).getOrElse(0L)
    releaseExcept(spark, keep)
    val before = pass()
    rmTree(storeDir)
    val (traced, tracedWall) = Stats.timeS(Seq(BfsRounds, ResumeTo).map(n =>
      tracedCrawl(spark, robots, seeds, cfg, n, Some(new FrontierStore(spark, storeDir)),
        pages, tr)))
    val ms = r.map(_.metrics).getOrElse(Nil)
    val tMs = traced.flatMap(_.metrics)
    c.checks.check("crawl.traced_fetches", tMs.map(_.fetched) == ms.map(_.fetched),
      s"traced ${tMs.map(_.fetched).mkString(",")} vs ${ms.map(_.fetched).mkString(",")}")
    System.err.println("[graftbench] seen size-estimate digits per round: " +
      traced.flatMap(_.digitsPerRound).mkString(","))
    releaseExcept(spark, keep)
    val after = pass()
    val wall = r.map(_.wallS).getOrElse(Double.NaN)
    engine(w, c.cores) ++ roundCounters(ms) ++ traceSelf(tr) ++ Map(
      "crawler.jobs_per_round" -> w.jobs.toDouble / math.max(ms.size, 1),
      "crawler.urls_per_s" -> ms.map(_.fetched).sum / wall,
      "crawler.bfs_s" -> r.map(_.bfsS).getOrElse(0.0),
      "crawler.resume_s" -> r.map(_.resumeS).getOrElse(0.0),
      "catalyst.size_estimate_digits" -> digits.toDouble,
      "store.files" -> r.map(_.files.toDouble).getOrElse(0.0),
      "store.bytes" -> r.map(_.bytes.toDouble).getOrElse(0.0),
      "pagestore.buckets_read_frac" ->
        (if (w.bucketsTotal == 0) 0.0 else w.bucketsRead.toDouble / w.bucketsTotal),
      "trace.overhead_frac" -> Stats.overhead(tracedWall - tr.layerSelfMs("bench") / 1000,
        before.wallS, after.wallS))
  }
}

object Crawl {
  val Pages = 20000L
  val Buckets = 64
  val BfsRounds = 4
  val ResumeTo = 5
  val Fetches: Seq[Long] = Seq(40, 256, 1607, 5023)
  val ResumeFetches: Seq[Long] = Seq(1841)
  val SeenRows = 8767L
  val SeenDigest = "rows=8767;s=cd10deb;1142f645849a;10ef6acd32f0;6a4be2d61d4e84a8"
}
