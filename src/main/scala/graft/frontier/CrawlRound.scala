package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.CrawlConfig
import graft.functions.{gf, UrlScoring}

/**
 * One BFS crawl round as a pure DataFrame→DataFrame computation
 * (reference loop: /root/reference/navigation.py:256-281 — fetch frontier,
 * extract links, next = discovered − visited). Everything is declarative
 * Catalyst; the only shuffles per round are
 *   (a) the salted per-host politeness rank,
 *   (b) the fetch join against the page store,
 *   (c) the seen anti-join.
 */
object CrawlRound {

  /** fetched/deferred split + discovered links + order rows for one round. */
  final case class RoundResult(
      order: DataFrame,        // CrawlOrderRow columns
      fetched: DataFrame,      // budgeted frontier rows joined with page columns
      deferred: DataFrame,     // frontier rows beyond this round's politeness budget
                               // (with hostFetched: of hosts with site budget left)
      discovered: DataFrame,   // new frontier candidates (already robots-filtered,
                               // NOT yet deduped against seen)
      raw: DataFrame,          // the materialized fetch-join frame (carries html);
                               // unpersist after the round when payload not kept
      hits: DataFrame)         // materialized store-probe hits (feeds raw and the
                               // miss anti-join); unpersist after the round

  /**
   * Two-phase salted per-host politeness rank (SURVEY.md W2 / §4 skew kill):
   * phase 1 ranks within (host, salt) so one hot host spreads over
   * `saltBuckets` tasks; phase 2 re-ranks the ≤ B·S survivors per host.
   * Total order: score desc, canonUrl asc (deterministic under any
   * parallelism — SURVEY.md §7.4 risk 1).
   */
  def politenessRank(frontier: DataFrame, cfg: CrawlConfig): DataFrame = {
    val ord = Seq(col("score").desc, col("canonUrl").asc)
    val salted = Window.partitionBy(col("host"), pmod(col("urlHash"), lit(cfg.saltBuckets)))
      .orderBy(ord: _*)
    val perHost = Window.partitionBy(col("host")).orderBy(ord: _*)
    frontier
      .withColumn("saltRank", row_number().over(salted))
      .filter(col("saltRank") <= cfg.perHostBudget)   // phase 1: local prune
      .drop("saltRank")
      .withColumn("hostRank", row_number().over(perHost)) // phase 2: ≤ B·S rows/host
  }

  /** Frontier columns derived from a canonical url + depth. The canon
    * expression is materialized ONCE as its own aliased column and every
    * derived column references the attribute — restating the (large)
    * canonicalize tree per derived column multiplied the plan size ~5×
    * and fed the per-round driver floor (BASELINE.md round-1). */
  def withFrontierCols(df: DataFrame, canon: Column, depth: Column): DataFrame =
    df.withColumn("canonUrl", canon)
      .withColumn("urlHash", xxhash64(col("canonUrl")))
      .withColumn("host", gf.url_host(col("canonUrl")))
      .withColumn("depth", depth)
      .withColumn("score", UrlScoring.urlScore(col("canonUrl"),
        concat(lit("https://"), col("host"), lit("/"))))

  /**
   * Probe-URL generation (healthcare_scraper.py:140-151): for each base
   * url, candidate facility-listing urls per facility keyword in four
   * suffix forms — a literal-array explode, resolved + deduped. Probes
   * that 404 (no page-store row) flow through the dead-letter path (T8),
   * exactly like the reference's failed probe fetches.
   */
  def probeUrls(bases: DataFrame, urlCol: String = "url"): DataFrame = {
    val variants = graft.functions.UrlPredicates.facilityKeywords
      .flatMap(p => Seq(s"/$p", s"/$p/", s"/$p.html", s"/$p.php"))
    bases.select(col(urlCol).as("base"),
      explode(array(variants.map(lit): _*)).as("probe"))
      .select(gf.resolve_url(col("base"), col("probe")).as("url"))
      .dropDuplicates("url")
  }

  /** Seed urls → round-0 frontier. */
  def seedFrontier(seeds: DataFrame, urlCol: String = "url"): DataFrame =
    withFrontierCols(seeds.withColumn("url", col(urlCol)),
      gf.canonicalize_url(col(urlCol)), lit(0))
      .dropDuplicates("urlHash")

  /** F2: the reference's 18 exclude substrings (navigation.py:370-373,
    * config.py:89-93) as one alternation. */
  val excludePattern: String =
    "careers|jobs|employment|blog|news|press|media|investor|privacy|terms|" +
    "sitemap\\.xml|login|signin|register|cart|checkout|\\.pdf|\\.jpg|\\.png"

  /**
   * One-pass link records from fetched pages via the multi-column
   * Generator (SURVEY.md C26 + F3's anchor-text half): a row per
   * `<a href>` anchor with (baseUrl, depth, href, anchor_text, rel).
   */
  def linkRecords(fetched: DataFrame): DataFrame =
    fetched
      .filter(col("fetchOk"))
      .select(col("canonUrl").as("baseUrl"), col("depth"),
        gf.extract_links(col("html")).as(Seq("href", "anchor_text", "rel")))

  /**
   * Extract link candidates from fetched pages: anchor Generator →
   * resolve → canonicalize → score; non-web schemes + excluded patterns
   * dropped; robots disallow prefixes enforced via broadcast join
   * (SURVEY.md C26/C2/C3/F2/J5).
   */
  def discoverLinks(fetched: DataFrame, robots: DataFrame, cfg: CrawlConfig): DataFrame = {
    val hrefs = linkRecords(fetched)
      .filter(!col("href").rlike("^(mailto:|tel:|javascript:)"))
    val canon = gf.canonicalize_url(gf.resolve_url(col("baseUrl"), col("href")))
    // W7: pagination-chain cap — "next page" urls carry a page number;
    // chains deeper than maxPageNo are cut (navigation.py:451's 50-page
    // guard, as a declarative filter instead of a loop counter)
    val pn = regexp_extract(lower(col("canonUrl")), "page[-=/](\\d{1,9})", 1)
    val pageNo = when(pn === "", lit(0)).otherwise(pn.cast("int")) // '' cast throws under ANSI
    val linked = withFrontierCols(hrefs.withColumn("url", col("href")),
        canon, col("depth") + 1)
      .filter(col("depth") <= cfg.maxDepth && col("score") >= cfg.minScore)
      .filter(!lower(col("canonUrl")).rlike(excludePattern))
      .filter(pageNo <= cfg.maxPageNo)
      .select("url", "canonUrl", "urlHash", "host", "depth", "score")
    // robots: drop urls whose path starts with a disallowed prefix (J5)
    linked.join(broadcast(robots.select(col("host"), col("disallow"))), Seq("host"), "left")
      .filter(col("disallow").isNull ||
        !exists(col("disallow"), d => startswith(gf.url_path(col("canonUrl")), d)))
      .drop("disallow")
  }

  /**
   * Deduplicate frontier candidates by urlHash, keeping min depth and the
   * lexicographically smallest original form — deterministic under any
   * partitioning (never `first()`, SURVEY.md SO3).
   */
  def dedupeCandidates(cands: DataFrame): DataFrame =
    cands.groupBy("urlHash")
      .agg(min("url").as("url"), min("canonUrl").as("canonUrl"),
        min("host").as("host"), min("depth").as("depth"), min("score").as("score"))
      .select("url", "canonUrl", "urlHash", "host", "depth", "score")

  /**
   * Run one round. `pages` must carry (urlHash, url, html, text, lang) with
   * urlHash = xxhash64(canonicalize(url)) precomputed. `ck` pins shared
   * intermediates ([[graft.Pin]] in the crawl drivers) so the politeness
   * rank and fetch join are computed exactly once per round — every
   * returned frame derives from a pinned parent.
   */
  def run(round: Int, frontier: DataFrame, pages: DataFrame, robots: DataFrame,
          cfg: CrawlConfig, ck: DataFrame => DataFrame = identity,
          hostFetched: Option[DataFrame] = None): RoundResult = {
    // L3: cumulative per-site cap — effective budget = min(B, maxPages - done)
    // T3/J5: robots crawl-delay respected as a per-round rate cap — when
    // cfg.roundSeconds > 0 a round models one live politeness window, so a
    // host with crawl-delay d gets at most ceil(roundSeconds/d) fetches per
    // round (the reference's 30 rpm ↔ delay math, crawl_config.py:15 +
    // config.py:66). Drain mode (roundSeconds = 0, offline page store)
    // skips pacing entirely.
    val ranked0 = politenessRank(frontier, cfg)
    val delayCapped =
      if (cfg.roundSeconds > 0 && robots.columns.contains("crawlDelay"))
        // max() both uniquifies per host (a duplicated robots row must
        // not duplicate budget-path frontier rows) and takes the most
        // conservative delay
        ranked0.join(broadcast(robots.groupBy("host")
          .agg(max("crawlDelay").as("__delay"))
          .select(col("host"),
            when(col("__delay") > 0,
              ceil(lit(cfg.roundSeconds) / col("__delay")).cast("int")).as("__delayCap"))),
          Seq("host"), "left")
      else ranked0.withColumn("__delayCap", lit(null).cast("int"))
    val rateCap = least(lit(cfg.perHostBudget),
      coalesce(col("__delayCap"), lit(Int.MaxValue)))
    val ranked = ck(hostFetched match {
      case Some(hc) => delayCapped.join(hc, Seq("host"), "left")
        .withColumn("__siteLeft",
          lit(cfg.maxPagesPerSite) - coalesce(col("hostDone"), lit(0L)))
        // a host past its cap leaves the frontier: deferring its rows
        // would keep a capped crawl (or stream) busy until maxRounds
        .filter(col("__siteLeft") > 0)
        .withColumn("__budget", least(rateCap, col("__siteLeft")))
        .drop("hostDone", "__delayCap", "__siteLeft")
      case None => delayCapped.withColumn("__budget", rateCap)
        .drop("__delayCap")
    })
    val budgeted = ranked.filter(col("hostRank") <= col("__budget")).drop("__budget")
    val deferred = ranked.filter(col("hostRank") > col("__budget"))
      .drop("hostRank", "__budget")

    // fetch = equi join on the 64-bit identity. The budgeted frontier is
    // broadcast (it is budget-bounded: ≤ B·hosts slim rows) so the page
    // store is only SCANNED and probed — never shuffled, never built into
    // a hash map carrying page payloads (SURVEY.md J7). With a bucketed
    // store (cfg.pageBuckets > 0, PageStore), `bucket` joins as an extra
    // equi-key on the partition column, so dynamic partition pruning
    // skips every bucket the round's frontier cannot hit — the runtime
    // file skipping an Iceberg bucket transform gives at storage scale.
    val bucketed = cfg.pageBuckets > 0 && pages.columns.contains("bucket")
    val hits0 =
      if (bucketed)
        pages.select(col("bucket"), col("urlHash"), col("html"), col("text"),
            col("lang"), col("warc_ts"))
          .join(broadcast(budgeted.withColumn("bucket",
            pmod(col("urlHash"), lit(cfg.pageBuckets.toLong)))),
            Seq("bucket", "urlHash"))
          .drop("bucket")
      else
        pages.select(col("urlHash"), col("html"), col("text"), col("lang"),
            col("warc_ts"))
          .join(broadcast(budgeted), Seq("urlHash"))
    val hits = ck(hits0.withColumn("fetchOk", lit(true)))
    // fetch misses (dead-letter rows, T8): anti-join against the
    // (budget-sized, materialized) HITS — never a second store scan
    val misses = budgeted
      .join(hits.select("urlHash"), Seq("urlHash"), "left_anti")
      .withColumn("html", lit(null).cast("binary"))
      .withColumn("text", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("warc_ts", lit(null).cast("timestamp"))
      .withColumn("fetchOk", lit(false))
    // one materialization per round; derived frames below read the cache
    val joined = ck(hits.unionByName(misses))

    // slim copy is checkpointed itself so `raw` can be unpersisted after
    // the round without forcing recomputation of the fetch join
    val fetched = if (cfg.keepPayload) joined else ck(joined.drop("html", "text"))
    val discovered = ck(dedupeCandidates(discoverLinks(joined, robots, cfg)))

    val order = fetched.select(
      lit(round).as("round"), col("host"), col("hostRank"),
      col("canonUrl"), col("urlHash"), col("score"), col("fetchOk"))

    RoundResult(order, fetched, deferred, discovered, joined, hits)
  }
}
