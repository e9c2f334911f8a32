package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.Pin

/**
 * Sitemap / robots.txt parsing (SURVEY.md S4/S5) over raw-document columns
 * — pure regexp + explode, no XML engine needed for the <urlset> /
 * <sitemapindex> fragment shapes the reference consumes
 * (/root/reference/navigation.py:68-135).
 */
object Sitemap {

  /** <loc> entries of a sitemap XML blob → one row per url. Input: rows
    * with (host, xml). */
  def explodeLocs(sitemaps: DataFrame, xmlCol: String = "xml"): DataFrame =
    sitemaps.select(col("*"),
        explode(regexp_extract_all(col(xmlCol), lit("<loc>\\s*([^<\\s]+)\\s*</loc>"), lit(1)))
          .as("loc"))
      .drop(xmlCol)

  /** True when the sitemap blob is an index of further sitemaps. */
  def isSitemapIndex(xml: Column): Column = xml.contains("<sitemapindex")

  /** Classify sitemap urls the way navigation.py:117-131 does: facility
    * detail pages vs listing pages vs other. */
  def classifyLoc(loc: Column): Column =
    when(lower(loc).rlike("(/locations?/|/facilit(y|ies)/|/communit(y|ies)/)[^/]+/?$"), "facility")
      .when(lower(loc).rlike("/(locations?|facilities|communities|directory)/?$"), "listing")
      .otherwise("other")

  /**
   * Recursive sitemap-index resolution (the sitemaps.org two-level
   * protocol; real sites nest deeper): starting from entry sitemaps,
   * `<sitemapindex>` blobs explode into child sitemap urls which JOIN
   * BACK against the fetched-sitemap store — the same fetch-join shape
   * as the page store, so each level is one equi-join, never a driver
   * loop over sitemap files. Non-index blobs contribute their `<loc>`s
   * as page urls. Cycles/dups are cut by removing already-visited
   * sitemap urls each level; depth is capped.
   *
   * @param entry  rows (host, url, xml) — the robots-discovered entry points
   * @param store  rows (url, xml) — every fetched sitemap blob
   * @return       rows (host, loc) — page urls only
   */
  def resolveIndexes(entry: DataFrame, store: DataFrame, maxDepth: Int = 3): DataFrame = {
    var frontier = entry.select(col("host"), col("url"), col("xml"))
    var seen = entry.select(col("url"))
    var pages: DataFrame = null
    var depth = 0
    while (depth < maxDepth) {
      val locs = frontier
        .withColumn("__isIdx", isSitemapIndex(col("xml")))
        .select(col("host"), col("__isIdx"),
          explode(regexp_extract_all(col("xml"),
            lit("<loc>\\s*([^<\\s]+)\\s*</loc>"), lit(1))).as("loc"))
        .transform(Pin(_)) // feeds both branches + next level
      val pageLocs = locs.filter(!col("__isIdx")).select("host", "loc")
      pages = if (pages == null) pageLocs else pages.union(pageLocs)
      val children = locs.filter(col("__isIdx"))
        .select(col("host"), col("loc").as("url"))
        .join(seen, Seq("url"), "left_anti") // cycle/dup cut
        .distinct()
      frontier = children.join(store, Seq("url"))
        .select(col("host"), col("url"), col("xml"))
      seen = seen.union(children.select("url"))
      depth += 1
    }
    pages
  }

  /** robots.txt text → (host, disallow array, crawl_delay, sitemaps array).
    * Input rows: (host, robots_txt). Only the directives the crawl uses. */
  def parseRobots(robots: DataFrame, txtCol: String = "robots_txt"): DataFrame = {
    val txt = col(txtCol)
    robots.select(
      col("host"),
      regexp_extract_all(txt, lit("(?i)Disallow:\\s*(\\S+)"), lit(1)).as("disallow"),
      coalesce(
        when(regexp_extract(txt, "(?i)Crawl-delay:\\s*([0-9.]+)", 1) === "", lit(null))
          .otherwise(regexp_extract(txt, "(?i)Crawl-delay:\\s*([0-9.]+)", 1)).cast("double"),
        lit(1.0)).as("crawlDelay"),
      regexp_extract_all(txt, lit("(?i)Sitemap:\\s*(\\S+)"), lit(1)).as("sitemaps"))
  }

  /** RFC 9309 variant of the J5 robots filter: keep the candidates whose
    * path the host's FULL robots.txt allows for `agent` (group selection,
    * wildcard rules, longest-match precedence — [[graft.core.RobotsRules]])
    * — versus [[parseRobots]] + CrawlRound's prefix-only Disallow gate.
    * `robotsRaw` is (host, robots_txt), one row per host — bounded by the
    * crawl's host count exactly like CrawlRound's robots broadcast, so the
    * broadcast is safe by the same contract; the parse runs once per host
    * via the expression's blob cache, not once per row. */
  def filterAllowedRfc(candidates: DataFrame, robotsRaw: DataFrame,
                       agent: String, urlCol: String = "canonUrl"): DataFrame =
    candidates
      .join(broadcast(robotsRaw.select(col("host"), col("robots_txt"))),
        Seq("host"), "left")
      .filter(col("robots_txt").isNull ||
        gf.robots_decision(col("robots_txt"), lit(agent),
          gf.url_path(col(urlCol))).getField("allowed"))
      .drop("robots_txt")
}
