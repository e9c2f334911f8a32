package graft.frontier

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Snapshot change-data-capture: row-level diff between two crawl (or
 * corpus) snapshots keyed by a 64-bit id and compared on a content
 * fingerprint — the primitive behind incremental recrawl scheduling
 * (recrawl `changed`, enqueue `added`, retire `removed`) and
 * incremental downstream prep (reprocess only `added ∪ changed`).
 *
 * Scale shape: ONE full-outer equi-join on the id — both sides shuffle
 * once on the same key (co-partitioned snapshots skip it entirely);
 * fingerprints are compared post-join, no text moves. Statuses:
 * added / removed / changed / unchanged.
 */
object SnapshotDiff {

  /** (id, status) for every id present in either snapshot. Inputs are
    * (idCol, fpCol) frames — reduce page stores to id + fingerprint
    * before calling so only 16-byte digests shuffle. */
  def diff(oldSnap: DataFrame, newSnap: DataFrame,
           idCol: String, fpCol: String): DataFrame = {
    val o = oldSnap.select(col(idCol), col(fpCol).as("__fpOld"))
    val n = newSnap.select(col(idCol), col(fpCol).as("__fpNew"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__fpOld").isNull, "added")
          .when(col("__fpNew").isNull, "removed")
          .when(col("__fpOld") =!= col("__fpNew"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Per-status counts — the recrawl planner's summary row. */
  def summary(oldSnap: DataFrame, newSnap: DataFrame,
              idCol: String, fpCol: String): DataFrame =
    diff(oldSnap, newSnap, idCol, fpCol)
      .groupBy("status").agg(count(lit(1)).as("n"))

  /** Recrawl inputs composed from a CDC diff: a score-boosted frontier of
    * `changed ∪ added` urls, and the seen set with `changed ∪ removed`
    * hashes retired. */
  final case class RecrawlPlan(frontier: DataFrame, retiredSeen: DataFrame,
                               urlDiff: DataFrame)

  /**
   * Recrawl scheduling (the reference's 24 h cache-staleness semantics,
   * crawl_config.py:12-14, generalized to CDC): diff two page-store
   * snapshots on a content fingerprint and feed the result back into the
   * crawl loop —
   *
   *   - `changed ∪ added` urls become next-round frontier entries with
   *     `scoreBoost` added on top of their UrlScore, so the recrawl
   *     outranks ordinary discovery under the politeness budget;
   *   - `changed` hashes are RETIRED from seen (else the J1 filter would
   *     drop the re-fetch) and `removed` hashes are retired so a later
   *     rediscovery re-fetches rather than trusting a dead cache entry.
   *
   * Scale shape: snapshots reduce to (urlHash, fp, url) before the ONE
   * full-outer equi-join on the 64-bit hash; seen retirement is a
   * hash-only anti-join. Unchanged rows never reach the frontier.
   */
  /**
   * Adaptive per-page recrawl intervals from a change HISTORY — the Cho &
   * Garcia-Molina (TOIT 2003) frequency estimator that turns K snapshot
   * diffs into a revisit schedule: pages that changed on many checks get
   * short intervals, stable pages decay toward `maxHours`. This is the
   * missing policy layer between [[diff]] (one observation) and
   * [[recrawlPlan]] (one round's boost): at 10^10 urls a uniform revisit
   * period either wastes most fetches on static pages or lets hot pages
   * go stale.
   *
   * `history` holds one row per (id, check): the `statusCol` of a
   * consecutive-snapshot [[diff]], checks `checkIntervalHours` apart.
   * Only changed/unchanged rows are observations (added/removed carry no
   * change-rate signal and are ignored). Per id with n checks and x
   * changes, the smoothed Poisson MLE is
   * λ̂ = −ln((n − x + 0.5)/(n + 0.5)) / Δ and the revisit interval is
   * 1/λ̂ clamped to [minHours, maxHours] (x = 0 pins to maxHours
   * explicitly — no ∞ games cross-engine). `lambda_hat` is rounded to
   * 6 dp and `interval_h` to 4 dp: ln last-ulps must not flip a verdict
   * (the q54/q60 contract).
   *
   * Scale shape: one hash agg on the id over a statuses-only table
   * (16 bytes/row); no joins, no skew (every id has ≤ K rows).
   */
  def adaptiveIntervals(history: DataFrame, idCol: String, statusCol: String,
                        checkIntervalHours: Double, minHours: Double,
                        maxHours: Double): DataFrame = {
    require(checkIntervalHours > 0 && minHours > 0 && maxHours >= minHours,
      s"bad config: check=$checkIntervalHours min=$minHours max=$maxHours")
    val obs = history.filter(col(statusCol).isin("changed", "unchanged"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_checks"),
        count(when(col(statusCol) === "changed", 1)).as("n_changed"))
    obs
      // + 0.0 normalizes the x = 0 case's -0.0 to +0.0 (IEEE), so both
      // engines emit the same bit pattern
      .withColumn("lambda_hat", round(
        -log((col("n_checks") - col("n_changed") + 0.5d) /
          (col("n_checks") + 0.5d)) / checkIntervalHours, 6) + lit(0.0d))
      .withColumn("interval_h",
        when(col("n_changed") === 0, lit(maxHours)).otherwise(
          round(least(lit(maxHours),
            greatest(lit(minHours), lit(1.0) / col("lambda_hat"))), 4)))
  }

  def recrawlPlan(oldSnap: DataFrame, newSnap: DataFrame,
                  urlCol: String, fpCol: String, seen: DataFrame,
                  scoreBoost: Double = 1.0): RecrawlPlan = {
    import graft.functions.gf
    def keyed(snap: DataFrame, urlAs: String, fpAs: String) = snap
      .select(col(urlCol).as(urlAs),
        xxhash64(gf.canonicalize_url(col(urlCol))).as("urlHash"),
        col(fpCol).as(fpAs))
      .dropDuplicates("urlHash")
    // two consumers (frontier + retirement) → lazy checkpoint: the
    // full-outer diff join runs once
    val d = keyed(oldSnap, "__urlOld", "__fpOld")
      .join(keyed(newSnap, "__urlNew", "__fpNew"), Seq("urlHash"), "full_outer")
      .select(col("urlHash"),
        coalesce(col("__urlNew"), col("__urlOld")).as("url"),
        when(col("__fpOld").isNull, "added")
          .when(col("__fpNew").isNull, "removed")
          .when(col("__fpOld") =!= col("__fpNew"), "changed")
          .otherwise("unchanged").as("status"))
      .transform(Pin(_))
    val frontier = CrawlRound.seedFrontier(
        d.filter(col("status").isin("added", "changed")).select("url"))
      .withColumn("score", col("score") + lit(scoreBoost))
    val retired = seen.join(
      d.filter(col("status").isin("changed", "removed")).select("urlHash"),
      Seq("urlHash"), "left_anti")
    RecrawlPlan(frontier, retired, d)
  }
}
