package graft.frontier

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin
import graft.core.CrawlConfig
import graft.functions.gf

/**
 * URL-seen filtering (SURVEY.md J1): a partitioned Bloom pre-filter in
 * front of the authoritative exact anti-join (north rule: "partitioned
 * bloom/cuckoo URL-seen filter ... exact anti-join stays authoritative").
 *
 * The Bloom pass splits candidates into
 *   - definitely-new (bloom says absent)  → skip the expensive anti-join
 *     shuffle against the (10^10-row at target scale) seen table entirely;
 *   - maybe-seen (bloom positives)        → exact `left_anti` verdict.
 * Filters are built per `pmod(urlHash, bloomBuckets)` bucket so each
 * filter stays executor-sized as the seen set grows; the bucket column
 * rides along on both sides so the bloom join is a broadcast equi-join.
 */
object SeenSet {

  // The three filter kinds (bloom, counting bloom, cuckoo) share one
  // layout — a (bloomBucket, <filter>) table — and differ only in the
  // filter column and its aggregate/probe/merge/subtract functions.

  /** (bloomBucket, `filterCol`) table: `agg` over each bucket's hashes. */
  private def bucketed(hashes: DataFrame, cfg: CrawlConfig, filterCol: String)(
      agg: Column => Column): DataFrame =
    hashes
      .groupBy(pmod(col("urlHash"), lit(cfg.bloomBuckets)).as("bloomBucket"))
      .agg(agg(col("urlHash")).as(filterCol))

  /** Fold delta filters into state of the same shape, per bucket. */
  private def merged(state: DataFrame, deltas: DataFrame, filterCol: String)(
      mergeAgg: Column => Column): DataFrame =
    state.unionByName(deltas).groupBy("bloomBucket")
      .agg(mergeAgg(col(filterCol)).as(filterCol))

  /** Subtract per-bucket deletion filters from state; buckets without a
    * delta keep their filter. */
  private def retired(state: DataFrame, deltas: DataFrame, filterCol: String)(
      subtract: (Column, Column) => Column): DataFrame =
    state.join(deltas.withColumnRenamed(filterCol, "__delta"), Seq("bloomBucket"), "left")
      .select(col("bloomBucket"),
        when(col("__delta").isNull, col(filterCol))
          .otherwise(subtract(col(filterCol), col("__delta")))
          .as(filterCol))

  /** The pre-filter split: a filter miss is definitely new, a filter hit
    * gets the exact `left_anti` verdict against the seen hashes. The
    * probed candidates are pinned, so the filter join and the probe run
    * once for both branches. */
  private def probed(candidates: DataFrame, seenHashes: DataFrame, filters: DataFrame,
                     filterCol: String, cfg: CrawlConfig)(
      mightContain: (Column, Column) => Column): DataFrame = {
    val tested = Pin(candidates
      .withColumn("bloomBucket", pmod(col("urlHash"), lit(cfg.bloomBuckets)))
      .join(broadcast(filters), Seq("bloomBucket"), "left")
      .withColumn("maybeSeen",
        col(filterCol).isNotNull && mightContain(col(filterCol), col("urlHash")))
      .drop(filterCol, "bloomBucket"))
    val definitelyNew = tested.filter(!col("maybeSeen")).drop("maybeSeen")
    val verified = tested.filter(col("maybeSeen")).drop("maybeSeen")
      .join(seenHashes.select("urlHash"), Seq("urlHash"), "left_anti")
    definitelyNew.unionByName(verified)
  }

  /** (bucket, bloom) table over the seen hashes. */
  def buildBlooms(seenHashes: DataFrame, expectedPerBucket: Long, cfg: CrawlConfig): DataFrame =
    bucketed(seenHashes, cfg, "bloom")(gf.bloom_agg(_, expectedPerBucket, cfg.bloomFpp))

  /**
   * Incremental bloom state (north rule "per-partition state"): carried
   * `(bloomBucket, bloom)` rows plus a fixed per-bucket capacity. Filters
   * of identical shape OR-merge exactly (bit union = filter of set
   * union), so folding each round's O(budget) delta into the state is
   * byte-identical to rebuilding from the full seen set — the full-state
   * scan happens only on the driver's geometric capacity rebuilds.
   */
  final case class BloomState(blooms: DataFrame, capacityPerBucket: Long,
                              count: Long) {
    /** true when `count` new items would push any (uniform-hash) bucket
      * past ~80 % of capacity — time to rebuild at doubled capacity. */
    def needsRebuild(newCount: Long, cfg: CrawlConfig): Boolean =
      newCount > capacityPerBucket * cfg.bloomBuckets * 4 / 5
  }

  /** Per-bucket capacity for a seen set expected to reach `total` items. */
  def capacityFor(total: Long, cfg: CrawlConfig): Long =
    math.max(total / cfg.bloomBuckets + 1, 1024L)

  /**
   * Advance the bloom state by one round: merge the delta's blooms into
   * the carried state, or rebuild from the full seen set at (at least)
   * doubled capacity when the exact count approaches capacity.
   */
  def advance(state: Option[BloomState], deltaHashes: DataFrame,
              seenHashes: DataFrame, newCount: Long,
              cfg: CrawlConfig): BloomState = state match {
    case Some(s) if !s.needsRebuild(newCount, cfg) =>
      val deltaBlooms = buildBlooms(deltaHashes, s.capacityPerBucket, cfg)
      BloomState(merged(s.blooms, deltaBlooms, "bloom")(gf.bloom_merge_agg),
        s.capacityPerBucket, newCount)
    case _ =>
      var cap = math.max(capacityFor(newCount, cfg),
        state.map(_.capacityPerBucket).getOrElse(0L))
      while (newCount > cap * cfg.bloomBuckets * 2 / 5) cap *= 2 // headroom
      BloomState(buildBlooms(seenHashes, cap, cfg), cap, newCount)
  }

  // ---- counting-bloom (deletable) state: the recrawl-aware variant ----

  /** (bloomBucket, cbloom) over the seen hashes — the DELETABLE
    * pre-filter ([[graft.core.CountingBloom]]): one byte per position
    * instead of one bit (8× the plain bloom's footprint — the price of
    * retirement without a full-state rebuild). Use when recrawl
    * scheduling retires seen entries ([[SnapshotDiff.recrawlPlan]]);
    * drain-only crawls keep the plain [[BloomState]]. */
  def buildCountingBlooms(seenHashes: DataFrame, expectedPerBucket: Long,
                          cfg: CrawlConfig): DataFrame =
    bucketed(seenHashes, cfg, "cbloom")(gf.cbloom_agg(_, expectedPerBucket, cfg.bloomFpp))

  /** Fold a round's ADD delta into counting state (vector add — exactly
    * the filter of the union, like the plain bloom's OR-merge). */
  def addToCounting(state: DataFrame, deltaHashes: DataFrame,
                    capacityPerBucket: Long, cfg: CrawlConfig): DataFrame =
    merged(state, buildCountingBlooms(deltaHashes, capacityPerBucket, cfg), "cbloom")(
      gf.cbloom_merge_agg)

  /** Retire hashes from counting state: build a deletion filter of the
    * SAME shape per bucket and subtract it element-wise. Retired keys
    * must come from the seen set (they do: [[SnapshotDiff.recrawlPlan]]
    * retires `changed ∪ removed`, both present in seen) — the result is
    * byte-identical to rebuilding from `seen ∖ retired` (spec-asserted),
    * with NO full-state scan: the round pays O(retired), not O(seen). */
  def retireFromCounting(state: DataFrame, retiredHashes: DataFrame,
                         capacityPerBucket: Long, cfg: CrawlConfig): DataFrame =
    retired(state, buildCountingBlooms(retiredHashes, capacityPerBucket, cfg), "cbloom")(
      gf.cbloom_subtract)

  /** [[filterUnseen]] against counting-filter state (same split: bloom
    * miss → definitely new, bloom hit → exact anti-join verdict). */
  def filterUnseenCounting(candidates: DataFrame, seenHashes: DataFrame,
                           cblooms: DataFrame, cfg: CrawlConfig): DataFrame =
    probed(candidates, seenHashes, cblooms, "cbloom", cfg)(gf.cbloom_might_contain)

  // ---- cuckoo-filter state: the COMPACT deletable variant ----

  /** (bloomBucket, ckf) over the seen hashes — the cuckoo pre-filter
    * ([[graft.core.CuckooFilter]]): 16-bit fingerprints in 4-slot
    * buckets ≈ 2.9 B/key at fpp ≈ 1.2e-4 — ~3× smaller than the
    * counting filter at ~80× lower fpp, still deletable. The trade:
    * incremental state equals a rebuild ANSWER-identically (multiset
    * entry semantics, spec-asserted) rather than byte-identically, so
    * the serialized blob must never be hashed or compared directly. */
  def buildCuckoos(seenHashes: DataFrame, expectedPerBucket: Long,
                   cfg: CrawlConfig): DataFrame =
    bucketed(seenHashes, cfg, "ckf")(gf.cuckoo_agg(_, expectedPerBucket))

  /** Fold a round's ADD delta into cuckoo state (multiset union —
    * answers exactly those of the filter of the union). */
  def addToCuckoo(state: DataFrame, deltaHashes: DataFrame,
                  expectedPerBucket: Long, cfg: CrawlConfig): DataFrame =
    merged(state, buildCuckoos(deltaHashes, expectedPerBucket, cfg), "ckf")(
      gf.cuckoo_merge_agg)

  /** Retire hashes from cuckoo state: build a deletion filter of the
    * SAME shape per bucket and remove one fingerprint copy per retired
    * key. Retired keys must come from the seen set (they do — see
    * [[retireFromCounting]]); the result answers like a rebuild from
    * `seen ∖ retired` with NO full-state scan: O(retired) per round. */
  def retireFromCuckoo(state: DataFrame, retiredHashes: DataFrame,
                       expectedPerBucket: Long, cfg: CrawlConfig): DataFrame =
    retired(state, buildCuckoos(retiredHashes, expectedPerBucket, cfg), "ckf")(
      gf.cuckoo_subtract)

  /** [[filterUnseen]] against cuckoo state (same split: filter miss →
    * definitely new, filter hit → exact anti-join verdict). */
  def filterUnseenCuckoo(candidates: DataFrame, seenHashes: DataFrame,
                         ckfs: DataFrame, cfg: CrawlConfig): DataFrame =
    probed(candidates, seenHashes, ckfs, "ckf", cfg)(gf.cuckoo_might_contain)

  /**
   * candidates − seen. `candidates` must be unique by urlHash; result
   * preserves candidate columns. `prebuilt` carries incremental bloom
   * state; without it the blooms are built from the full seen set.
   */
  def filterUnseen(candidates: DataFrame, seenHashes: DataFrame, seenCount: Long,
                   cfg: CrawlConfig, prebuilt: Option[DataFrame] = None): DataFrame = {
    if (seenCount == 0) return candidates
    val blooms = prebuilt.getOrElse(
      buildBlooms(seenHashes, capacityFor(seenCount, cfg), cfg))
    probed(candidates, seenHashes, blooms, "bloom", cfg)(gf.might_contain)
  }
}
