package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.NearDup
import graft.Pin

/**
 * End-to-end training-data preparation pipeline — the composed operator a
 * 100 TB webtext corpus actually runs, in the order that minimizes bytes
 * reaching each successive (more expensive) stage:
 *
 *   quality filter → language filter → exact dedup → MinHash-LSH near-dup
 *   → chunking + token accounting
 *
 * Stage-order rationale at scale: the scalar quality/langid filters are
 * codegen'd column expressions evaluated inside the scan (no shuffle) and
 * typically drop 30-70 % of raw webtext, so every shuffle-bearing stage
 * downstream (exact groupBy, shingle aggregate, LSH band join) sees only
 * the surviving fraction.
 *
 * The near-dup stage is where composing beats chaining the standalone
 * operators: [[signatureShingles]] computes the MinHash signature AND the
 * exact shingle set for the verify join in ONE exploded-shingle hash
 * aggregate (one pass over text, one shuffle), where
 * [[NearDup.nearDupPairs]] run standalone shingles the corpus twice
 * (signature pass + verify-set pass). At 100 TB the second full-text
 * scan is the dominant saving.
 *
 * Reference semantics: the dedup family matches deduplicator.py (exact
 * signature dedup) generalized to corpus scale per SURVEY.md §2.10; the
 * quality/langid/chunking stages mirror TextOps/Chunker (themselves
 * oracled by q19-q21/q35).
 */
object TextPipeline {

  /** Pipeline knobs. Defaults match the oracled q41 configuration. */
  case class PipelineConfig(
      minQuality: Double = 0.65, // keeps the 0.7/1.0 quality strata, drops junk
      lang: String = "en",
      threshold: Double = 0.8, // verified-Jaccard near-dup threshold
      numPerms: Int = 64,
      bands: Int = 16, // 4-row bands: candidate miss < 1e-6 at j >= 0.875
      k: Int = 5, // word-shingle width (see q25: 3-shingles collide on tiny vocabs)
      chunkTokens: Int = 50,
      overlap: Double = 0.10)

  /** Intermediate frames, each derived from the previous stage. `scored`,
    * `exact`, `sigs`, `pairs` and `survivors` are pinned
    * ([[graft.Pin]]): every stat and every downstream stage re-reads
    * the materialized parent instead of re-running the cascade (the q38
    * lesson). Carries the config it was built with so [[stats]] cannot
    * drift from the pipeline it describes. */
  case class PipelineResult(scored: DataFrame, filtered: DataFrame,
                            exact: DataFrame, pairs: DataFrame,
                            survivors: DataFrame, cfg: PipelineConfig)

  /**
   * One-pass MinHash signatures + exact shingle sets: explode k-shingle
   * hashes to rows, then a SINGLE hash aggregate computing all `numPerms`
   * permutation minima AND `collect_set` of the shingle hashes. Shingling
   * runs exactly once per document; the signature columns feed LSH
   * banding, the set column feeds the exact-Jaccard verify join — no
   * second pass over text.
   * Output: (idCol, m0…m{numPerms-1}, __shSet).
   */
  def signatureShingles(docs: DataFrame, idCol: String, textCol: String,
                        numPerms: Int = 64, k: Int = 5): DataFrame =
    docs.select(col(idCol), explode(NearDup.shingleHashes(col(textCol), k)).as("__sh"))
      .groupBy(idCol)
      .agg(min(xxhash64(col("__sh"), lit(0))).as("m0"),
        (1 until numPerms).map(p => min(xxhash64(col("__sh"), lit(p))).as(s"m$p"))
          :+ collect_set(col("__sh")).as("__shSet"): _*)

  /** Verified near-dup pairs from a [[signatureShingles]] frame: LSH band
    * bucket equi-join for candidates (never all-pairs), exact Jaccard from
    * the carried shingle sets. Output: (idA, idB, jaccard), idA < idB. */
  def nearDupPairsFromSigs(sigs: DataFrame, idCol: String,
                           numPerms: Int, bands: Int,
                           threshold: Double): DataFrame = {
    val banded = NearDup.bandsFromSigs(sigs, idCol, numPerms, bands)
      .withColumnRenamed(idCol, "id")
    val cands = banded.select(col("id").as("idA"), col("band"), col("bucket"))
      .join(banded.select(col("id").as("idB"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
    val sets = sigs.select(col(idCol), col("__shSet"))
    cands
      .join(sets.select(col(idCol).as("idA"), col("__shSet").as("shA")), Seq("idA"))
      .join(sets.select(col(idCol).as("idB"), col("__shSet").as("shB")), Seq("idB"))
      .withColumn("jaccard", NearDup.jaccardOfSets(col("shA"), col("shB")))
      .filter(col("jaccard") >= threshold)
      .select("idA", "idB", "jaccard")
  }

  /** Run the full pipeline. All frames are lazy; nothing executes until an
    * action on a returned frame. */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
              cfg: PipelineConfig = PipelineConfig()): PipelineResult = {
    val text = col(textCol)
    // one scored pass feeds both the quality and language gates (and the
    // per-stage stats) — scalar exprs evaluated once, not per consumer
    val scored = docs.select(col(idCol), text,
        TextOps.qualityScore(text).as("__q"),
        TextOps.langIdFirstMatch(text).as("__l"))
      .transform(Pin(_))
    val filtered = scored
      .filter(col("__q") >= cfg.minQuality && col("__l") === cfg.lang)
      .select(col(idCol), text)
    // exact dedup: deterministic survivor = min id per normalized-text
    // fingerprint (min over (id, text) structs; ids are unique)
    val exact = filtered
      .groupBy(TextOps.fingerprint(text).as("__fp"))
      .agg(min(struct(col(idCol), text)).as("__s"))
      .select(col(s"__s.$idCol").as(idCol), col(s"__s.$textCol").as(textCol))
      .transform(Pin(_))
    // sigs has two consumers (band join + verify-set rehydration) and
    // pairs has two (survivor anti-join + stats) — checkpoint both so the
    // shingle aggregate and the LSH join each run exactly once
    val sigs = signatureShingles(exact, idCol, textCol, cfg.numPerms, cfg.k)
      .transform(Pin(_))
    val pairs = nearDupPairsFromSigs(sigs, idCol, cfg.numPerms, cfg.bands, cfg.threshold)
      .transform(Pin(_))
    // the drop set is O(duplicate docs) — unbounded at corpus scale (20-50%
    // dup rates on web text), so no broadcast hint: AQE picks broadcast when
    // the set actually fits, shuffled anti-join otherwise
    val dropIds = pairs.select(col("idB").as(idCol)).distinct()
    val survivors = exact.join(dropIds, Seq(idCol), "left_anti")
      .transform(Pin(_))
    PipelineResult(scored, filtered, exact, pairs, survivors, cfg)
  }

  /**
   * Incremental near-dup dedup of a NEW batch against an append-only
   * SLIM signature store — the 100 TB ingestion path (each snapshot
   * deduped against every previously processed document WITHOUT
   * re-shingling the old corpus, except for the candidate-bounded
   * verify rehydration below).
   *
   * Contract: `storeSigs` rows are slim signatures — (idCol,
   * m0…m{numPerms-1}), NO shingle sets — for every doc processed so far,
   * INCLUDING docs that were themselves dropped as near-dups. Keeping
   * dropped docs' signatures is what makes incremental processing
   * EXACTLY equal to one-shot [[NearDup.dropNearDups]] over the union
   * (its drop rule is "∃ earlier doc with J ≥ t", regardless of that
   * earlier doc's own fate; Jaccard is not transitive, so a survivor-only
   * store would leak dups of dropped docs). `oldDocs` is the ingested
   * corpus (idCol, textCol) covering every store id — raw text already
   * lives in the corpus store, so this is a pointer, not extra state.
   * Batch ids must be greater than all store ids ("earlier" = smaller id).
   *
   * Store growth is CONSTANT per doc: (numPerms+1) × 8 bytes ≈ 520 B at
   * numPerms=64, independent of document length — ~5 TB of store per
   * 10^10 docs, vs O(corpus tokens) (≈ the corpus itself) when shingle
   * sets were carried. Verify sets for the old side are rehydrated by
   * re-shingling ONLY the candidate rows: a broadcast semi-join of the
   * candidate old-ids against the corpus, then [[NearDup.shingleHashes]]
   * on those rows (already-distinct arrays, so rehydrated sets are
   * set-identical to the batch side's collect_set).
   *
   * Scale shape: neither the store nor the corpus is ever shuffled —
   * candidates come from a band-bucket equi-join probing the store's
   * derived bands with the BROADCAST batch bands (one store scan per
   * batch; with the store's band index materialized parquet-partitioned
   * by band, bucket-range file skipping applies), and the corpus is
   * scanned+probed once by the broadcast candidate-id semi-join.
   *
   * Returns (surviving new docs, slim batch signatures) — append the
   * latter to the store whether or not each doc survived.
   */
  def incrementalDedup(storeSigs: DataFrame, oldDocs: DataFrame, newDocs: DataFrame,
                       idCol: String, textCol: String,
                       cfg: PipelineConfig = PipelineConfig()): (DataFrame, DataFrame) = {
    val newSigs = signatureShingles(newDocs, idCol, textCol, cfg.numPerms, cfg.k)
      .transform(Pin(_)) // one shingling pass; reused for bands + verify + return
    // within-batch pairs: the standalone fused path
    val withinDrops = nearDupPairsFromSigs(newSigs, idCol, cfg.numPerms, cfg.bands,
      cfg.threshold).select(col("idB").as(idCol))
    // cross pairs: store bands ⋈ broadcast(batch bands) — the ONE shared
    // band-hash definition (NearDup.bandsFromSigs) keeps candidate sets
    // identical across the one-shot / fused / incremental paths
    def bands(sigs: DataFrame, as: String): DataFrame =
      NearDup.bandsFromSigs(sigs, idCol, cfg.numPerms, cfg.bands)
        .withColumnRenamed(idCol, as)
    // oldId < newId enforces the universal "∃ SMALLER-id doc with J ≥ t"
    // drop rule even if a caller violates the monotone-id-batches
    // contract (a new doc with a smaller id than a store dup survives,
    // as one-shot would keep it; the store row itself cannot be
    // retracted — that half of an out-of-order ingest stays divergent).
    // Two consumers (corpus semi-join + pair verify) → lazy checkpoint,
    // so the store band probe runs exactly once.
    val crossCands = bands(storeSigs, "oldId")
      .join(broadcast(bands(newSigs, "newId")), Seq("band", "bucket"))
      .filter(col("oldId") < col("newId"))
      .select("oldId", "newId").distinct()
      .transform(Pin(_))
    // verify-set rehydration: re-shingle ONLY candidate old rows (the
    // candidate set is bounded by batch bands; broadcast is safe)
    val oldSets = oldDocs
      .join(broadcast(crossCands.select(col("oldId").as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("oldId"),
        NearDup.shingleHashes(col(textCol), cfg.k).as("shA"))
    val candsWithOld = crossCands.join(broadcast(oldSets), Seq("oldId"))
    val crossDrops = newSigs.select(col(idCol).as("newId"), col("__shSet").as("shB"))
      .join(broadcast(candsWithOld), Seq("newId"))
      .filter(NearDup.jaccardOfSets(col("shA"), col("shB")) >= cfg.threshold)
      .select(col("newId").as(idCol))
    // drop list ⊆ candidate pairs ≪ batch — always the broadcast side
    val survivors = newDocs.join(
      broadcast(withinDrops.unionByName(crossDrops).distinct()), Seq(idCol), "left_anti")
    (survivors, newSigs.drop("__shSet"))
  }

  /** One-row per-stage accounting over a [[prepare]] result: input size,
    * rows past each gate, verified near-dup pairs, final survivors, and
    * the training-corpus yield (chunks + whitespace tokens). */
  def stats(r: PipelineResult, textCol: String): DataFrame = {
    val cfg = r.cfg // always the config the pipeline actually ran with
    // conditional aggregation: ONE pass over each checkpointed parent
    // (input gates, survivors) instead of one job per counter
    val gateCounts = r.scored.agg(
      count("*").as("n_input"),
      coalesce(sum(when(col("__q") >= cfg.minQuality, 1L).otherwise(0L)), lit(0L))
        .as("n_quality"),
      coalesce(sum(when(col("__q") >= cfg.minQuality && col("__l") === cfg.lang, 1L)
        .otherwise(0L)), lit(0L)).as("n_lang"))
    val nExact = r.exact.agg(count("*").as("n_exact"))
    val nPairs = r.pairs.agg(count("*").as("n_neardup_pairs"))
    val survCounts = r.survivors.agg(
      count("*").as("n_survivors"),
      coalesce(sum(TextOps.tokenCountWs(col(textCol)).cast("long")), lit(0L))
        .as("n_tokens"))
    val nChunks = Chunker.chunk(r.survivors, textCol, cfg.chunkTokens, cfg.overlap)
      .agg(count("*").as("n_chunks"))
    gateCounts.crossJoin(nExact).crossJoin(nPairs).crossJoin(survCounts)
      .crossJoin(nChunks)
  }
}
