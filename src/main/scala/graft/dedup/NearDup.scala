package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.text.TextOps
import graft.Pin

/**
 * Near-duplicate detection for webtext at training-data scale:
 *   - exact: fingerprint groupBy (see TextOps.fingerprint)
 *   - MinHash + LSH: shingle → minhash signature → band → bucket equi-join
 *   - SimHash: 64-bit sign-of-weighted-bits, candidates via band buckets
 *   - n-gram Jaccard: exact verify on LSH candidates
 * All shingle/perm hashing is seeded splitmix64 — deterministic across
 * cluster sizes. Candidate generation is always an equi-join on a bucket
 * key (never a cross-join), which is what keeps this O(n·bands) shuffle
 * instead of O(n²) at 100 TB.
 */
object NearDup {

  // ---- shingling ----

  /** Word k-shingle hashes (distinct) of a text column. */
  def shingleHashes(text: Column, k: Int = 3): Column = {
    val ws = TextOps.words(text)
    when(size(ws) < k, array(xxhash64(concat_ws(" ", ws))))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(ws) - k),
        i => xxhash64(concat_ws(" ", slice(ws, i + 1, lit(k)))))))
  }

  // ---- MinHash ----

  /** MinHash signature: array of `numPerms` longs. "Permutation" p is
    * xxhash64(shingleHash, p) — a fresh 64-bit universal hash per perm
    * with no overflow under ANSI arithmetic. (Single-expression form for
    * small inputs; the scale path is [[minhashSignatures]].) */
  def minhashSignature(text: Column, numPerms: Int = 32, k: Int = 3): Column = {
    val sh = shingleHashes(text, k)
    array((0 until numPerms).map { p =>
      array_min(transform(sh, h => xxhash64(h, lit(p))))
    }: _*)
  }

  /**
   * MinHash signatures the scalable way: explode shingles to rows, then
   * ONE hash aggregate computing all `numPerms` mins with map-side
   * combine. Shingling runs exactly once per doc (the inlined column form
   * would re-evaluate it per permutation after projection collapse).
   * Output: (idCol, m0…m{P-1}).
   */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numPerms: Int = 32, k: Int = 3): DataFrame =
    docs.select(col(idCol), explode(shingleHashes(col(textCol), k)).as("sh"))
      .groupBy(idCol)
      .agg(min(xxhash64(col("sh"), lit(0))).as("m0"),
        (1 until numPerms).map(p => min(xxhash64(col("sh"), lit(p))).as(s"m$p")): _*)

  /**
   * LSH banding: signature columns split into `bands` bands of
   * `numPerms/bands` rows; each band hashed to a bucket key. One row per
   * (doc, band), ready for the bucket equi-join.
   */
  /** Band buckets from a signature frame holding columns m0…m{numPerms-1}:
    * one (idCol, band, bucket) row per band. THE single band-hash
    * definition — every candidate-generation path (one-shot, fused
    * pipeline, incremental batch-vs-store) must derive buckets here, or
    * cross-path candidate sets silently diverge. */
  def bandsFromSigs(sigs: DataFrame, idCol: String,
                    numPerms: Int, bands: Int): DataFrame = {
    require(numPerms % bands == 0,
      s"numPerms ($numPerms) must divide evenly into bands ($bands) — " +
        "leftover signature columns would be silently dropped")
    val rows = numPerms / bands
    sigs.select(col(idCol), posexplode(array((0 until bands).map { b =>
      xxhash64((b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*)
    }: _*)).as(Seq("band", "bucket")))
  }

  /** Exact Jaccard of two shingle-hash-set columns. */
  def jaccardOfSets(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB))
    val uni = size(array_union(shA, shB))
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni)
  }

  def lshBands(docs: DataFrame, idCol: String, textCol: String,
               numPerms: Int = 32, bands: Int = 8, k: Int = 3): DataFrame =
    bandsFromSigs(minhashSignatures(docs, idCol, textCol, numPerms, k),
      idCol, numPerms, bands)

  /**
   * MinHash-LSH candidate pairs (idA < idB), deduplicated across bands.
   * Pairs sharing any band bucket become candidates.
   */
  def lshCandidates(docs: DataFrame, idCol: String, textCol: String,
                    numPerms: Int = 32, bands: Int = 8, k: Int = 3): DataFrame = {
    val banded = lshBands(docs.select(idCol, textCol), idCol, textCol, numPerms, bands, k)
      .select(col(idCol).as("id"), col("band"), col("bucket"))
    val a = banded.select(col("id").as("idA"), col("band"), col("bucket"))
    val b = banded.select(col("id").as("idB"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
  }

  /** Exact Jaccard similarity between two texts' shingle sets. */
  def jaccard(textA: Column, textB: Column, k: Int = 3): Column = {
    val sa = shingleHashes(textA, k)
    val sb = shingleHashes(textB, k)
    val inter = size(array_intersect(sa, sb))
    val uni = size(array_union(sa, sb))
    when(uni === 0, 0.0).otherwise(inter.cast("double") / uni)
  }

  /**
   * MinHash-LSH near-dup pairs verified by exact n-gram Jaccard ≥ threshold.
   * The verify join rehydrates PRECOMPUTED shingle sets for candidate ids
   * only (semi-join pattern — at scale the candidate set is ≪ corpus).
   * Shingling runs once per doc; computing jaccard(textA, textB) per pair
   * re-shingled every doc once per candidate pair it appeared in — the
   * dominant cost when bands admit many candidates.
   */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, numPerms: Int = 32, bands: Int = 8,
                   k: Int = 3): DataFrame = {
    val cands = lshCandidates(docs, idCol, textCol, numPerms, bands, k)
    val sh = docs.select(col(idCol), shingleHashes(col(textCol), k).as("__sh"))
    val inter = size(array_intersect(col("shA"), col("shB")))
    val uni = size(array_union(col("shA"), col("shB")))
    cands
      .join(sh.select(col(idCol).as("idA"), col("__sh").as("shA")), Seq("idA"))
      .join(sh.select(col(idCol).as("idB"), col("__sh").as("shB")), Seq("idB"))
      .withColumn("jaccard",
        when(uni === 0, 0.0).otherwise(inter.cast("double") / uni))
      .filter(col("jaccard") >= threshold)
      .select(col("idA"), col("idB"), col("jaccard"))
  }

  /** Survivor filter: drop the larger id of every verified near-dup pair. */
  def dropNearDups(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8): DataFrame = {
    val dups = nearDupPairs(docs, idCol, textCol, threshold)
      .select(col("idB").as(idCol)).distinct()
    docs.join(dups, Seq(idCol), "left_anti")
  }

  // ---- Winnowing (rolling k-gram fingerprints) ----

  /** Let-binding for column expressions: evaluates `value` exactly ONCE per
    * row and exposes it to `body` as a lambda variable. Without this, every
    * reference to a subexpression inside a single projection re-evaluates
    * it after CollapseProject — fatal for the O(|text|)-cost gram arrays
    * below, which are referenced once per sliding window. */
  private def bindOnce(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /**
   * Winnowed rolling k-gram document fingerprints (Schleimer, Wilkerson,
   * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
   * SIGMOD 2003 — the MOSS scheme). The text is normalized to its
   * lowercase alphanumeric character stream, every k-char gram is hashed
   * ([[md5TokenHash]], engine-portable so the driver's DuckDB oracle can
   * recompute it), and each window of `w` consecutive gram hashes
   * contributes its minimum; the distinct selected values are the
   * document's fingerprint set (sorted for determinism).
   *
   * Guarantee (the paper's Thm. 1, by value set): two documents sharing a
   * normalized substring of length ≥ w + k - 1 share ≥ 1 fingerprint; no
   * shared substring shorter than k is ever detected. Texts shorter than
   * k fingerprint the whole normalized stream.
   *
   * Scale: ONE codegen'd O(|text|) pass per row
   * ([[graft.core.WinnowKernel]] — monotonic-deque window minima),
   * no shuffle, no UDF; each doc keeps ≈ 2/(w+1) of its grams, so the
   * downstream fingerprint join is over a w-fold-compressed set.
   */
  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    require(k >= 2, s"k=$k: grams need at least 2 chars")
    require(w >= 1, s"w=$w: the winnow window must hold at least 1 gram")
    gf.winnow_fingerprints(text, k, w)
  }

  /** The builtin-column formulation of [[winnowFingerprints]] — kept as
    * the executable SPECIFICATION the kernel is differentially tested
    * against (O(n·w) interpreted lambdas; not used on any hot path). */
  private[graft] def winnowFingerprintsCols(text: Column, k: Int = 8, w: Int = 4): Column = {
    require(k >= 2, s"k=$k: grams need at least 2 chars")
    require(w >= 1, s"w=$w: the winnow window must hold at least 1 gram")
    val norm = regexp_replace(lower(text), "[^a-z0-9]", "")
    bindOnce(norm) { nrm =>
      val grams = transform(sequence(lit(1), length(nrm) - (k - 1)),
        p => md5TokenHash(nrm.substr(p, lit(k))))
      array_sort(array_distinct(
        when(length(nrm) < k, array(md5TokenHash(nrm)))
          .otherwise(bindOnce(grams) { g =>
            when(size(g) < w, array(array_min(g)))
              .otherwise(transform(sequence(lit(1), size(g) - (w - 1)),
                i => array_min(slice(g, i, lit(w)))))
          })))
    }
  }

  /**
   * Near-dup pairs by winnowed-fingerprint containment: docs sharing a
   * fraction ≥ `minFrac` of the smaller side's fingerprints —
   * `shared / min(|fpA|, |fpB|)`, scale-invariant across document lengths.
   * Candidate generation is an equi-join on the fingerprint value (never
   * all-pairs). `maxDocFreq` is the skew guard for 100 TB: a boilerplate
   * gram (site chrome, license headers) appearing in millions of docs
   * would make its fingerprint bucket quadratic — fingerprints with
   * document frequency above the cap are dropped from candidates AND from
   * the per-doc denominators (containment is then w.r.t. retained
   * fingerprints on both sides, keeping the fraction consistent).
   * Output: (idA, idB, shared, frac) with idA < idB.
   */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 4, minFrac: Double = 0.5,
                  maxDocFreq: Long = Long.MaxValue): DataFrame = {
    val exploded = docs.select(col(idCol).as("doc_id"),
      explode(winnowFingerprints(col(textCol), k, w)).as("fp"))
      .transform(Pin(_)) // reused 3×: sizes + both join sides
    val kept =
      if (maxDocFreq == Long.MaxValue) exploded
      else exploded.join(
        exploded.groupBy("fp").agg(count("*").as("__df"))
          .filter(col("__df") > maxDocFreq).select("fp"),
        Seq("fp"), "left_anti")
    val sizes = kept.groupBy("doc_id").agg(count("*").as("nfp"))
    kept.select(col("doc_id").as("idA"), col("fp"))
      .join(kept.select(col("doc_id").as("idB"), col("fp")), Seq("fp"))
      .filter(col("idA") < col("idB"))
      .groupBy("idA", "idB").agg(count("*").as("shared"))
      .join(sizes.select(col("doc_id").as("idA"), col("nfp").as("__nA")), Seq("idA"))
      .join(sizes.select(col("doc_id").as("idB"), col("nfp").as("__nB")), Seq("idB"))
      .withColumn("frac", col("shared").cast("double") / least(col("__nA"), col("__nB")))
      .filter(col("frac") >= minFrac)
      .select(col("idA"), col("idB"), col("shared"), round(col("frac"), 4).as("frac"))
  }

  // ---- SimHash ----

  /**
   * 64-bit SimHash over word hashes: bit i of the result is 1 iff the sum
   * over tokens of ±1 (per token-hash bit i) is positive. Pure Catalyst:
   * aggregate over the token array folding a 64-slot counter array.
   */
  def simhash64(text: Column): Column = {
    val tokens = transform(TextOps.words(text), w => xxhash64(w))
    // per-token ±1 bit vector (shift amounts are Scala literals)
    def bitsOf(t: Column): Column = array((0 until 64).map(i =>
      when(shiftright(t, i).bitwiseAND(1) === 1, 1).otherwise(-1)): _*)
    val counters = aggregate(
      tokens,
      array_repeat(lit(0), 64),
      (acc, t) => zip_with(acc, bitsOf(t), (c, b) => c + b))
    (0 until 64).map(i =>
      when(element_at(counters, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /**
   * SimHash the scalable way: explode tokens, ONE hash aggregate summing
   * ±1 per bit position (64 agg columns, map-side combined), then pack the
   * sign bits — the packing reads materialized aggregate attributes, so
   * nothing re-evaluates per bit (the scalar [[simhash64]] form
   * re-expands its counter array per bit after projection collapse).
   * Output: (idCol, sh).
   */
  /** Default 64-bit token hash. */
  val xxTokenHash: Column => Column = w => xxhash64(w)

  /** Portable 60-bit token hash: first 15 hex chars of md5 — identical in
    * any engine with md5 (DuckDB: CAST('0x'||substring(md5(w),1,15) AS
    * BIGINT)), which makes the whole simhash pipeline independently
    * recomputable by the driver's SQL oracle. Top 4 bits are always 0, so
    * those simhash bits are 0 on both sides. */
  val md5TokenHash: Column => Column =
    w => conv(substring(md5(w.cast("binary")), 1, 15), 16, 10).cast("long")

  def simhashTable(docs: DataFrame, idCol: String, textCol: String,
                   tokenHash: Column => Column = xxTokenHash): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(transform(TextOps.words(col(textCol)), w => tokenHash(w))).as("t"))
    def bitSum(i: Int) =
      sum(when(shiftright(col("t"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$i")
    tok.groupBy(idCol)
      .agg(bitSum(0), (1 until 64).map(bitSum): _*)
      .select(col(idCol),
        (0 until 64).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs: candidates share one of four 16-bit chunks
   * (any pair within Hamming ≤ 3 of a 64-bit key must agree on ≥1 chunk),
   * verified by full Hamming distance ≤ maxHamming.
   */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   tokenHash: Column => Column = xxTokenHash): DataFrame = {
    require(maxHamming <= 3,
      s"maxHamming=$maxHamming: 4 16-bit chunks only guarantee recall for " +
        "Hamming <= 3 (pigeonhole); raise the chunk count for larger radii")
    val hashed = simhashTable(docs, idCol, textCol, tokenHash)
      .select(col(idCol).as("id"), col("sh"))
    val chunked = hashed.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sh"), c * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("chunk", "ckey")))
    val a = chunked.select(col("id").as("idA"), col("sh").as("shA"), col("chunk"), col("ckey"))
    val b = chunked.select(col("id").as("idB"), col("sh").as("shB"), col("chunk"), col("ckey"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"), hamming64(col("shA"), col("shB")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
