package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * TRUE exact-substring dedup (Lee et al. 2022, "Deduplicating Training
 * Data Makes Language Models Better"): every CHARACTER that lies inside
 * a verbatim span of ≥ `L` characters shared by ≥ `minDocs` distinct
 * documents is scrubbed. Character-level with a length threshold — this
 * is the production semantics q62's "ExactSubstr-lite" (word-k-gram df,
 * text/SpanScrub.scala) approximates: SpanScrub misses any shared span
 * of fewer than k words no matter how long in bytes (e.g. three long
 * identifiers), and can only cut on word boundaries. ExactSubstrSpec
 * has the differential showing a span q62 misses and this catches.
 *
 * Equivalence that makes this distributable: a position p of doc D is
 * inside a cross-doc duplicated span of length ≥ L  ⟺  some L-gram
 * covering p (starting in [p−L+1, p]) occurs verbatim in ≥ minDocs
 * distinct docs. So the exact scrub cover is computable from positional
 * L-gram identity — no global suffix sort needed ACROSS the cluster;
 * the suffix array is the per-shard kernel that computes the same cover
 * in O(n log n) without materializing n·L gram bytes
 * (core/SuffixArray.scala, [[scrubSharded]]; equivalence proven in
 * ExactSubstrSpec).
 *
 * Scale shape of [[scrub]] (the globally-exact form): one positional
 * explode emitting (id, pos, md5(L-gram)) — 16-byte hashes, NOT L-byte
 * grams, so the shuffle is O(corpus chars × 16 B) regardless of L — →
 * gram-hash df agg (count DISTINCT docs) → semi-join probe → per-doc
 * start list → interval-merge cover + one concat_ws splice (O(n+spans)
 * per doc).
 * The duplicated-hash set is unbounded, so no broadcast hints (AQE
 * decides). md5 identity stands in for byte identity, the repo-wide
 * fingerprint convention (collision odds ~2⁻¹²⁸ · pairs).
 *
 * [[scrubSharded]] is the Lee-et-al.-shaped path: shard docs, build a
 * suffix array per shard over the concatenated docs with boundary
 * sentinels, scan LCP blocks ≥ L, scrub. Exact within a shard; the
 * paper's architecture makes shards big (one suffix array per machine)
 * and this kernel is that per-machine step.
 */
object ExactSubstr {

  /** (idCol, pos, h): 1-based positional L-gram md5 hashes. Docs shorter
    * than L contribute no rows. Engine-portable: DuckDB recomputes the
    * identical md5(substr(text, pos, L)) — ASCII corpus contract, where
    * Spark UTF-16 chars ≡ DuckDB code points ≡ bytes. */
  def positionalHashes(docs: DataFrame, idCol: String, textCol: String,
                       L: Int): DataFrame = {
    require(L >= 2, s"L=$L: spans need at least 2 chars")
    val t = col(textCol)
    docs.select(col(idCol),
        explode(when(length(t) >= L,
            transform(sequence(lit(1), length(t) - L + 1),
              i => struct(i.cast("int").as("pos"),
                md5(t.substr(i, lit(L)).cast("binary")).as("h"))))
          .otherwise(array().cast("array<struct<pos:int,h:string>>")))
          .as("__g"))
      .select(col(idCol), col("__g.pos").as("pos"), col("__g.h").as("h"))
  }

  /**
   * Globally-exact scrub: (idCol, n_chars, n_removed, clean_text).
   * A character at position c is removed iff some duplicated L-gram
   * starts in [c−L+1, c] within this document. clean_text concatenates
   * the surviving characters verbatim (no re-spacing — character-level
   * semantics, unlike SpanScrub's word re-join).
   */
  def scrub(docs: DataFrame, idCol: String, textCol: String,
            L: Int, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs: below 2 scrubs everything")
    // the exploded hash frame feeds BOTH the df agg and the probe
    val g = Pin(positionalHashes(docs, idCol, textCol, L))
    val dup = g.groupBy("h").agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs).select("h")
    val starts = g.join(dup, Seq("h"), "left_semi")
      .groupBy(idCol).agg(collect_list(col("pos")).as("__starts"))
    // Scrub tail is an INTERVAL MERGE (VERDICT r4 #5), O(n + spans) per
    // doc — never the per-char array_contains probe, which is
    // O(n_chars × spans) and quadratic-class on long spammy docs:
    // sort starts → merged spans (a start opens a new merged span iff
    // its gap to the previous start exceeds L; spans all have length L
    // and starts are ascending, so merged ends come from group-closing
    // starts) → splice the kept segments with ONE concat_ws.
    val empty = array().cast("array<int>")
    val s = col("__s")
    val n = col("__n")
    docs.join(starts, Seq(idCol), "left")
      .withColumn("__s", array_sort(coalesce(col("__starts"), empty)))
      .withColumn("__n", size(col("__s")))
      .withColumn("__heads", when(n === 0, empty).otherwise(
        filter(transform(sequence(lit(0), n - 1), i =>
          when(i === 0 || get(s, i) - get(s, i - 1) > L, get(s, i))),
          x => x.isNotNull)))
      .withColumn("__ends", when(n === 0, empty).otherwise(
        filter(transform(sequence(lit(0), n - 1), i =>
          when(i === n - 1 || get(s, i + 1) - get(s, i) > L,
            get(s, i) + L - 1)), x => x.isNotNull)))
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        aggregate(zip_with(col("__heads"), col("__ends"),
            (h, e) => e - h + 1),
          lit(0L), (acc, x) => acc + x.cast("long")).as("n_removed"),
        concat_ws("", zip_with(
          // kept segments: [1, head₁−1], [endᵢ+1, headᵢ₊₁−1] …, [end_last+1, n]
          concat(array(lit(1)), transform(col("__ends"), e => e + 1)),
          concat(transform(col("__heads"), h => h - 1),
            array(length(col(textCol)))),
          (a, b) => col(textCol).substr(a, b - a + 1))).as("clean_text"))
  }

  /**
   * Suffix-array path: docs are hash-sharded into `shards` groups, each
   * shard's documents concatenated with boundary sentinels, and the
   * cover computed from suffix-array LCP blocks (O(n log n) per shard,
   * no n·L gram bytes). EXACT within a shard; cross-shard duplicate
   * pairs are out of contract for this form (the paper's deployment
   * makes shards machine-sized; [[scrub]] is the globally-exact form
   * and ExactSubstrSpec proves both compute the identical cover when
   * co-sharded).
   */
  def scrubSharded(docs: DataFrame, idCol: String, textCol: String,
                   L: Int, shards: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val shaped = docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("text"))
      .repartition(shards, pmod(xxhash64(col("id")), lit(shards)))
      .as[(Long, String)]
    shaped.mapPartitions { it =>
      val ds = it.toSeq
      val cover = graft.core.SuffixArray.crossDocCover(ds, L)
      ds.iterator.map { case (id, text) =>
        val iv = cover.getOrElse(id, Seq.empty)
        val removed = iv.map(p => p._2 - p._1 + 1).sum
        val sb = new java.lang.StringBuilder(text.length - removed)
        var cur = 1
        iv.foreach { case (s, e) =>
          if (cur < s) sb.append(text, cur - 1, s - 1)
          cur = e + 1
        }
        if (cur <= text.length) sb.append(text, cur - 1, text.length)
        (id, text.length.toLong, removed.toLong, sb.toString)
      }
    }.toDF(idCol, "n_chars", "n_removed", "clean_text")
  }
}
