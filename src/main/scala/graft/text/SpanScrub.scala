package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Cross-document duplicate-SPAN scrubbing — the ExactSubstr direction of
 * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
 * Better") simplified to k-gram granularity: any k consecutive words
 * that appear verbatim in ≥ `minDf` distinct documents are removed from
 * EVERY document (overlapping spans merge), leaving the remaining words
 * in original order. This catches shared boilerplate passages, license
 * headers and quoted chunks that per-document dedup (q22/q25) and
 * line-level dedup (q51 — which needs exact LINE boundaries) both miss.
 *
 * Scale shape: one positional-gram explode (O(corpus tokens) rows, slim:
 * id + int + gram string) → a gram-key hash agg for document frequency →
 * a gram-key semi-join back (the only two shuffles touching the exploded
 * frame) → per-doc start-list agg → one id-key join to the corpus where
 * the span cover is pure array math (flatten/distinct/filter-with-index,
 * all codegen'd HOFs — no second text scan, no driver state). The
 * duplicated-gram set is unbounded at corpus scale, so nothing here is
 * broadcast-hinted; AQE decides.
 */
object SpanScrub {

  /** Whitespace words (q19's tokenizer): trim-split, empty text → []. */
  private def wordsWs(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** (idCol, pos, gram): 1-based positional k-grams WITH multiplicity —
    * position is what makes removal (not just detection) possible. Docs
    * shorter than k words contribute no rows. */
  def positionalGrams(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    require(k >= 2, s"k=$k: spans need at least 2 words")
    val ws = wordsWs(col(textCol))
    docs.select(col(idCol),
        explode(when(size(ws) >= k,
            transform(sequence(lit(1), size(ws) - k + 1),
              i => struct(i.cast("int").as("pos"),
                concat_ws(" ", slice(ws, i, lit(k))).as("gram"))))
          .otherwise(array().cast("array<struct<pos:int,gram:string>>")))
          .as("__g"))
      .select(col(idCol), col("__g.pos").as("pos"), col("__g.gram").as("gram"))
  }

  /** Grams occurring in ≥ minDf distinct documents. */
  def dupGrams(grams: DataFrame, idCol: String, minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf=$minDf: a threshold below 2 scrubs everything")
    grams.groupBy("gram").agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDf).select("gram")
  }

  /**
   * Scrubbed corpus: (idCol, n_words, n_removed, clean_text). A word at
   * position p is removed iff some duplicated gram starts in
   * [p-k+1, p] within this document; clean_text re-joins survivors with
   * single spaces (whitespace-normalized, like LineDedup re-joins lines).
   */
  def scrub(docs: DataFrame, idCol: String, textCol: String,
            k: Int, minDf: Int): DataFrame = {
    // the exploded gram frame feeds BOTH the df agg and the probe —
    // lazy-checkpoint so shingling runs once (the round-loop pattern)
    val g = Pin(positionalGrams(docs, idCol, textCol, k))
    val starts = g.join(dupGrams(g, idCol, minDf), Seq("gram"), "left_semi")
      .groupBy(idCol).agg(collect_list(col("pos")).as("__starts"))
    docs.join(starts, Seq(idCol), "left")
      .withColumn("__ws", wordsWs(col(textCol)))
      .withColumn("__rm", array_distinct(flatten(transform(
        coalesce(col("__starts"), array().cast("array<int>")),
        s => sequence(s, s + k - 1)))))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_words"),
        size(col("__rm")).cast("long").as("n_removed"),
        array_join(filter(col("__ws"),
          (w, i) => !array_contains(col("__rm"), i + 1)), " ").as("clean_text"))
  }
}
