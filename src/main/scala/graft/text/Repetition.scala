package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.gf

/**
 * Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
 * Models: Methods, Analysis & Insights from Training Gopher", §A1.1):
 * documents dominated by a repeated n-gram are boilerplate/spam and get
 * filtered before training. Two signals, both measured as fractions of
 * word characters (characters inside words; separators excluded):
 *
 *   - `top2_char_frac`  — chars covered by ALL occurrences of the most
 *     frequent word 2-gram / total word chars (Gopher threshold 0.20);
 *   - `dup5_char_frac`  — chars in the duplicate occurrences (count-1
 *     per distinct gram, so a doc of unique text scores 0) of word
 *     5-grams / total word chars (Gopher threshold 0.15).
 *
 * Scale shape: ONE explode of tagged (n, gram) structs → ONE
 * (doc, n, gram) hash count (map-side combinable) → ONE per-doc agg.
 * No joins, no windows, no per-doc quadratics; gram strings never leave
 * their doc's group key. The most-frequent-gram pick is deterministic:
 * max (count, gramChars, gram) — lexicographically largest gram on full
 * ties, mirrored exactly by the DuckDB oracle's ORDER BY.
 */
object Repetition {

  /** Word n-grams tagged with n, as array<struct<n:int,gram:string>>
    * (built on the shared guarded [[TextOps.wordNgrams]]). */
  private def taggedGrams(words: Column, n: Int): Column =
    transform(TextOps.wordNgrams(words, n),
      g => struct(lit(n).as("n"), g.as("gram")))

  /**
   * Per-document repetition metrics over `textCol`:
   * (id, top2_char_frac, dup5_char_frac, repetitive). Every input doc
   * appears in the output; docs with no words score 0.0 on both
   * fractions. Computed by ONE codegen'd per-doc pass
   * ([[graft.functions.gf.repetition_metrics]]) — no exploded gram rows, no
   * shuffle; [[metricsCols]] is the column-pipeline specification it is
   * differentially tested against.
   */
  def metrics(docs: DataFrame, idCol: String, textCol: String,
              topN: Int = 2, dupN: Int = 5,
              topThresh: Double = 0.20, dupThresh: Double = 0.15): DataFrame = {
    val m = gf.repetition_metrics(coalesce(col(textCol), lit("")), topN, dupN)
    docs
      .select(col(idCol), m.as("__m"))
      .select(col(idCol),
        round(col("__m").getField("topFrac"), 4).as("top2_char_frac"),
        round(col("__m").getField("dupFrac"), 4).as("dup5_char_frac"))
      .withColumn("repetitive",
        col("top2_char_frac") > topThresh || col("dup5_char_frac") > dupThresh)
  }

  /** Column-pipeline formulation of [[metrics]] — the executable
    * SPECIFICATION for the kernel's differential test (one tagged-gram
    * explode → two aggregations; not used on hot paths). */
  private[graft] def metricsCols(docs: DataFrame, idCol: String, textCol: String,
              topN: Int = 2, dupN: Int = 5,
              topThresh: Double = 0.20, dupThresh: Double = 0.15): DataFrame = {
    val ws = TextOps.words(col(textCol))
    val base = docs.select(col(idCol),
      aggregate(ws, lit(0L), (a, w) => a + length(w)).as("totChars"),
      concat(taggedGrams(ws, topN), taggedGrams(ws, dupN)).as("gs"))
    // chars inside the gram's words = gram length minus its n-1 separators
    val gramChars = length(col("gram")) - (col("n") - lit(1))
    base
      .select(col(idCol), col("totChars"), explode_outer(col("gs")).as("g"))
      .groupBy(col(idCol), col("totChars"),
        col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(col("g.n")).as("cnt")) // count of non-null grams
      .groupBy(idCol, "totChars")
      .agg(
        max(when(col("n") === topN,
          struct(col("cnt"), gramChars.as("gc"), col("gram")))).as("top"),
        sum(when(col("n") === dupN && col("cnt") > 1,
          (col("cnt") - 1) * gramChars).otherwise(0L)).as("dupChars"))
      .select(col(idCol),
        // totChars=0 guard: ANSI mode turns /0 into an error, not null
        round(when(col("totChars") > 0,
          coalesce(col("top.cnt") * col("top.gc") / col("totChars"), lit(0.0)))
          .otherwise(0.0), 4).as("top2_char_frac"),
        round(when(col("totChars") > 0, col("dupChars") / col("totChars"))
          .otherwise(0.0), 4).as("dup5_char_frac"))
      .withColumn("repetitive",
        col("top2_char_frac") > topThresh || col("dup5_char_frac") > dupThresh)
  }

  /** Filter: keep only non-repetitive docs (the pipeline-gate form). */
  def filterRepetitive(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.join(metrics(docs, idCol, textCol).filter(!col("repetitive"))
      .select(idCol), Seq(idCol), "left_semi")
}
