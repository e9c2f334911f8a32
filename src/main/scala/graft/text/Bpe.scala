package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Byte-pair-encoding tokenizer TRAINING, Spark-first (Sennrich et al.,
 * "Neural Machine Translation of Rare Words with Subword Units", ACL
 * 2016 — the algorithm behind GPT-2/LLaMA-style tokenizers; reference
 * analog: the reference counts tokens with a fixed heuristic, a real
 * pipeline learns the vocabulary from its own corpus).
 *
 * The scale trick is classic: train on the WORD-COUNT TABLE, not the
 * corpus. One corpus scan builds (word, n) — Zipf makes distinct words
 * orders of magnitude smaller than token volume — and every merge
 * iteration is a small job on that table: adjacent-pair explode →
 * weighted count → 1-row argmax → apply the merge. Nothing in the loop
 * touches the corpus again; per-doc token counts come back via one
 * equi-join on the trained table.
 *
 * MERGE-APPLICATION CONVENTION (cross-engine determinism): a merge
 * (l, r) is applied to the space-separated symbol string by repeating
 * `replace(sym, ' l r ', ' lr ')` a fixed `passes` times. Each pass
 * rewrites leftmost non-overlapping occurrences; repetition reaches the
 * fixpoint for runs up to 2^passes pairs (far beyond any word length
 * here). Within a run of a self-overlapping pair (e.g. `a a a a a`)
 * the fixpoint can pick a different non-overlapping cover than
 * Sennrich's strict left-to-right scan — both are maximal covers, and
 * this one is reproducible IDENTICALLY in any engine with a standard
 * leftmost `replace`, which is what the q86/q87 oracles rely on.
 */
object Bpe {

  /** (word, n, sym) — word counts with the initial symbol string
    * `' c h a r s </w> '` (single-space separated, space sentinels). */
  def initWords(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("sym",
        concat(lit(" "),
          array_join(transform(sequence(lit(1), length(col("word"))),
            i => col("word").substr(i, lit(1))), " "),
          lit(" </w> ")))

  /** Guard: merge symbols are interpolated into replace() literals in
    * both engines — restrict to the charset words can produce. */
  private def checkSymbol(s: String): String = {
    require(s.matches("[a-z</>]+"), s"unexpected BPE symbol '$s'")
    s
  }

  /**
   * Learn `numMerges` merges. Returns (merges, trainedWords):
   * merges = (rank, mleft, mright), one row per learned merge in order;
   * trainedWords = the word table with all merges applied (its `sym`
   * token count per word IS the tokenizer's output length).
   *
   * Driver work per iteration: one 1-row collect (the argmax pair) —
   * the PageRank/IVF pattern of k-bounded driver actions — plus a
   * [[graft.Pin]] so iteration k+1 reads materialized state instead of
   * re-deriving k nested replaces. The argmax collect is the job that
   * settles (truncates) each iteration's pin.
   */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      passes: Int = 6): (Seq[(String, String)], DataFrame) = {
    var words = Pin(initWords(docs, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var k = 0
    var exhausted = false
    while (k < numMerges && !exhausted) {
      val top = words
        .select(col("n"), split(trim(col("sym")), " ").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("n"), explode(arrays_zip(
          slice(col("s"), lit(1), size(col("s")) - 1).as("l"),
          slice(col("s"), lit(2), size(col("s")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("mleft"), col("p.r").as("mright"))
        .agg(sum("n").as("cnt"))
        .orderBy(desc("cnt"), asc("mleft"), asc("mright"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = checkSymbol(top(0).getString(0))
        val r = checkSymbol(top(0).getString(1))
        merges += ((l, r))
        val applied = (1 to passes).foldLeft(col("sym")) { (c, _) =>
          call_function("replace", c, lit(s" $l $r "), lit(s" $l$r "))
        }
        words = words.select(col("word"), col("n"), applied.as("sym"))
          .transform(Pin(_))
        k += 1
      }
    }
    (merges.toSeq, words)
  }

  /** Per-doc token counts under the trained tokenizer: explode words,
    * equi-join the trained table, sum symbol counts. Unseen words (none
    * here — trained on the same corpus) count as char-length + 1. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      trainedWords: DataFrame): DataFrame = {
    val perWord = trainedWords.select(col("word"),
      size(split(trim(col("sym")), " ")).cast("long").as("__toks"))
    docs.select(col(idCol), explode(TextOps.words(col(textCol))).as("word"))
      .join(perWord, Seq("word"), "left")
      .groupBy(idCol)
      .agg(sum(coalesce(col("__toks"),
          (length(col("word")) + 1).cast("long"))).as("n_tokens"),
        count(lit(1)).as("n_words"))
  }
}
