package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Text-analysis operators for a large-scale training-data pipeline over a
 * webtext `documents` table (doc_id, text, lang, source, n_chars) —
 * language-ID, quality scoring, token counting, fingerprinting. All pure
 * Catalyst column expressions: codegen'd, pushdown-friendly, no UDFs.
 */
object TextOps {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: letter runs, digit runs, single punctuation —
    * a deterministic stand-in for a real tokenizer's pre-tokenization. */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Words (lowercased, letters only) — shared by langid/quality/shingles. */
  def words(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), w => w =!= "")

  /** Word n-grams of a `words` array, space-joined — the ONE guarded
    * builder shared by decontamination, repetition, and the oracles'
    * SQL mirror. Fewer than n words → empty array (the `when` keeps
    * ANSI `sequence` from ever seeing a negative upper bound). */
  def wordNgrams(words: Column, n: Int): Column = {
    val g = transform(sequence(lit(1), size(words) - (n - 1)),
      i => array_join(slice(words, i, lit(n)), " "))
    when(size(words) >= n, g).otherwise(array().cast("array<string>"))
  }

  // Per-language stopword marker sets for the n-gram/stopword heuristic
  // language classifier. Small on purpose: deterministic, SQL-expressible.
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "es" -> Seq("el", "la", "de", "que", "los", "las", "por", "con", "una", "para"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "est", "dans", "pour", "que", "une", "sur"))

  /** Count of words belonging to `lang`'s stopword set. */
  def stopwordHits(text: Column, lang: String): Column =
    size(filter(words(text), w => w.isin(stopwords(lang).map(lit): _*)))

  /**
   * Language-ID: argmax of stopword hits across languages; ties and
   * zero-hit texts → "und" (undetermined). Deterministic tie-break:
   * higher count wins, then lexicographic language code.
   */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    // struct(hits, invRank, lang): array_max picks max hits, then max
    // invRank — i.e. the lexicographically-FIRST language on hit ties.
    val scored = langs.zipWithIndex.map { case (l, i) => struct(
      stopwordHits(text, l).as("hits"),
      lit(langs.length - 1 - i).as("invRank"),
      lit(l).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") <= 0, "und").otherwise(best.getField("lang"))
  }

  /** Simpler langid used for the SQL-oracle query: first language (in
    * fixed order en,es,de,fr) whose stopword hits ≥ 2, else "und". */
  def langIdFirstMatch(text: Column): Column = {
    val order = Seq("en", "es", "de", "fr")
    order.foldRight(lit("und")) { (l, acc) =>
      when(stopwordHits(text, l) >= 2, lit(l)).otherwise(acc)
    }
  }

  /** Punctuation ratio: punct chars / total chars (0 for empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      (length(text) - length(regexp_replace(text, "[.,;:!?'\"()-]", ""))).cast("double")
        / length(text))

  /** Mean word length over letter-words (0 for wordless text). */
  def meanWordLen(text: Column): Column = {
    val ws = words(text)
    when(size(ws) === 0, 0.0).otherwise(
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(ws))
  }

  /** English stopword ratio — the classic boilerplate/quality signal. */
  def stopwordRatio(text: Column): Column = {
    val ws = words(text)
    when(size(ws) === 0, 0.0)
      .otherwise(stopwordHits(text, "en").cast("double") / size(ws))
  }

  /**
   * Quality score in [0,1]: blend of length band, stopword presence, punct
   * sanity, word-length sanity — the shape of C4-style heuristic quality
   * filters used in webtext pipelines (e.g. Gopher rules).
   */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCountWs(text)
    val lenOk = when(nTok >= 10 && nTok <= 100000, 0.4).otherwise(0.0)
    val swOk = when(stopwordRatio(text) >= 0.05, 0.3).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.2, 0.2).otherwise(0.0)
    val mwl = meanWordLen(text)
    val wlOk = when(mwl >= 3.0 && mwl <= 10.0, 0.1).otherwise(0.0)
    round(lenOk + swOk + punctOk + wlOk, 1)
  }

  /** Content fingerprint: md5 of whitespace-and-case-normalized text —
    * exact-dedup key robust to formatting noise. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " ").cast("binary"))

  /** 64-bit rolling-style document fingerprint (xxhash64 of the normalized
    * text) for compact join keys at scale. */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /**
   * Cross-source n-gram overlap matrix: Jaccard over each source's
   * DISTINCT n-gram set, one row per unordered source pair — the
   * mixture-design diagnostic ("how much of source B is already in A")
   * behind dedup-across-dumps and mixture-weight decisions.
   *
   * 100 TB shape: the matrix is #sources² and sources are corpus DUMPS
   * (tens to hundreds), never documents — the per-source distinct-gram
   * table is the only big intermediate, the pair join is a gram-key
   * equi-join (self-join on gram, source < source), and the result is
   * tiny. Grams present in only one source never join to anything.
   */
  def sourceOverlapMatrix(docs: org.apache.spark.sql.DataFrame, srcCol: String,
      textCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    val sg = docs.select(col(srcCol).as("src"),
        explode(wordNgrams(words(col(textCol)), n)).as("g"))
      .distinct()
      .transform(Pin(_)) // feeds per-source counts AND the pair join
    val counts = sg.groupBy("src").agg(count(lit(1)).as("__n"))
    val shared = sg.as("a")
      .join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(counts.select(col("src").as("src_a"), col("__n").as("__na")), Seq("src_a"))
      .join(counts.select(col("src").as("src_b"), col("__n").as("__nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("__na") + col("__nb") - col("shared")), 6).as("jaccard"))
  }
}
