package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.Pin

/**
 * The full modern training-data prep stack, composed end-to-end — what a
 * 100 TB webtext corpus runs before tokenization, in cost order:
 *
 *   PII redaction → line-level boilerplate removal → [repetition +
 *   quality + language gates, ONE scored pass] → exact dedup →
 *   MinHash-LSH near-dup → benchmark decontamination
 *
 * Ordering rationale: redaction is a scalar rewrite evaluated inside the
 * scan (nothing unscrubbed ever leaves the executor); boilerplate
 * removal precedes the scalar gates because nav/footer chrome distorts
 * repetition and quality scores; the three per-doc gates share one
 * projection pass over the cleaned text; the shuffle-bearing dedup
 * stages see only the surviving fraction; decontamination runs LAST so
 * its broadcast probe touches the fewest rows.
 *
 * Every stage is the repo's already-oracled operator (q45, q51, q44,
 * q20/q21, q22, q25, q46); [[report]] is itself hard-verified end-to-end
 * by the q52 DuckDB oracle, which re-derives the whole chain in SQL.
 * Intermediate frames are pinned ([[graft.Pin]]) so multi-consumer
 * stages run once.
 */
object PrepStack {

  case class StackConfig(
      minDocsLine: Int = 50,
      topN: Int = 2, dupN: Int = 5,
      topThresh: Double = 0.20, dupThresh: Double = 0.15,
      minQuality: Double = 0.65, lang: String = "en",
      threshold: Double = 0.8, numPerms: Int = 64, bands: Int = 16, k: Int = 5,
      decontamN: Int = 3)

  /**
   * Run the stack and return ONE accounting row:
   * (n_input, n_pii_docs, n_boiler_removed, n_gate_survivors, n_exact,
   * n_neardup_pairs, n_contaminated, n_survivors, n_tokens).
   * `bench` is the evaluation set to decontaminate against (its raw
   * text's n-grams are the broadcast side).
   */
  def report(docs: DataFrame, idCol: String, textCol: String,
             bench: DataFrame, benchTextCol: String,
             cfg: StackConfig = StackConfig()): DataFrame = {
    val redacted = docs.select(col(idCol),
        Pii.redact(col(textCol)).as(textCol),
        Pii.hasPii(col(textCol)).as("__pii"))
      .transform(Pin(_))

    // (id, n_lines, n_removed, clean_text) — every input doc present
    val cleaned = LineDedup.clean(redacted.select(idCol, textCol),
        idCol, textCol, cfg.minDocsLine)
      .withColumnRenamed("clean_text", textCol)
      .transform(Pin(_))

    // one scored pass: repetition kernel + quality + langid on clean text
    val m = gf.repetition_metrics(col(textCol), cfg.topN, cfg.dupN)
    val scored = cleaned.select(col(idCol), col(textCol),
        (round(m.getField("topFrac"), 4) > cfg.topThresh ||
          round(m.getField("dupFrac"), 4) > cfg.dupThresh).as("__rep"),
        TextOps.qualityScore(col(textCol)).as("__q"),
        TextOps.langIdFirstMatch(col(textCol)).as("__l"))
      .transform(Pin(_))
    val gated = scored.filter(!col("__rep") &&
      col("__q") >= cfg.minQuality && col("__l") === cfg.lang)

    // exact dedup: deterministic min-(id,text) survivor per fingerprint
    val exact = gated
      .groupBy(TextOps.fingerprint(col(textCol)).as("__fp"))
      .agg(min(struct(col(idCol), col(textCol))).as("__s"))
      .select(col(s"__s.$idCol").as(idCol), col(s"__s.$textCol").as(textCol))
      .transform(Pin(_))

    // fused near-dup (signature + verify sets in one text pass, q41 shape)
    val sigs = TextPipeline.signatureShingles(exact, idCol, textCol,
      cfg.numPerms, cfg.k).transform(Pin(_))
    val pairs = TextPipeline.nearDupPairsFromSigs(sigs, idCol,
      cfg.numPerms, cfg.bands, cfg.threshold).transform(Pin(_))
    // both drop sets are unbounded at corpus scale (near-dup ids are
    // O(duplicate docs), contaminated ids O(contaminated docs)) — no
    // broadcast hint; AQE broadcasts when the set actually fits
    val ndSurvivors = exact.join(
        pairs.select(col("idB").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .transform(Pin(_))

    val contam = Decontaminate.contaminated(ndSurvivors, idCol, textCol,
        bench, benchTextCol, cfg.decontamN)
      .transform(Pin(_))
    val survivors = ndSurvivors.join(
      contam.select(idCol), Seq(idCol), "left_anti")

    redacted.agg(count(lit(1)).as("n_input"),
        count(when(col("__pii"), 1)).as("n_pii_docs"))
      .crossJoin(cleaned.agg(sum("n_removed").as("n_boiler_removed")))
      .crossJoin(gated.agg(count(lit(1)).as("n_gate_survivors")))
      .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
      .crossJoin(pairs.agg(count(lit(1)).as("n_neardup_pairs")))
      .crossJoin(contam.agg(count(lit(1)).as("n_contaminated")))
      .crossJoin(survivors.agg(count(lit(1)).as("n_survivors"),
        coalesce(sum(TextOps.tokenCountWs(col(textCol)).cast("long")), lit(0L))
          .as("n_tokens")))
  }
}
