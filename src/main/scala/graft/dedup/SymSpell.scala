package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Edit-distance-1 similarity join via DELETION-NEIGHBORHOOD blocking
 * (the FastSS scheme, Bocek et al. 2007; popularized as SymSpell) —
 * the typo/variant matcher for short keys (hostnames, titles, product
 * codes) that the token-set operators (q25/q26/q138) cannot express:
 * Jaccard over grams is blind to single-character edits in short
 * strings.
 *
 * Blocking theorem (k = 1): levenshtein(a, b) ≤ 1 ⇔ the deletion
 * neighborhoods del₁(a) ∪ {a} and del₁(b) ∪ {b} intersect —
 * a substitution at position p collides on both strings' p-deletions,
 * an insertion/deletion collides on the shorter string itself. So
 * candidates come from ONE equi-join on the |key|+1 deletion variants
 * per key, never an all-pairs product; `levenshtein` (codegen'd
 * built-in, identical definition in DuckDB) verifies exactly. The
 * completeness proof is the q138 pattern: the oracle runs the naive
 * complete cross-check and must agree.
 *
 * At 10^10 keys the variant table is (L+1)× the key table, the join is
 * hash-partitioned on short strings, and verification touches only
 * colliding candidates — the standard spell-index scale shape.
 */
object SymSpell {

  /** DISTINCT key pairs (key_a < key_b) with levenshtein ≤ 1, plus the
    * exact distance. */
  def edit1Join(keys: DataFrame, keyCol: String): DataFrame = {
    val k = keys.select(col(keyCol).as("k")).distinct()
      .transform(Pin(_)) // feeds both sides of the variant join
    val vars = k
      .select(col("k"),
        explode(sequence(lit(0), length(col("k")))).as("p"))
      .select(col("k"),
        when(col("p") === 0, col("k")) // p=0: the string itself
          .otherwise(concat(
            col("k").substr(lit(1), col("p") - 1),
            col("k").substr(col("p") + 1, length(col("k"))))).as("v"))
      .distinct()
      .transform(Pin(_))
    vars.as("a")
      .join(vars.as("b").hint("shuffle_hash"),
        col("a.v") === col("b.v") && col("a.k") < col("b.k"))
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")))
      .filter(col("dist") <= 1)
  }
}
