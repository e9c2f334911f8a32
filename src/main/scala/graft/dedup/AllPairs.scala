package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * EXACT all-pairs Jaccard similarity join via prefix filtering
 * (Bayardo, Ma & Srikant, WWW'07 "Scaling up all pairs similarity
 * search"; Chaudhuri et al.'s SSJoin primitive) — the exact companion
 * to the MinHash/SimHash APPROXIMATE near-dup generators (q25/q26):
 * same (a, b, jaccard) surface, zero false negatives, no probabilistic
 * band tuning.
 *
 * Candidate generation NEVER builds the quadratic token join. Tokens
 * are globally ordered by ascending document frequency (ties by token);
 * a document's PREFIX is its first |d| − ⌈τ·|d|⌉ + 1 tokens in that
 * order. Completeness: if J(A,B) ≥ τ then |A∩B| ≥ τ·max(|A|,|B|), and
 * a set whose prefix misses the intersection can hold at most
 * ⌈τ|X|⌉ − 1 < |A∩B| of it — contradiction; so every qualifying pair
 * shares a token in BOTH prefixes and the prefix⋈prefix equi-join
 * finds it. Ordering by RARE-first df is what makes this scale: a
 * stopword-grade token lands in almost no prefixes, so its candidate
 * fan-out collapses from df² to (near) zero — the WWW'07 result that
 * turns an infeasible self-join into one bounded by the rare-token df
 * distribution. The τ-length filter (τ·|A| ≤ |B| ≤ |A|/τ) prunes the
 * survivors before verification.
 *
 * Verification is exact and join-shaped: candidates fan out over the
 * smaller side's tokens (one equi-join on id), close on (id, token)
 * (second equi-join), and a hash agg counts |A∩B|. All shuffles are
 * equi-joins on tokens/ids; the only window is per-document rank
 * (partitioned by id). Jaccard and its τ-gate are ONE double division
 * from exact ints — IEEE-identical across engines.
 */
object AllPairs {

  /**
   * Exact Jaccard join over `tokens` = (id, tok) DISTINCT rows.
   * Returns (a, b, inter, size_a, size_b, jaccard) for all id pairs
   * a < b with J ≥ tau.
   */
  def jaccardJoin(tokens: DataFrame, idCol: String, tokCol: String,
                  tau: Double): DataFrame = {
    val t = tokens.select(col(idCol).as("id"), col(tokCol).as("tok"))
      .transform(Pin(_)) // feeds df, rank, and both verify sides
    val sz = t.groupBy("id").agg(count(lit(1)).as("n"))
      .transform(Pin(_))
    val df = t.groupBy("tok").agg(count(lit(1)).as("__df"))
    val ranked = t
      .join(df.hint("shuffle_hash"), "tok")
      .withColumn("__r", row_number().over(
        Window.partitionBy("id").orderBy(col("__df"), col("tok"))))
    val prefix = ranked
      .join(sz.hint("shuffle_hash"), "id")
      .filter(col("__r") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select("id", "tok", "n")
      .transform(Pin(_)) // both sides of the candidate join
    val cand = prefix.as("pa")
      .join(prefix.as("pb").hint("shuffle_hash"),
        col("pa.tok") === col("pb.tok") && col("pa.id") < col("pb.id"))
      .filter(lit(tau) * col("pa.n") <= col("pb.n") &&
        lit(tau) * col("pb.n") <= col("pa.n"))
      .select(col("pa.id").as("a"), col("pb.id").as("b"))
      .distinct()
    val inter = cand
      .join(t.select(col("id").as("a"), col("tok")).hint("shuffle_hash"), Seq("a"))
      .join(t.select(col("id").as("b"), col("tok")).hint("shuffle_hash"),
        Seq("b", "tok"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("id").as("a"), col("n").as("size_a")).hint("shuffle_hash"), Seq("a"))
      .join(sz.select(col("id").as("b"), col("n").as("size_b")).hint("shuffle_hash"), Seq("b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select("a", "b", "inter", "size_a", "size_b", "jaccard")
  }
}
