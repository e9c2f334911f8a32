package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
 * 2023): select raw-corpus documents whose hashed-n-gram distribution
 * resembles a (small) target corpus. The classifier-free cousin of the
 * GPT-3/CCNet quality filter: fit two bag-of-hashed-n-gram multinomials
 * p̂ (target) and q̂ (raw), score every raw doc with the importance
 * log-weight  log w(x) = Σ_b c_b(x) · (ln p̂_b − ln q̂_b),  then resample
 * with Gumbel-top-k on  log w + g  (g standard Gumbel noise).
 *
 * Everything is deterministic and engine-portable:
 *   - features are unigrams + bigrams of [[TextOps.words]], hashed into
 *     `buckets` buckets via the first 8 hex digits of md5 (the same
 *     portable-hash trick as [[Sampling]]'s rank key — Spark and DuckDB
 *     agree byte-for-byte);
 *   - the multinomials use add-1 smoothing over the bucket space;
 *   - the Gumbel draw derives from the doc id: u = (h16 + 0.5)/65536
 *     with h16 = first 4 md5 hex digits, g = −ln(−ln u) — seed-free,
 *     append-stable, identical in any engine.
 *
 * Scale shape (the reason DSIR beats classifier scoring at 100 TB): the
 * whole "model" is ONE `buckets`-row table of log-ratios — a broadcast —
 * so scoring is a scan of the raw corpus (explode → bucket → per-doc
 * partial-agg of bucket counts → broadcast join → sum). The raw corpus
 * is exploded ONCE (a lazy checkpoint feeds both the q̂ counts and the
 * scoring join); the target side is tiny by definition (a quality
 * reference set, not another corpus). Selection is a global top-k —
 * TakeOrderedAndProject, never a full sort.
 */
object Dsir {

  /** Unigrams + bigrams — the paper's feature set. */
  def grams(textCol: Column): Column = {
    val w = TextOps.words(textCol)
    concat(w, TextOps.wordNgrams(w, 2))
  }

  /** Portable hash bucket: first 8 md5 hex digits mod `buckets` —
    * identical in Spark and DuckDB (`CAST('0x'||substring(md5(g),1,8) AS
    * BIGINT) % buckets`). 8 hex digits < 2^32, no overflow. */
  def bucket(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram.cast("binary")), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Deterministic per-id standard-Gumbel draw (see class doc). */
  def gumbel(id: Column): Column = {
    val u = (conv(substring(md5(id.cast("string").cast("binary")), 1, 4), 16, 10)
      .cast("long") + 0.5) / 65536.0
    -log(-log(u))
  }

  /** (doc_id, bucket, cnt) of a corpus — the shared exploded form. */
  private def bucketCounts(docs: DataFrame, idCol: String, textCol: String,
                           buckets: Int): DataFrame =
    docs.select(col(idCol), explode(grams(col(textCol))).as("gram"))
      .select(col(idCol), bucket(col("gram"), buckets).as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("cnt"))

  /**
   * Importance log-weights for every raw doc with ≥1 gram:
   * (idCol, n_grams, logw). `target` is the quality reference corpus
   * (assumed ⊆ or ≈ the raw domain — only buckets present in the raw
   * corpus matter, all others have zero raw mass by construction).
   */
  def importanceWeights(raw: DataFrame, idCol: String, textCol: String,
                        target: DataFrame, targetTextCol: String,
                        buckets: Int = 512): DataFrame = {
    require(buckets > 0, s"buckets=$buckets must be positive")
    // raw side exploded once; feeds BOTH the q̂ model agg and the scoring
    val rawCounts = bucketCounts(raw, idCol, textCol, buckets)
      .transform(Pin(_))
    val rawModel = rawCounts.groupBy("bucket")
      .agg(sum(col("cnt")).as("rc"))
    // target side needs no doc identity — only per-bucket totals survive
    val targetModel = target
      .select(explode(grams(col(targetTextCol))).as("gram"))
      .select(bucket(col("gram"), buckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("tc"))
    val totals = rawModel.agg(sum(col("rc")).as("rt"))
      .crossJoin(targetModel.agg(sum(col("tc")).as("tt")))
    // λ_b = ln p̂_b − ln q̂_b with add-1 smoothing over the bucket space.
    // One `buckets`-row table — broadcast to the scoring scan.
    val lambdas = rawModel
      .join(targetModel, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + 1.0) / (col("tt") + buckets.toDouble))
          - log((col("rc") + 1.0) / (col("rt") + buckets.toDouble))).as("lam"))
    rawCounts
      .join(broadcast(lambdas), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum(col("cnt")).as("n_grams"),
        sum(col("cnt") * col("lam")).as("logw"))
  }

  /**
   * Gumbel-top-k resampling over [[importanceWeights]] output: the k docs
   * with the highest  round(logw + gumbel(id), 4)  (rounded so the rank —
   * like every cross-engine verdict here — can't hang on last-ulp
   * summation order; ties break on id). Adds `score`.
   */
  def select(weights: DataFrame, idCol: String, k: Int): DataFrame =
    weights
      .withColumn("score", round(col("logw") + gumbel(col(idCol)), 4))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
}
