package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Corpus-weighted term scoring — the two classic frequency models a
 * webtext pipeline derives from its own corpus:
 *
 *   - [[topTerms]]: smoothed TF-IDF keyword extraction (tf ·
 *     (ln((N+1)/(df+1)) + 1), the sklearn-style smooth idf), top-k
 *     terms per document;
 *   - [[UnigramLm.score]] (below): unigram negative-log-likelihood — the
 *     cheap stand-in for the CCNet LM-perplexity quality signal, scored
 *     from the corpus's own unigram distribution.
 *
 * Scale shape: one words-explode of the corpus → (doc, term) counts
 * (map-side combinable) → term document-frequencies are a second hash
 * agg over the distinct (doc, term) pairs — both shuffles carry only
 * term keys, never text. N is a 1-row broadcast. Ranking ties are
 * broken on the ROUNDED score then term (both engines order on
 * identical quantities — the q28 tie lesson).
 */
object Tfidf {

  /** Top-k TF-IDF terms per doc: (id, term, tf, df, score, rank). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 5): DataFrame = {
    val terms = docs
      .select(col(idCol), explode(TextOps.words(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
      .transform(Pin(_)) // feeds both df-agg and the score join
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = terms
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * (log((col("__n") + 1.0) / (col("df") + 1.0)) + 1.0), 4))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }
}

/**
 * Corpus-unigram negative log-likelihood: avg over a doc's words of
 * −ln p(term), p from the corpus's own counts — low = templated/common
 * language, high = rare-token soup; both tails get filtered in a CCNet
 * style quality gate.
 */
object UnigramLm {

  /** (id, n_words, nll) with nll = round(avg −ln p(term), 4); wordless
    * docs score 0.0. The unigram table is corpus-derived and joined on
    * the exploded words (term-key shuffle; the model itself is a
    * DataFrame — at 100 TB it stays distributed, no driver collect). */
  def score(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = docs
      .select(col(idCol), explode_outer(TextOps.words(col(textCol))).as("term"))
      .transform(Pin(_)) // feeds the model agg and the score join
    val present = exploded.filter(col("term").isNotNull)
    val total = present.agg(count(lit(1)).cast("double").as("__t"))
    val model = present.groupBy("term").agg(count(lit(1)).as("cnt"))
    exploded
      .join(model, Seq("term"), "left") // null term rows keep the doc alive
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(count(col("term")).as("n_words"),
        round(coalesce(avg(-log(col("cnt") / col("__t"))), lit(0.0)), 4).as("nll"))
  }
}

/**
 * Interpolated bigram language model — the next rung above [[UnigramLm]]
 * toward the CCNet KenLM-perplexity quality signal: a CONDITIONAL model,
 * so templated token soup ("a a a a") that fools unigram frequency gets
 * a proper (low-surprise) score and rare-but-grammatical text is not
 * over-penalized.
 *
 *   p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/T
 *
 * with c(w₁·) the bigram-context count (NOT the unigram count — a doc's
 * final word opens no context), T the corpus word total, and Jelinek-
 * Mercer interpolation weight λ. Per-doc score = avg over the doc's
 * bigram tokens of −ln p; docs with < 2 words score 0.
 *
 * Scale shape: one words-projection feeds both the bigram explode and
 * the unigram explode; all three count tables (bigram, context,
 * unigram) are map-side-combinable hash aggs keyed on terms; scoring
 * joins the bigram-instance table against them on term keys only —
 * text never shuffles, the model never collects.
 */
object BigramLm {

  /** (id, n_bigrams, nll) with nll = round(avg −ln p(w₂|w₁), 4). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            lambda: Double = 0.7): DataFrame = {
    val base = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_)) // feeds bigrams, unigrams, and the doc spine
    val bigrams = base
      .select(col(idCol),
        explode(when(size(col("__ws")) >= 2,
          arrays_zip(
            slice(col("__ws"), lit(1), size(col("__ws")) - 1).as("w1"),
            slice(col("__ws"), lit(2), size(col("__ws")) - 1).as("w2")))
          .otherwise(array())).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .transform(Pin(_)) // feeds cb, cc, and the scoring join
    val unigrams = base.select(explode(col("__ws")).as("term"))
    val cb = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
    val cc = bigrams.groupBy("w1").agg(count(lit(1)).as("__cc"))
    val cu = unigrams.groupBy("term").agg(count(lit(1)).as("__cu"))
    val total = unigrams.agg(count(lit(1)).cast("double").as("__t"))
    val scored = bigrams
      .join(cb, Seq("w1", "w2"))
      .join(cc, Seq("w1"))
      .join(cu, bigrams("w2") === cu("term"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(lit(lambda) * (col("__cb") / col("__cc")) +
          (lit(1.0) - lambda) * (col("__cu") / col("__t")))).as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nb"), avg("__lp").as("__nll"))
    base.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("__nll"), lit(0.0)), 4).as("nll"))
  }
}

/**
 * Jelinek-Mercer interpolated TRIGRAM language model — the top rung of
 * the [[UnigramLm]] → [[BigramLm]] → trigram ladder toward the CCNet
 * 5-gram-KenLM quality signal (Wenzek et al. 2020; the reference scores
 * page quality with keyword frequency only, so this whole ladder is
 * beyond-reference training-data tooling):
 *
 *   p(w₃|w₁w₂) = λ₃·c(w₁w₂w₃)/c(w₁w₂·) + λ₂·c(w₂w₃)/c(w₂·) + λ₁·c(w₃)/T
 *
 * Every level is INTERPOLATED (not stupid-backoff): on in-corpus scoring
 * a stupid-backoff model never backs off (every observed trigram has
 * count ≥ 1 by construction), so JM is the variant whose lower orders
 * are actually exercised. Context counts come from the instance tables
 * (c(w₁w₂·) counts trigram openings, c(w₂·) bigram openings — a doc's
 * tail words open no context), matching [[BigramLm]]'s convention.
 *
 * Scale shape: ONE words-projection (lazily checkpointed) feeds the
 * trigram, bigram, and unigram explodes; all five count tables are
 * map-side-combinable hash aggs keyed on terms; scoring joins the
 * trigram-instance table on term keys only — text never shuffles, the
 * model stays a DataFrame (at 100 TB the count tables are distributed,
 * never collected). Per-doc score = avg over trigram tokens of −ln p;
 * docs with < 3 words score 0.
 */
object TrigramLm {

  /** (id, n_trigrams, nll) with nll = round(avg −ln p(w₃|w₁w₂), 4). */
  def score(docs: DataFrame, idCol: String, textCol: String,
            l3: Double = 0.6, l2: Double = 0.3): DataFrame = {
    require(l3 > 0 && l2 > 0 && l3 + l2 < 1.0, "need λ₃, λ₂ > 0 with λ₃+λ₂ < 1")
    val l1 = 1.0 - l3 - l2
    val base = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_)) // feeds tri/bi/uni explodes and the doc spine
    val trigrams = base
      .select(col(idCol),
        explode(when(size(col("__ws")) >= 3,
          arrays_zip(
            slice(col("__ws"), lit(1), size(col("__ws")) - 2).as("w1"),
            slice(col("__ws"), lit(2), size(col("__ws")) - 2).as("w2"),
            slice(col("__ws"), lit(3), size(col("__ws")) - 2).as("w3")))
          .otherwise(array())).as("__tg"))
      .select(col(idCol), col("__tg.w1").as("w1"),
        col("__tg.w2").as("w2"), col("__tg.w3").as("w3"))
      .transform(Pin(_)) // feeds ct, c12, and the scoring join
    val bigrams = base
      .select(
        explode(when(size(col("__ws")) >= 2,
          arrays_zip(
            slice(col("__ws"), lit(1), size(col("__ws")) - 1).as("b1"),
            slice(col("__ws"), lit(2), size(col("__ws")) - 1).as("b2")))
          .otherwise(array())).as("__bg"))
      .select(col("__bg.b1").as("b1"), col("__bg.b2").as("b2"))
      .transform(Pin(_)) // feeds cb and c2
    val unigrams = base.select(explode(col("__ws")).as("term"))
    val ct = trigrams.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("__ct"))
    val c12 = trigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val cb = bigrams.groupBy("b1", "b2").agg(count(lit(1)).as("__cb"))
    val c2 = bigrams.groupBy("b1").agg(count(lit(1)).as("__c2"))
    val cu = unigrams.groupBy("term").agg(count(lit(1)).as("__cu"))
    val total = unigrams.agg(count(lit(1)).cast("double").as("__t"))
    val scored = trigrams
      .join(ct, Seq("w1", "w2", "w3"))
      .join(c12, Seq("w1", "w2"))
      .join(cb, col("w2") === cb("b1") && col("w3") === cb("b2"))
      .join(c2.withColumnRenamed("b1", "__c2key"), col("w2") === col("__c2key"))
      .join(cu, col("w3") === cu("term"))
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(lit(l3) * (col("__ct") / col("__c12")) +
          lit(l2) * (col("__cb") / col("__c2")) +
          lit(l1) * (col("__cu") / col("__t")))).as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nt"), avg("__lp").as("__nll"))
    base.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_trigrams"),
        round(coalesce(col("__nll"), lit(0.0)), 4).as("nll"))
  }
}

/**
 * Stupid-backoff trigram scorer (Brants et al., EMNLP 2007 "Large
 * Language Models in Machine Translation" — the canonical web-scale
 * MapReduce LM: no discounting, no normalization, just count ratios
 * with a fixed backoff penalty α, built precisely because it
 * distributes over count tables the way interpolated/Katz models
 * don't). The held-out complement of [[TrigramLm]]: backoff only ever
 * fires on n-grams UNSEEN in the model, so the model counts come from
 * a separate `model` corpus and `docs` is scored against it —
 * in-corpus scoring would never back off (every observed trigram has
 * count ≥ 1 by construction, the reason TrigramLm interpolates).
 *
 *   S(w₃|w₁w₂) = c(w₁w₂w₃)/c(w₁w₂·)     if c(w₁w₂w₃) > 0
 *              = α·c(w₂w₃)/c(w₂·)       elif c(w₂w₃) > 0
 *              = α²·c(w₃)/T             elif c(w₃) > 0
 *              = α³/T                   else (OOV floor)
 *
 * S is a score, not a probability (it doesn't normalize) — exactly the
 * published definition plus a deterministic α³/T OOV floor so unseen
 * words score finitely. nll = round(avg −ln S, 4) per doc; docs with
 * < 3 words score 0.
 *
 * Scale shape: identical to [[TrigramLm]] — one words-projection per
 * corpus, five map-side-combinable count aggs, scoring joins the eval
 * trigram instances on term keys only, but LEFT so unseen n-grams
 * survive to the backoff CASE; the model total is a 1-row broadcast
 * crossJoin. At 100 TB the model tables are distributed DataFrames
 * (Brants et al. served them sharded; a serving join here is the same
 * equi-join).
 */
object StupidBackoff {

  /** (id, n_trigrams, nll) for `docs`, scored against `model`. */
  def score(docs: DataFrame, model: DataFrame, idCol: String,
            textCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha")
    val evalBase = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_)) // feeds the eval explode and the doc spine
    val modelWords = model
      .select(TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_)) // feeds tri/bi/uni model explodes
    def triOf(df: DataFrame, keep: Seq[Column]): DataFrame = df
      .select(keep :+ explode(when(size(col("__ws")) >= 3,
          arrays_zip(
            slice(col("__ws"), lit(1), size(col("__ws")) - 2).as("w1"),
            slice(col("__ws"), lit(2), size(col("__ws")) - 2).as("w2"),
            slice(col("__ws"), lit(3), size(col("__ws")) - 2).as("w3")))
          .otherwise(array())).as("__tg"): _*)
      .select(keep ++ Seq(col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3")): _*)
    val mTri = triOf(modelWords, Seq.empty)
    val mBi = modelWords
      .select(explode(when(size(col("__ws")) >= 2,
          arrays_zip(
            slice(col("__ws"), lit(1), size(col("__ws")) - 1).as("b1"),
            slice(col("__ws"), lit(2), size(col("__ws")) - 1).as("b2")))
          .otherwise(array())).as("__bg"))
      .select(col("__bg.b1").as("b1"), col("__bg.b2").as("b2"))
      .transform(Pin(_)) // feeds cb and c2
    val mUni = modelWords.select(explode(col("__ws")).as("term"))
    val ct = mTri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("__ct"))
    val c12 = mTri.groupBy("w1", "w2").agg(count(lit(1)).as("__c12"))
    val cb = mBi.groupBy("b1", "b2").agg(count(lit(1)).as("__cb"))
    val c2 = mBi.groupBy("b1").agg(count(lit(1)).as("__c2"))
    val cu = mUni.groupBy("term").agg(count(lit(1)).as("__cu"))
    val total = mUni.agg(count(lit(1)).cast("double").as("__t"))
    val a = lit(alpha)
    val scored = triOf(evalBase, Seq(col(idCol)))
      .join(ct, Seq("w1", "w2", "w3"), "left")
      .join(c12, Seq("w1", "w2"), "left")
      .join(cb, col("w2") === cb("b1") && col("w3") === cb("b2"), "left")
      .join(c2.withColumnRenamed("b1", "__c2key"),
        col("w2") === col("__c2key"), "left")
      .join(cu, col("w3") === cu("term"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(
          when(col("__ct").isNotNull, col("__ct") / col("__c12"))
            .when(col("__cb").isNotNull, a * col("__cb") / col("__c2"))
            .when(col("__cu").isNotNull, a * a * col("__cu") / col("__t"))
            .otherwise(a * a * a / col("__t")))).as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nt"), avg("__lp").as("__nll"))
    evalBase.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nt"), lit(0L)).as("n_trigrams"),
        round(coalesce(col("__nll"), lit(0.0)), 4).as("nll"))
  }
}

/**
 * Interpolated Kneser-Ney bigram language model (Kneser & Ney, ICASSP
 * 1995; the interpolated form of Chen & Goodman 1999) — the smoothing
 * rung between [[BigramLm]]'s Jelinek-Mercer mix and [[StupidBackoff]]'s
 * unnormalized count ratios, and the one whose LOWER-order model is a
 * different ESTIMATOR, not just a smaller count table: the continuation
 * probability
 *
 *   p_cont(w₂) = N₁₊(·w₂) / N₁₊(··)
 *
 * counts the distinct CONTEXTS w₂ follows (bigram types ending in w₂
 * over all bigram types), so a word frequent only inside one collocation
 * ("francisco") scores low where a raw unigram would score high — the
 * property that made KN the standard n-gram smoother. The full model,
 * with absolute discount D and context count c(w₁·) = Σ_x c(w₁x):
 *
 *   p(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
 *              + D·N₁₊(w₁·)/c(w₁·) · p_cont(w₂)      if c(w₁·) > 0
 *            = p_cont(w₂)                             if w₁ unseen
 *
 * with the OOV floor p_cont(w₂) = 0.5/N₁₊(··) when w₂ never closes a
 * model bigram (a deterministic half-count; any positive floor works —
 * the oracle replays the same literal). Scored HELD-OUT like
 * [[StupidBackoff]] (model ≠ eval corpus) so the max(c−D,0) = 0 branch
 * and both unseen paths actually fire.
 *
 * Scale shape: identical to the rest of the ladder — one model bigram
 * explode feeds ONE pair-count agg, from which the three marginal
 * tables (context counts + forward/backward type counts) are derived
 * as further hash aggs; eval bigram instances LEFT-join the model
 * tables on term keys only; N₁₊(··) is a 1-row broadcast crossJoin.
 * Text never shuffles; the model stays a DataFrame.
 */
object KneserNey {

  /** (id, n_bigrams, nll) for `docs` scored against `model`;
    * nll = round(avg −ln p_KN(w₂|w₁), 4), docs with < 2 words → 0. */
  def score(docs: DataFrame, model: DataFrame, idCol: String,
            textCol: String, discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount=$discount")
    val d = lit(discount)
    def bigramsOf(df: DataFrame, keep: Seq[Column]): DataFrame = df
      .select(keep :+ explode(when(size(col("__ws")) >= 2,
          arrays_zip(
            slice(col("__ws"), lit(1), size(col("__ws")) - 1).as("w1"),
            slice(col("__ws"), lit(2), size(col("__ws")) - 1).as("w2")))
          .otherwise(array())).as("__bg"): _*)
      .select(keep ++ Seq(col("__bg.w1").as("w1"), col("__bg.w2").as("w2")): _*)
    val evalBase = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_)) // feeds the eval explode and the doc spine
    val modelWords = model.select(TextOps.words(col(textCol)).as("__ws"))
    // ONE pair-count agg; every other model table derives from it
    val cb = bigramsOf(modelWords, Seq.empty)
      .groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
      .transform(Pin(_)) // feeds ctx, cont, and the type total
    val ctx = cb.groupBy("w1")
      .agg(sum("__cb").as("__cc"), count(lit(1)).as("__n1f"))
    val cont = cb.groupBy("w2").agg(count(lit(1)).as("__n1b"))
      .withColumnRenamed("w2", "__contKey")
    val btypes = cb.agg(count(lit(1)).cast("double").as("__bt"))
    val pCont = (coalesce(col("__n1b").cast("double"), lit(0.5)) / col("__bt"))
    val scored = bigramsOf(evalBase, Seq(col(idCol)))
      .join(cb, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, col("w2") === col("__contKey"), "left")
      .crossJoin(broadcast(btypes))
      .select(col(idCol),
        (-log(when(col("__cc").isNotNull,
            greatest(coalesce(col("__cb"), lit(0L)).cast("double") - d, lit(0.0))
              / col("__cc")
              + d * col("__n1f") / col("__cc") * pCont)
          .otherwise(pCont))).as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nb"), avg("__lp").as("__nll"))
    // spine assembly hinted shuffle_hash: `scored` is already keyed by
    // id and the crossJoin upstream poisons its size estimate toward
    // SMJ (the q103 lesson)
    evalBase.select(col(idCol))
      .join(scored.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nb"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("__nll"), lit(0.0)), 4).as("nll"))
  }
}

/**
 * Pruned 4-gram stupid-backoff language model — the KenLM-recipe rung
 * above [[StupidBackoff]]'s trigram (Heafield, WMT 2011; the CCNet /
 * training-data-quality stack's operative filter is a PRUNED high-order
 * n-gram model): raw 4-gram (and 3-gram) count tables explode
 * super-linearly with corpus size, so singleton/below-threshold
 * n-grams are DROPPED from the model (`prune4`/`prune3` minimum
 * counts — KenLM's `--prune`; unigrams and bigrams stay unpruned, as
 * KenLM requires) and scoring backs off through the pruned hole:
 *
 *   p(w₄|w₁w₂w₃) = c₄/c₁₂₃              if c₄ ≥ prune4
 *                = α · c₃/c₂₃            else if c₃ ≥ prune3 (key w₂w₃w₄)
 *                = α² · c_b/c₂           else if bigram (w₃w₄) seen
 *                = α³ · c_u/T            else if w₄ in vocab
 *                = α⁴ / T                OOV
 *
 * with every denominator the UNPRUNED instance count of the
 * (order−1)-gram CONTEXT (prefix instances of the same explode — the
 * quantity the numerator is a sub-count of). Scored HELD-OUT
 * (model ≠ eval) so pruned-hole backoff, unseen backoff, and OOV all
 * fire (the q113/q116 contract).
 *
 * Scale shape: the ladder's count-table-join form, one order higher —
 * ONE model words projection feeds the 4/3/2/1-gram explodes; each
 * count table is a hash agg keyed by ≤ 4 terms; pruning is a filter ON
 * the aggregated table (the whole point: the SHIPPED model shrinks,
 * the aggregation was map-side-combinable anyway); eval instances
 * LEFT-join the model tables on term keys only; T is a 1-row broadcast.
 * Text never shuffles. [[countProfile]] reports raw vs pruned type
 * counts per order — the count-explosion telemetry a 100 TB run sizes
 * its pruning thresholds from (BASELINE.md r5 records the sandbox
 * numbers).
 */
object PrunedQuadLm {

  /** k-gram instances of a words column as columns w1..wk. */
  private def gramsOf(df: DataFrame, k: Int, keep: Seq[Column]): DataFrame = {
    val zipped = arrays_zip((1 to k).map(i =>
      slice(col("__ws"), lit(i), size(col("__ws")) - (k - 1)).as(s"w$i")): _*)
    df.select(keep :+ explode(when(size(col("__ws")) >= k, zipped)
        .otherwise(array())).as("__g"): _*)
      .select(keep ++ (1 to k).map(i => col(s"__g.w$i").as(s"w$i")): _*)
  }

  /** (order, raw_types, kept_types) for orders 4 and 3 — the count
    * explosion + pruning yield. */
  def countProfile(model: DataFrame, textCol: String,
                   prune4: Int, prune3: Int): DataFrame = {
    val mw = model.select(TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_))
    def prof(k: Int, min: Int): DataFrame =
      gramsOf(mw, k, Seq.empty)
        .groupBy((1 to k).map(i => col(s"w$i")): _*)
        .agg(count(lit(1)).as("__c"))
        .agg(lit(k).as("order"), count(lit(1)).as("raw_types"),
          sum(when(col("__c") >= min, 1L).otherwise(0L)).as("kept_types"))
    prof(4, prune4).unionByName(prof(3, prune3))
  }

  /** (id, n_quadgrams, nll) for `docs`, scored against the pruned
    * `model`. */
  def score(docs: DataFrame, model: DataFrame, idCol: String,
            textCol: String, alpha: Double = 0.4,
            prune4: Int = 2, prune3: Int = 2): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha=$alpha")
    require(prune4 >= 1 && prune3 >= 1, "prune thresholds are minimum counts")
    val evalBase = docs
      .select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_)) // feeds the eval explode and the doc spine
    val mw = model.select(TextOps.words(col(textCol)).as("__ws"))
      .transform(Pin(_)) // feeds all four model-order explodes
    val m4 = Pin(gramsOf(mw, 4, Seq.empty)) // c4 + c123
    val m3 = Pin(gramsOf(mw, 3, Seq.empty)) // c3 + c23
    val m2 = Pin(gramsOf(mw, 2, Seq.empty)) // cb + c2
    val c4 = m4.groupBy("w1", "w2", "w3", "w4").agg(count(lit(1)).as("__c4"))
      .filter(col("__c4") >= prune4) // the PRUNED model table
    val c123 = m4.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("__c123"))
    val c3 = m3.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("__c3"))
      .filter(col("__c3") >= prune3) // pruned
      .select(col("w1").as("k1"), col("w2").as("k2"), col("w3").as("k3"),
        col("__c3"))
    val c23 = m3.groupBy("w1", "w2").agg(count(lit(1)).as("__c23"))
      .select(col("w1").as("k1"), col("w2").as("k2"), col("__c23"))
    val cb = m2.groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
      .select(col("w1").as("b1"), col("w2").as("b2"), col("__cb"))
    val c2 = m2.groupBy("w1").agg(count(lit(1)).as("__c2"))
      .select(col("w1").as("b1k"), col("__c2"))
    val mUni = mw.select(explode(col("__ws")).as("term"))
    val cu = mUni.groupBy("term").agg(count(lit(1)).as("__cu"))
    // T divides the unigram and OOV branches: an empty model corpus fails
    // here, by name, in the same job, instead of as an ANSI divide-by-zero
    val total = mUni.agg(count(lit(1)).cast("double").as("__t0"))
      .select(when(col("__t0") > 0, col("__t0"))
        .otherwise(raise_error(lit(
          "PrunedQuadLm.score: empty model corpus (model token total is 0)"))
          .cast("double")).as("__t"))
    val a = lit(alpha)
    val scored = gramsOf(evalBase, 4, Seq(col(idCol)))
      .join(c4, Seq("w1", "w2", "w3", "w4"), "left")
      .join(c123, Seq("w1", "w2", "w3"), "left")
      .join(c3, col("w2") === col("k1") && col("w3") === col("k2") &&
        col("w4") === col("k3"), "left")
      .join(c23, col("w2") === c23("k1") && col("w3") === c23("k2"), "left")
      .join(cb, col("w3") === col("b1") && col("w4") === col("b2"), "left")
      .join(c2, col("w3") === col("b1k"), "left")
      .join(cu, col("w4") === cu("term"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        (-log(
          when(col("__c4").isNotNull, col("__c4") / col("__c123"))
            .when(col("__c3").isNotNull, a * col("__c3") / col("__c23"))
            .when(col("__cb").isNotNull, a * a * col("__cb") / col("__c2"))
            .when(col("__cu").isNotNull, a * a * a * col("__cu") / col("__t"))
            .otherwise(a * a * a * a / col("__t")))).as("__lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("__nq"), avg("__lp").as("__nll"))
    // spine assembly hinted shuffle_hash (the q103/q116 lesson: the
    // upstream 1-row crossJoin poisons the size estimate toward SMJ)
    evalBase.select(col(idCol))
      .join(scored.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__nq"), lit(0L)).as("n_quadgrams"),
        round(coalesce(col("__nll"), lit(0.0)), 4).as("nll"))
  }
}
