package graft
package queries

import org.apache.spark.sql.functions._
import graft.text.{BigramLm, Bm25, Bpe, InvertedIndex, KneserNey, StupidBackoff, TextOps, Tfidf, TrigramLm, UnigramLm}

import Shared._

/** Language-model, tokenizer and retrieval queries: TF-IDF, n-gram LMs,
  * BPE, the inverted index, BM25, collocations and phrase search. */
object LmQueries {

  /** q141 probe phrases — 2/3-word phrases over the synthetic vocab
    * (hot at at least one scale each) plus an absent one; shared
    * verbatim with the oracle generator (the q99Dict pattern). */
  private val q141Phrases = Seq(
    "order fast", "table hash", "sort query", "data slow key",
    "zzz absent phrase")

  /** Shared q86/q87 oracle prefix: word counts, char-split init, and
    * `k` UNROLLED BPE merge iterations. Each iteration recomputes the
    * weighted adjacent-pair argmax (cnt DESC, l, r tie-break — identical
    * to the Spark orderBy) and applies the merge with the same
    * fixed-`passes` leftmost-replace chain Bpe.train uses, so the symbol
    * strings evolve byte-identically in both engines. */
  private def bpeCte(k: Int, passes: Int = 6): String = {
    val iters = (1 to k).map { i =>
      val rep = (1 to passes).foldLeft("sym") { (e, _) =>
        s"replace($e, ' '||(SELECT l FROM b$i)||' '||(SELECT r FROM b$i)||' ', " +
          s"' '||(SELECT l FROM b$i)||(SELECT r FROM b$i)||' ')"
      }
      // MATERIALIZED: DuckDB inlines plain CTEs, and the w-chain
      // references each level ~18× (6 replace passes × 3 scalar
      // subqueries) — un-materialized this expands 18^k plans
      s"""p$i AS MATERIALIZED (SELECT s.arr[t.i] AS l, s.arr[t.i+1] AS r, sum(s.n) AS cnt
         |  FROM (SELECT n, string_split(trim(sym), ' ') AS arr FROM w${i - 1}) s,
         |       unnest(range(1, len(s.arr))) AS t(i)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (SELECT word, n, $rep AS sym FROM w${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH wq AS (SELECT unnest($duckWords) AS word FROM documents),
       |wc AS MATERIALIZED (SELECT word, count(*) AS n FROM wq GROUP BY word),
       |w0 AS MATERIALIZED (SELECT word, n,
       |    ' ' || array_to_string(regexp_split_to_array(word, ''), ' ')
       |      || ' </w> ' AS sym
       |  FROM wc),
       |$iters""".stripMargin
  }

  val queries: Map[String, Query] = Map(
    "q54_tfidf" -> Query((s, dir) => // smoothed TF-IDF top-5 keywords per doc
      Tfidf.topTerms(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank"),
      // q54 oracle: identical smoothed idf and ROUNDED-score tie-break
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |t AS (SELECT doc_id, unnest(words) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS c FROM documents),
         |s AS (SELECT doc_id, term, tf, df,
         |   round(tf * (ln((c + 1.0) / (df + 1.0)) + 1.0), 4) AS score
         | FROM tf JOIN dfq USING (term), n),
         |r AS (SELECT *, CAST(row_number() OVER (
         |   PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank FROM s)
         |SELECT doc_id, term, tf, df, score, rank FROM r
         |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),

    "q55_unigram_nll" -> Query((s, dir) => // corpus-unigram −avg ln p (CCNet-style)
      UnigramLm.score(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text")
        .orderBy("doc_id"),
      // q55 oracle: identical unigram model from the corpus's own counts
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |e AS (SELECT doc_id, unnest(words) AS term FROM w),
         |tot AS (SELECT count(*)::DOUBLE AS t FROM e),
         |m AS (SELECT term, count(*) AS cnt FROM e GROUP BY term),
         |s AS (SELECT e.doc_id, -ln(m.cnt / (SELECT t FROM tot)) AS lp
         |  FROM e JOIN m USING (term)),
         |agg AS (SELECT doc_id, count(*) AS nw, avg(lp) AS alp FROM s GROUP BY doc_id)
         |SELECT w.doc_id, CAST(coalesce(agg.nw, 0) AS BIGINT) AS n_words,
         |  round(coalesce(agg.alp, 0.0), 4) AS nll
         |FROM w LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    "q77_inverted_index" -> Query((s, dir) => // term → capped posting list
      InvertedIndex.build(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", cap = 10)
        .orderBy("term"),
      // q77 oracle: ordered string_agg reproduces the capped posting string
      // byte-for-byte; CAST sum→BIGINT (DuckDB sum(BIGINT) is HUGEINT)
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |e AS (SELECT doc_id, unnest(words) AS term FROM w),
         |tf AS (SELECT term, doc_id, count(*) AS tf FROM e GROUP BY term, doc_id),
         |rk AS (SELECT *, row_number() OVER (
         |   PARTITION BY term ORDER BY tf DESC, doc_id) AS rk FROM tf),
         |stats AS (SELECT term, count(*) AS df,
         |   CAST(sum(tf) AS BIGINT) AS total_tf FROM tf GROUP BY term),
         |posts AS (SELECT term, string_agg(doc_id || ':' || tf, ','
         |   ORDER BY rk) AS postings FROM rk WHERE rk <= 10 GROUP BY term)
         |SELECT term, df, total_tf, postings
         |FROM stats JOIN posts USING (term) ORDER BY term""".stripMargin),

    "q78_bigram_nll" -> Query((s, dir) => // interpolated bigram-LM surprise
      BigramLm.score(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", lambda = 0.7)
        .orderBy("doc_id"),
      // q78 oracle: identical interpolated bigram model — bigram/context/
      // unigram counts from the corpus's own words, λ=0.7, round(nll, 4)
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |b AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2
         |  FROM w, unnest(range(1, len(words))) AS t(i)),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY w1, w2),
         |cc AS (SELECT w1, count(*) AS cc FROM b GROUP BY w1),
         |e AS (SELECT unnest(words) AS term FROM w),
         |cu AS (SELECT term, count(*) AS cu FROM e GROUP BY term),
         |tot AS (SELECT count(*)::DOUBLE AS t FROM e),
         |s AS (SELECT b.doc_id,
         |    -ln(0.7*(cb.cb/cc.cc) + (1.0 - 0.7)*(cu.cu/(SELECT t FROM tot))) AS lp
         |  FROM b JOIN cb USING (w1, w2) JOIN cc USING (w1)
         |  JOIN cu ON cu.term = b.w2),
         |agg AS (SELECT doc_id, count(*) AS nb, avg(lp) AS alp
         |  FROM s GROUP BY doc_id)
         |SELECT w.doc_id, CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams,
         |  round(coalesce(agg.alp, 0.0), 4) AS nll
         |FROM w LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    "q86_bpe_merges" -> Query((s, dir) => { // learned BPE merge table
      // real subword-tokenizer training (Sennrich et al. 2016) on the
      // word-count table, never the corpus: 8 iterations of pair-count →
      // 1-row argmax → fixed-pass replace (see Bpe's merge-application
      // convention). The oracle unrolls the SAME 8 iterations in SQL —
      // identical leftmost-replace semantics in both engines.
      import s.implicits._
      val (merges, _) = Bpe.train(T(s, dir, "documents"), "text", numMerges = 8)
      merges.zipWithIndex
        .map { case ((l, r), i) => (i + 1L, l, r) }
        .toDF("rank", "mleft", "mright").orderBy("rank")
    },
      // q86/q87 oracles: 8 BPE merge iterations unrolled in SQL with the
      // identical argmax tie-break and leftmost-replace merge application
      oracle = {
        val rows = (1 to 8).map(i =>
          s"SELECT CAST($i AS BIGINT) AS rank, l AS mleft, r AS mright FROM b$i")
          .mkString("\n UNION ALL ")
        // NOTE: concatenation, not interpolation-into-stripMargin — bpeCte is
        // already margin-stripped and re-stripping would eat `||` operators
        bpeCte(8) + "\n" + s"SELECT * FROM (${rows}) ORDER BY rank"
      }),

    "q87_bpe_tokens" -> Query((s, dir) => { // token counts under the trained BPE
      // the corpus pays ONE scan + one equi-join on the trained word
      // table — per-word token counts come from the learned sym strings,
      // not a fixed heuristic.
      val d = T(s, dir, "documents")
      val (_, trained) = Bpe.train(d, "text", numMerges = 8)
      Bpe.tokenCounts(d, "doc_id", "text", trained).orderBy("doc_id")
    },
      oracle = bpeCte(8) + ",\n" +
        s"""d AS (SELECT doc_id, $duckWords AS ws FROM documents),
           |e AS (SELECT doc_id, unnest(ws) AS word FROM d),
           |t AS (SELECT word,
           |   CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS toks FROM w8)
           |SELECT e.doc_id, CAST(sum(t.toks) AS BIGINT) AS n_tokens,
           |  CAST(count(*) AS BIGINT) AS n_words
           |FROM e JOIN t USING (word) GROUP BY e.doc_id ORDER BY doc_id""".stripMargin),

    "q108_trigram_nll" -> Query((s, dir) => // JM-interpolated trigram-LM surprise
      // the top rung of the unigram→bigram→trigram LM-quality ladder
      // (text/Tfidf.scala TrigramLm) — λ₃=0.6 trigram, λ₂=0.3 bigram,
      // λ₁=0.1 unigram, all context counts from the instance tables.
      TrigramLm.score(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", l3 = 0.6, l2 = 0.3)
        .orderBy("doc_id"),
      // q108 oracle: identical JM trigram model — trigram/trigram-context/
      // bigram/bigram-context/unigram counts from the corpus's own words;
      // λ weights written as the same left-assoc double arithmetic
      // (1.0 - 0.6 - 0.3) both engines evaluate identically; round(nll, 4)
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |tg AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2, words[i+2] AS w3
         |  FROM w, unnest(range(1, len(words) - 1)) AS t(i)),
         |b AS (SELECT words[i] AS b1, words[i+1] AS b2
         |  FROM w, unnest(range(1, len(words))) AS t(i)),
         |ct AS (SELECT w1, w2, w3, count(*) AS ct FROM tg GROUP BY w1, w2, w3),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM tg GROUP BY w1, w2),
         |cb AS (SELECT b1, b2, count(*) AS cb FROM b GROUP BY b1, b2),
         |c2 AS (SELECT b1, count(*) AS c2 FROM b GROUP BY b1),
         |e AS (SELECT unnest(words) AS term FROM w),
         |cu AS (SELECT term, count(*) AS cu FROM e GROUP BY term),
         |tot AS (SELECT count(*)::DOUBLE AS t FROM e),
         |s AS (SELECT tg.doc_id,
         |    -ln(0.6*(ct.ct/c12.c12) + 0.3*(cb.cb/c2.c2)
         |        + (1.0 - 0.6 - 0.3)*(cu.cu/(SELECT t FROM tot))) AS lp
         |  FROM tg JOIN ct USING (w1, w2, w3) JOIN c12 USING (w1, w2)
         |  JOIN cb ON cb.b1 = tg.w2 AND cb.b2 = tg.w3
         |  JOIN c2 ON c2.b1 = tg.w2
         |  JOIN cu ON cu.term = tg.w3),
         |agg AS (SELECT doc_id, count(*) AS nt, avg(lp) AS alp
         |  FROM s GROUP BY doc_id)
         |SELECT w.doc_id, CAST(coalesce(agg.nt, 0) AS BIGINT) AS n_trigrams,
         |  round(coalesce(agg.alp, 0.0), 4) AS nll
         |FROM w LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    "q113_stupid_backoff" -> Query((s, dir) => { // held-out stupid-backoff trigram score
      // Brants et al. 2007 web-scale LM scoring (text/Tfidf
      // StupidBackoff): model counts from the even-id half of the
      // corpus, odd-id half scored HELD-OUT so the backoff chain
      // (trigram → α·bigram → α²·unigram → α³ OOV floor) actually
      // fires — the in-corpus variant is q108's JM interpolation.
      val docs = T(s, dir, "documents").select("doc_id", "text")
      StupidBackoff.score(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", alpha = 0.4)
        .orderBy("doc_id")
    },
      // q113 oracle: identical stupid-backoff model — counts from the
      // even-id half, odd-id half scored held-out via LEFT joins + CASE;
      // α arithmetic written left-assoc (0.4*cb/c2, (0.4*0.4)*cu/t,
      // (0.4*0.4*0.4)/t) so both engines fold the same doubles
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |tr AS (SELECT * FROM w WHERE doc_id % 2 = 0),
         |ev AS (SELECT * FROM w WHERE doc_id % 2 = 1),
         |mtg AS (SELECT words[i] AS w1, words[i+1] AS w2, words[i+2] AS w3
         |  FROM tr, unnest(range(1, len(words) - 1)) AS t(i)),
         |mb AS (SELECT words[i] AS b1, words[i+1] AS b2
         |  FROM tr, unnest(range(1, len(words))) AS t(i)),
         |mu AS (SELECT unnest(words) AS term FROM tr),
         |ct AS (SELECT w1, w2, w3, count(*) AS ct FROM mtg GROUP BY w1, w2, w3),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM mtg GROUP BY w1, w2),
         |cb AS (SELECT b1, b2, count(*) AS cb FROM mb GROUP BY b1, b2),
         |c2 AS (SELECT b1, count(*) AS c2 FROM mb GROUP BY b1),
         |cu AS (SELECT term, count(*) AS cu FROM mu GROUP BY term),
         |tot AS (SELECT count(*)::DOUBLE AS t FROM mu),
         |etg AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2, words[i+2] AS w3
         |  FROM ev, unnest(range(1, len(words) - 1)) AS t(i)),
         |s AS (SELECT etg.doc_id,
         |    -ln(CASE WHEN ct.ct IS NOT NULL THEN ct.ct/c12.c12
         |      WHEN cb.cb IS NOT NULL THEN 0.4*cb.cb/c2.c2
         |      WHEN cu.cu IS NOT NULL THEN (0.4*0.4)*cu.cu/(SELECT t FROM tot)
         |      ELSE (0.4*0.4*0.4)/(SELECT t FROM tot) END) AS lp
         |  FROM etg LEFT JOIN ct USING (w1, w2, w3)
         |  LEFT JOIN c12 USING (w1, w2)
         |  LEFT JOIN cb ON cb.b1 = etg.w2 AND cb.b2 = etg.w3
         |  LEFT JOIN c2 ON c2.b1 = etg.w2
         |  LEFT JOIN cu ON cu.term = etg.w3),
         |agg AS (SELECT doc_id, count(*) AS nt, avg(lp) AS alp
         |  FROM s GROUP BY doc_id)
         |SELECT ev.doc_id, CAST(coalesce(agg.nt, 0) AS BIGINT) AS n_trigrams,
         |  round(coalesce(agg.alp, 0.0), 4) AS nll
         |FROM ev LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    "q116_kneser_ney" -> Query((s, dir) => { // interpolated Kneser-Ney bigram LM
      // The smoothing rung between q78's Jelinek-Mercer mix and q113's
      // stupid backoff (text/Tfidf KneserNey): absolute discount D=0.75,
      // continuation probability N₁₊(·w₂)/N₁₊(··) as the lower-order
      // model. Held-out split (model = even ids, eval = odd) so the
      // discount-to-zero branch and both unseen paths fire.
      val docs = T(s, dir, "documents").select("doc_id", "text")
      KneserNey.score(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          "doc_id", "text", discount = 0.75)
        .orderBy("doc_id")
    },
      // q116 oracle: interpolated Kneser-Ney replayed term-for-term —
      // model tables from the even-id half, eval bigrams from the odd
      // half, D=0.75, continuation counts over bigram TYPES, OOV floor
      // 0.5/N1+(··); expression structure mirrors the Spark plan so the
      // 4-dp rounded NLL is IEEE-identical
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |tr AS (SELECT * FROM w WHERE doc_id % 2 = 0),
         |ev AS (SELECT * FROM w WHERE doc_id % 2 = 1),
         |mb AS (SELECT words[i] AS w1, words[i+1] AS w2
         |  FROM tr, unnest(range(1, len(words))) AS t(i)),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM mb GROUP BY w1, w2),
         |ctx AS (SELECT w1, sum(cb) AS cc, count(*) AS n1f FROM cb GROUP BY w1),
         |cont AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY w2),
         |bt AS (SELECT count(*)::DOUBLE AS bt FROM cb),
         |eb AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2
         |  FROM ev, unnest(range(1, len(words))) AS t(i)),
         |s AS (SELECT eb.doc_id,
         |    -ln(CASE WHEN ctx.cc IS NOT NULL THEN
         |        greatest(coalesce(cb.cb, 0)::DOUBLE - 0.75, 0.0) / ctx.cc
         |        + 0.75 * ctx.n1f / ctx.cc
         |          * (coalesce(CAST(cont.n1b AS DOUBLE), 0.5) / (SELECT bt FROM bt))
         |      ELSE coalesce(CAST(cont.n1b AS DOUBLE), 0.5) / (SELECT bt FROM bt)
         |      END) AS lp
         |  FROM eb LEFT JOIN cb USING (w1, w2)
         |  LEFT JOIN ctx USING (w1)
         |  LEFT JOIN cont ON cont.w2 = eb.w2),
         |agg AS (SELECT doc_id, count(*) AS nb, avg(lp) AS alp
         |  FROM s GROUP BY doc_id)
         |SELECT ev.doc_id, CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams,
         |  round(coalesce(agg.alp, 0.0), 4) AS nll
         |FROM ev LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    "q129_bm25" -> Query((s, dir) => { // BM25 ranked retrieval
      // Query-time ranking, the retrieval half q54/q77 lacked: Okapi
      // BM25 with the (k1+1) numerator over three fixed probe queries
      // (terms chosen present at every scale). One text scan builds
      // tf; dl/df derive from it; query terms broadcast-prune the
      // corpus BEFORE any shuffle; avgdl = exact integer sum ÷ count
      // (one double division — no float-accumulation parity risk);
      // ranks tie-break on the ROUNDED score then doc_id (q54 lesson).
      import s.implicits._
      val qs = Seq(
        ("bm1", "merge"), ("bm1", "join"),
        ("bm2", "window"), ("bm2", "filter"), ("bm2", "scan"),
        ("bm3", "column"), ("bm3", "value"), ("bm3", "order"))
        .toDF("query_id", "term")
      Bm25.topDocs(T(s, dir, "documents"), "doc_id", "text", qs)
        .orderBy("query_id", "rank")
    },
      // q129 oracle: the identical BM25 formula term-for-term — same
      // operator associativity, avgdl as exact sum ÷ count, rank over the
      // ROUNDED score — so both engines rank identically
      oracle = s"""WITH qt(query_id, term) AS (VALUES
         |  ('bm1','merge'),('bm1','join'),
         |  ('bm2','window'),('bm2','filter'),('bm2','scan'),
         |  ('bm3','column'),('bm3','value'),('bm3','order')),
         |w AS (SELECT doc_id, $duckWords AS words FROM documents),
         |tk AS (SELECT doc_id, unnest(words) AS term FROM w),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |sc AS (SELECT qt.query_id, tf.doc_id,
         |    round(sum(
         |      ln(1 + ((SELECT n FROM nn) - dft.df + 0.5) / (dft.df + 0.5))
         |      * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
         |      / (tf.tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
         |          + CAST(0.75 AS DOUBLE) * dl.dl / (SELECT avgdl FROM ad)))
         |    ), 6) AS score
         |  FROM tf JOIN qt USING (term) JOIN dft USING (term)
         |    JOIN dl USING (doc_id)
         |  GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY score DESC, doc_id) AS rnk
         | FROM sc)
         |SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, score
         |FROM r WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin),

    "q131_pmi" -> Query((s, dir) => { // PMI collocations
      // Pointwise mutual information over adjacent word pairs (Church &
      // Hanks CL'90) — the collocation miner: boilerplate phrases and
      // templated n-grams surface as high-PMI pairs, feeding stopphrase
      // lists for the C4-style line dedup. PMI = ln(p(xy)/(p(x)p(y)))
      // with a min-count floor (sparse pairs make PMI explode — the
      // classic caveat); top-30 ranked on the ROUNDED score (q54).
      // One words scan feeds unigrams; one ngram scan feeds pairs;
      // totals are 1-row in-plan scalars. Exact SQL oracle.
      val docs = T(s, dir, "documents")
      val uni = docs.select(explode(TextOps.words(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
        .transform(Pin(_)) // feeds totals + both sides of the pair join
      val t1 = broadcast(uni.agg(sum(col("c1")).cast("double").as("__t1")))
      val bi = docs.select(
          explode(TextOps.wordNgrams(TextOps.words(col("text")), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
        .select(split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"), col("c12"))
        .transform(Pin(_))
      val t2 = broadcast(docs.select(
          size(TextOps.wordNgrams(TextOps.words(col("text")), 2)).as("n"))
        .agg(sum(col("n")).cast("double").as("__t2")))
      bi.join(uni.select(col("w").as("w1"), col("c1").as("__ca")).hint("shuffle_hash"), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c1").as("__cb")).hint("shuffle_hash"), Seq("w2"))
        .crossJoin(t1).crossJoin(t2)
        .select(col("w1"), col("w2"), col("c12"),
          round(log((col("c12") / col("__t2")) /
            ((col("__ca") / col("__t1")) * (col("__cb") / col("__t1")))), 6)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(30)
    },
      // q131 oracle: identical unigram/bigram count tables, PMI formula
      // with the same operator associativity, ranked on the ROUNDED score
      oracle = s"""WITH w AS (SELECT $duckWords AS words FROM documents),
         |u AS (SELECT unnest(words) AS w FROM w),
         |uni AS (SELECT w, count(*) AS c1 FROM u GROUP BY w),
         |t1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS t FROM uni),
         |g AS (SELECT array_to_string(words[i:i+1], ' ') AS g
         |  FROM w, unnest(range(1, len(words))) AS t(i)),
         |bi AS (SELECT g, count(*) AS c12 FROM g GROUP BY g
         |  HAVING count(*) >= 5),
         |t2 AS (SELECT CAST(sum(CASE WHEN len(words) >= 2
         |    THEN len(words) - 1 ELSE 0 END) AS DOUBLE) AS t FROM w),
         |p AS (SELECT string_split(g, ' ')[1] AS w1,
         |    string_split(g, ' ')[2] AS w2, c12 FROM bi),
         |s AS (SELECT w1, w2, c12,
         |    round(ln((c12 / (SELECT t FROM t2))
         |      / ((ca.c1 / (SELECT t FROM t1))
         |        * (cb.c1 / (SELECT t FROM t1)))), 6) AS pmi
         |  FROM p JOIN uni ca ON ca.w = p.w1 JOIN uni cb ON cb.w = p.w2)
         |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, pmi FROM s
         |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin),

    "q140_keyness" -> Query((s, dir) => { // G2 log-likelihood keyness
      // Dunning's log-likelihood ratio (CL'93) between the word
      // distributions of two crawl cohorts (doc_id parity = old/new
      // snapshot, the q136 pairing): which words DISTINGUISH the new
      // dump — the standard corpus-comparison keyness test (spam-burst
      // and topic-shift tripwire next to q136's length-shape KS).
      // G2 = 2*(a*ln(a/Ea) + b*ln(b/Eb)) per word from the exact int
      // contingency counts; the whole formula is one fixed op sequence
      // from (a, b, NA, NB) — IEEE-identical both engines, libm ln
      // ulps absorbed by the 6 dp round (q76). Zero cells contribute
      // 0 (the lim x·ln x convention). One words scan, one hash agg;
      // totals are 1-row in-plan scalars. Top-30 on the ROUNDED score
      // (q54), min-count floor 10 (the q131 sparse-cell caveat).
      val x = T(s, dir, "documents")
        .select((pmod(col("doc_id"), lit(2)) === 0).as("isa"),
          explode(TextOps.words(col("text"))).as("w"))
      val counts = x.groupBy("w").agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("b"))
        .transform(Pin(_)) // feeds totals + the scored rows
      val tot = broadcast(counts.agg(
        sum(col("a")).as("na"), sum(col("b")).as("nb")))
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      counts.filter(col("a") + col("b") >= 10)
        .crossJoin(tot)
        .select(col("w").as("word"), col("a"), col("b"),
          round(lit(2.0) * (
            when(col("a") === 0, lit(0.0)).otherwise(
              d(col("a")) * log(d(col("a")) /
                (d(col("na")) * d(col("a") + col("b")) /
                  d(col("na") + col("nb"))))) +
            when(col("b") === 0, lit(0.0)).otherwise(
              d(col("b")) * log(d(col("b")) /
                (d(col("nb")) * d(col("a") + col("b")) /
                  d(col("na") + col("nb")))))), 6).as("g2"),
          (d(col("a")) / d(col("na")) > d(col("b")) / d(col("nb")))
            .as("enriched_in_a"))
        .orderBy(col("g2").desc, col("word"))
        .limit(30)
    },
      // q140 oracle: identical contingency counts and the identical
      // fixed-order G2 expression; sums CAST to BIGINT (q49 rule)
      oracle = s"""WITH x AS (SELECT (doc_id % 2 = 0) AS isa, unnest($duckWords) AS w
         |  FROM documents),
         |c AS (SELECT w,
         |   CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |   CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS b
         |  FROM x GROUP BY w),
         |t AS (SELECT CAST(sum(a) AS BIGINT) AS na,
         |   CAST(sum(b) AS BIGINT) AS nb FROM c)
         |SELECT c.w AS word, c.a, c.b,
         |  round(2.0 * (
         |    (CASE WHEN c.a = 0 THEN 0.0 ELSE
         |      CAST(c.a AS DOUBLE) * ln(CAST(c.a AS DOUBLE) /
         |        (CAST(t.na AS DOUBLE) * CAST(c.a + c.b AS DOUBLE) /
         |          CAST(t.na + t.nb AS DOUBLE))) END) +
         |    (CASE WHEN c.b = 0 THEN 0.0 ELSE
         |      CAST(c.b AS DOUBLE) * ln(CAST(c.b AS DOUBLE) /
         |        (CAST(t.nb AS DOUBLE) * CAST(c.a + c.b AS DOUBLE) /
         |          CAST(t.na + t.nb AS DOUBLE))) END)), 6) AS g2,
         |  CAST(c.a AS DOUBLE) / CAST(t.na AS DOUBLE)
         |    > CAST(c.b AS DOUBLE) / CAST(t.nb AS DOUBLE) AS enriched_in_a
         |FROM c, t WHERE c.a + c.b >= 10
         |ORDER BY g2 DESC, word LIMIT 30""".stripMargin),

    "q141_phrase_search" -> Query((s, dir) => { // positional phrase queries
      // Exact phrase retrieval over a POSITIONAL token index — the
      // phrase half of the retrieval stack (q77 postings + q129 BM25
      // rank docs; phrases need positions). The classic one-join
      // evaluation: every (phrase, term, offset) probe row matches
      // token (doc, pos) to a candidate START = pos − offset, and a
      // start with ALL plen offsets matched is an occurrence — ONE
      // broadcast probe join + ONE hash agg, no per-term self-join
      // chain (at 10^10 tokens each extra phrase term would be another
      // O(postings) join; this stays a single pass regardless of
      // phrase length). Zero-hit probes stay in the output via the
      // probe-spine left join. All-integer — no float parity.
      import s.implicits._
      val probes = q141Phrases.flatMap { p =>
        val ts = p.split(" ")
        ts.zipWithIndex.map { case (t, i) =>
          (p, t, i.toLong, ts.length.toLong)
        }
      }.toDF("phrase", "term", "off", "plen")
      val toks = T(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextOps.words(col("text"))))
      val hits = toks
        .join(broadcast(probes), col("col") === col("term"))
        .groupBy(col("phrase"), col("plen"), col("doc_id"),
          (col("pos") - col("off")).as("start"))
        .agg(count(lit(1)).as("m"))
        .filter(col("m") === col("plen"))
      val agg = hits.groupBy("phrase").agg(count(lit(1)).as("n_hits"),
        count_distinct(col("doc_id")).as("n_docs"))
      probes.select("phrase").distinct()
        .join(agg.hint("shuffle_hash"), Seq("phrase"), "left")
        .select(col("phrase"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("phrase")
    },
      // q141 oracle: identical start-alignment evaluation — probes
      // interpolated from the SAME q141Phrases list; 1-based DuckDB
      // positions cancel in pos − off within the engine
      oracle = {
        val probeRows = q141Phrases.flatMap { p =>
          val ts = p.split(" ")
          ts.zipWithIndex.map { case (t, i) =>
            s"('${p}', '${t}', ${i}, ${ts.length})"
          }
        }.mkString(", ")
        s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
           |toks AS (SELECT doc_id, i AS pos, ws[i] AS w
           |  FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
           |probes(phrase, term, off, plen) AS (VALUES $probeRows),
           |m AS (SELECT phrase, plen, doc_id, pos - off AS start,
           |   count(*) AS c
           |  FROM toks JOIN probes ON toks.w = probes.term
           |  GROUP BY 1, 2, 3, 4 HAVING count(*) = plen),
           |a AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_hits,
           |   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           |  FROM m GROUP BY phrase)
           |SELECT p.phrase, coalesce(a.n_hits, 0) AS n_hits,
           |  coalesce(a.n_docs, 0) AS n_docs
           |FROM (SELECT DISTINCT phrase FROM probes) p
           |  LEFT JOIN a USING (phrase)
           |ORDER BY phrase""".stripMargin
      }),

    "q154_gram_novelty" -> Query((s, dir) => { // first-seen n-gram novelty
      // Per-doc novelty = fraction of its distinct word-3-grams whose
      // FIRST occurrence (min doc_id, the crawl-arrival proxy) is this
      // doc — the curation signal that separates template rehash from
      // new content (dataset-curation dedup literature's "novel token
      // fraction"). One exploded-distinct gram scan, one min-agg, one
      // equi-join back, one count agg; novelty is a single division
      // from exact ints (IEEE-identical).
      val g = T(s, dir, "documents").select(col("doc_id"),
          explode(array_distinct(TextOps.wordNgrams(
            TextOps.words(col("text")), 3))).as("g"))
        .transform(Pin(_)) // feeds first-seen agg + the join back
      val first = g.groupBy("g").agg(min(col("doc_id")).as("__first"))
      g.join(first.hint("shuffle_hash"), Seq("g"))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams").cast("double"),
            6).as("novelty"))
        .orderBy("doc_id")
    },
      // q154 oracle: identical first-seen min-agg + join-back counting
      oracle = s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
         |  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS novelty
         |FROM g JOIN f USING (g)
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    "q156_vocab_growth" -> Query((s, dir) => { // Heaps / hapax corpus profile
      // Per-source vocabulary diagnostics: token count N, vocabulary
      // V, hapax legomena (words seen once — the OCR-garbage and
      // boilerplate-template tell: garbage inflates hapax, templating
      // collapses it), hapax/V, and the Heaps'-law exponent estimate
      // beta = ln V / ln N (V ~ N^beta; natural text ~0.5-0.7). All
      // inputs are exact ints; each output is one fixed-order formula
      // (q105), rounded 6 dp.
      val toks = T(s, dir, "documents").select(col("source"),
        explode(TextOps.words(col("text"))).as("w"))
      val wc = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
      wc.groupBy("source").agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
          round(col("hapax").cast("double") / col("vocab").cast("double"),
            6).as("hapax_ratio"),
          round(log(col("vocab").cast("double")) /
            log(col("n_tokens").cast("double")), 6).as("heaps_beta"))
        .orderBy("source")
    },
      // q156 oracle: identical per-source word counts + fixed-order
      // formulas from exact ints
      oracle = s"""WITH toks AS (SELECT source, unnest($duckWords) AS w FROM documents),
         |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |  FROM toks GROUP BY source, w)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS vocab,
         |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio,
         |  round(ln(CAST(count(*) AS DOUBLE))
         |    / ln(CAST(sum(c) AS DOUBLE)), 6) AS heaps_beta
         |FROM wc GROUP BY source ORDER BY source""".stripMargin),

    "q158_pruned_quadlm" -> Query((s, dir) => { // pruned 4-gram LM (KenLM recipe)
      // The rung above q113's trigram backoff (text/PrunedQuadLm,
      // Heafield WMT'11): 4-gram + 3-gram model tables COUNT-PRUNED at
      // min-count 2 (the KenLM --prune recipe — the raw tables are the
      // part that explodes super-linearly with corpus size; CCNet's
      // operative filter is exactly such a pruned high-order model),
      // stupid-backoff α=0.4 through the pruned holes down to unigram
      // + OOV. Held-out (model = even ids, eval = odd) so pruned-hole
      // backoff, unseen backoff, and OOV all fire. In-query gate:
      // pruning must BITE at both pruned orders (kept < raw type
      // counts — the count-explosion telemetry, recorded in
      // BASELINE.md r5).
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val model = docs.filter(col("doc_id") % 2 === 0)
      val evalDocs = docs.filter(col("doc_id") % 2 === 1)
      val prof = text.PrunedQuadLm.countProfile(model, "text", 2, 2)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      System.err.println(s"[q158] n-gram (order, raw_types, kept_types): " +
        prof.mkString(", "))
      prof.foreach { case (k, raw, kept) =>
        require(kept < raw, s"pruning did not bite at order $k: $kept of $raw") }
      text.PrunedQuadLm.score(evalDocs, model, "doc_id", "text",
          alpha = 0.4, prune4 = 2, prune3 = 2)
        .orderBy("doc_id")
    },
      // q158 oracle: the q113 backoff ladder one order higher, with the
      // pruned tables as HAVING count >= 2 — identical branch constants
      // (left-assoc α powers), identical context denominators
      oracle = s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |tr AS (SELECT * FROM w WHERE doc_id % 2 = 0),
         |ev AS (SELECT * FROM w WHERE doc_id % 2 = 1),
         |m4 AS (SELECT words[i] AS w1, words[i+1] AS w2, words[i+2] AS w3,
         |    words[i+3] AS w4
         |  FROM tr, unnest(range(1, len(words) - 2)) AS t(i)),
         |m3 AS (SELECT words[i] AS w1, words[i+1] AS w2, words[i+2] AS w3
         |  FROM tr, unnest(range(1, len(words) - 1)) AS t(i)),
         |m2 AS (SELECT words[i] AS w1, words[i+1] AS w2
         |  FROM tr, unnest(range(1, len(words))) AS t(i)),
         |mu AS (SELECT unnest(words) AS term FROM tr),
         |c4 AS (SELECT w1, w2, w3, w4, count(*) AS c4 FROM m4
         |  GROUP BY w1, w2, w3, w4 HAVING count(*) >= 2),
         |c123 AS (SELECT w1, w2, w3, count(*) AS c123 FROM m4 GROUP BY w1, w2, w3),
         |c3 AS (SELECT w1 AS k1, w2 AS k2, w3 AS k3, count(*) AS c3 FROM m3
         |  GROUP BY w1, w2, w3 HAVING count(*) >= 2),
         |c23 AS (SELECT w1 AS k1, w2 AS k2, count(*) AS c23 FROM m3 GROUP BY w1, w2),
         |cb AS (SELECT w1 AS b1, w2 AS b2, count(*) AS cb FROM m2 GROUP BY w1, w2),
         |c2 AS (SELECT w1 AS b1k, count(*) AS c2 FROM m2 GROUP BY w1),
         |cu AS (SELECT term, count(*) AS cu FROM mu GROUP BY term),
         |tot AS (SELECT count(*)::DOUBLE AS t FROM mu),
         |e4 AS (SELECT doc_id, words[i] AS w1, words[i+1] AS w2,
         |    words[i+2] AS w3, words[i+3] AS w4
         |  FROM ev, unnest(range(1, len(words) - 2)) AS t(i)),
         |s AS (SELECT e4.doc_id,
         |    -ln(CASE WHEN c4.c4 IS NOT NULL THEN c4.c4/c123.c123
         |      WHEN c3.c3 IS NOT NULL THEN 0.4*c3.c3/c23.c23
         |      WHEN cb.cb IS NOT NULL THEN (0.4*0.4)*cb.cb/c2.c2
         |      WHEN cu.cu IS NOT NULL THEN (0.4*0.4*0.4)*cu.cu/(SELECT t FROM tot)
         |      ELSE (0.4*0.4*0.4*0.4)/(SELECT t FROM tot) END) AS lp
         |  FROM e4 LEFT JOIN c4 USING (w1, w2, w3, w4)
         |  LEFT JOIN c123 USING (w1, w2, w3)
         |  LEFT JOIN c3 ON c3.k1 = e4.w2 AND c3.k2 = e4.w3 AND c3.k3 = e4.w4
         |  LEFT JOIN c23 ON c23.k1 = e4.w2 AND c23.k2 = e4.w3
         |  LEFT JOIN cb ON cb.b1 = e4.w3 AND cb.b2 = e4.w4
         |  LEFT JOIN c2 ON c2.b1k = e4.w3
         |  LEFT JOIN cu ON cu.term = e4.w4),
         |agg AS (SELECT doc_id, count(*) AS nt, avg(lp) AS alp
         |  FROM s GROUP BY doc_id)
         |SELECT ev.doc_id, CAST(coalesce(agg.nt, 0) AS BIGINT) AS n_quadgrams,
         |  round(coalesce(agg.alp, 0.0), 4) AS nll
         |FROM ev LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin)
  )
}
