package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.text.{ExactSubstr, TextOps, TextPipeline}
import graft.dedup.{DupClusters, NearDup}

import Shared._

/** Dedup queries: exact fingerprints, MinHash/SimHash/winnowing near-dup
  * pairs, dup clusters, exact substrings, content-defined chunks and
  * similarity joins. */
object DedupQueries {

  /** q107's planted cross-doc license block (48 chars), shared verbatim
    * with the DuckDB oracle. */
  private val q107Shared =
    "EXACT-SUBSTR/SHARED-LICENSE-BLOCK v1.0 #ABCDEF#0"

  /** The q48/q56/q66 3-copy corpus — the first 1000 docs plus copies at
    * +1M and +2M doc ids — and its near-dup pairs at q25's LSH params.
    * [[q48Cte]] is its DuckDB mirror. */
  private def threeCopyPairs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = T(s, dir, "documents").select("doc_id", "text")
      .orderBy("doc_id").limit(1000)
      .repartition(col("doc_id"))
    val withCopies = docs
      .unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(docs.withColumn("doc_id", col("doc_id") + 2000000L))
    (withCopies, NearDup.nearDupPairs(withCopies, "doc_id", "text",
      threshold = 0.8, numPerms = 64, bands = 16, k = 5))
  }

  /** Shared q48/q56 oracle prefix: the 3-copy corpus, its all-pairs
    * exact-jaccard edge set, and min-label reachability (`r`). */
  private def q48Cte: String =
    s"""WITH RECURSIVE
       |d0 AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 1000),
       |d AS (SELECT doc_id, text FROM d0
       |  UNION ALL SELECT doc_id + 1000000, text FROM d0
       |  UNION ALL SELECT doc_id + 2000000, text FROM d0),
       |w AS (SELECT doc_id, $duckWords AS words FROM d),
       |sh AS (SELECT doc_id, ${duckShingles(5)} AS s FROM w),
       |p AS (SELECT a.doc_id AS u, b.doc_id AS v FROM sh a JOIN sh b
       |  ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0
       |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
       |e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
       |r(id, lbl) AS (
       |  SELECT DISTINCT u, u FROM e
       |  UNION
       |  SELECT e.u, r.lbl FROM e JOIN r ON r.id = e.v)""".stripMargin

  val queries: Map[String, Query] = Map(
    "q22_fingerprint_dups" -> Query((s, dir) =>
      T(s, dir, "documents")
        .groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(count("*").as("cnt")).filter(col("cnt") > 1)
        .orderBy("fp"),
      oracle = """SELECT fp, count(*) AS cnt FROM (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents)
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin),

    "q23_dedup_survivors" -> Query((s, dir) => // exact dedup: one survivor per fingerprint
      T(s, dir, "documents")
        .groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(min("doc_id").as("survivor"))
        .agg(count("*").as("n")),
      oracle = """SELECT count(*) AS n FROM (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp, min(doc_id) AS survivor
        |  FROM documents GROUP BY 1)""".stripMargin),

    "q25_minhash_neardup" -> Query((s, dir) => { // MinHash+LSH → verified Jaccard pairs
      // capped: the synthetic docs' ~30-word vocab makes unrelated docs
      // share shingles far more than real webtext, inflating candidate
      // pairs quadratically at larger sf
      // repartition after the limit: a global limit collapses to one
      // partition and would serialize all downstream minhash compute
      val docs = T(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").limit(1500)
        .repartition(col("doc_id"))
      val withCopies = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000L))
      // k=5 word shingles: the synthetic ~30-word vocab makes 3-shingles
      // genuinely shared across unrelated docs; 5-shingles restore the
      // near-disjointness real webtext has.
      // 64 perms / 16 bands / 4 rows-per-band: P(candidate miss |
      // jaccard 0.875, the corpus minimum over threshold) ≈ 7e-7 — the
      // LSH recall gap is below the oracle's resolution, so the
      // all-pairs DuckDB oracle is an exact equality check — while the
      // 4-row bands keep the background candidate rate ~12% (2-row
      // bands admitted ~78% of unrelated pairs on this corpus and the
      // exact-verify join dominated the query).
      NearDup.nearDupPairs(withCopies, "doc_id", "text", threshold = 0.8,
          numPerms = 64, bands = 16, k = 5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("idA", "idB")
    },
      oracle = s"""WITH d0 AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 1500),
         |d AS (SELECT doc_id, text FROM d0 UNION ALL SELECT doc_id + 1000000, text FROM d0),
         |w AS (SELECT doc_id, $duckWords AS words FROM d),
         |sh AS (SELECT doc_id, ${duckShingles(5)} AS s FROM w),
         |p AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
         |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT idA, idB, round(j, 4) AS jaccard FROM p WHERE j >= 0.8
         |ORDER BY idA, idB""".stripMargin),

    "q26_simhash_pairs" -> Query((s, dir) => { // SimHash near-dup candidates
      val docs = T(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").limit(200)
        .repartition(col("doc_id")) // limit collapses to one partition
      val withCopies = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000L))
      // md5-based token hash: portable, so the DuckDB oracle recomputes
      // the full simhash pipeline independently (chunk recall for
      // hamming<=3 is exact by pigeonhole, so this is a hard equality)
      NearDup.simhashPairs(withCopies, "doc_id", "text", maxHamming = 3,
          tokenHash = NearDup.md5TokenHash)
        .select(col("idA"), col("idB"), col("hamming").cast("long").as("hamming"))
        .orderBy("idA", "idB")
    },
      // q26 oracle: the full simhash pipeline recomputed in SQL — md5-60bit
      // token hash, per-bit ±1 sums, sign-packed 60-bit key, all-pairs
      // hamming ≤ 3 (exactly the chunk join's guaranteed recall).
      oracle = {
        val sums = (0 until 60).map(i =>
          s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i").mkString(", ")
        val pack = (0 until 60).map(i =>
          s"(CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")
        s"""WITH d0 AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 200),
           |d AS (SELECT doc_id, text FROM d0 UNION ALL SELECT doc_id + 1000000, text FROM d0),
           |tok AS (SELECT doc_id, ${md5Bits("w", 15)} AS h
           |  FROM d, unnest($duckWords) AS t(w)),
           |bits AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
           |sh AS (SELECT doc_id, CAST($pack AS BIGINT) AS sh FROM bits)
           |SELECT a.doc_id AS idA, b.doc_id AS idB,
           |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
           |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.sh, b.sh)) <= 3 ORDER BY idA, idB""".stripMargin
      }),

    "q27_jaccard_consecutive" -> Query((s, dir) => { // n-gram Jaccard as a scalar op
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val a = docs.select(col("doc_id"), col("text").as("textA"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"), col("text").as("textB"))
      a.join(b, Seq("doc_id"))
        .select(col("doc_id"), round(NearDup.jaccard(col("textA"), col("textB")), 4).as("jac"))
        .orderBy("doc_id")
    },
      oracle = s"""WITH w AS (SELECT doc_id, $duckWords AS words FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles(3)} AS s FROM w)
         |SELECT a.doc_id AS doc_id,
         |  round(len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))), 4) AS jac
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         |ORDER BY doc_id""".stripMargin),

    "q43_winnow_pairs" -> Query((s, dir) => { // rolling k-gram winnowing fingerprints
      // Schleimer et al. 2003 winnowing: k=8 char grams, window w=4,
      // near-dup = fingerprint containment >= 0.5 of the smaller side.
      // maxDocFreq=20 exercises the boilerplate skew cap — on this
      // tiny-vocab synthetic corpus vocabulary-induced gram collisions
      // otherwise make the candidate join quadratic (30M pair rows at
      // sf0.1), the exact failure mode the cap exists for at 100 TB.
      // The DuckDB oracle recomputes the identical md5-60bit gram hashes,
      // window minima, df cap, and containment join — a hard equality check.
      NearDup.winnowPairs(T(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", k = 8, w = 4, minFrac = 0.5, maxDocFreq = 20L)
        .orderBy("idA", "idB")
    },
      oracle = """WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS nrm
        |           FROM documents),
        |g AS (SELECT doc_id,
        |    CASE WHEN len(nrm) < 8 THEN [CAST('0x'||substring(md5(nrm),1,15) AS BIGINT)]
        |    ELSE list_transform(range(1, len(nrm) - 6), p ->
        |      CAST('0x'||substring(md5(substring(nrm, p, 8)),1,15) AS BIGINT)) END AS hs
        |  FROM d),
        |f AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(hs) < 4 THEN [list_aggregate(hs, 'min')]
        |    ELSE list_transform(range(1, len(hs) - 2), i ->
        |      list_aggregate(hs[i:i+3], 'min')) END) AS fps
        |  FROM g),
        |e0 AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |keep AS (SELECT fp FROM e0 GROUP BY fp HAVING count(*) <= 20),
        |e1 AS (SELECT doc_id, fp FROM e0 JOIN keep USING (fp)),
        |nf AS (SELECT doc_id, count(*) AS nfp FROM e1 GROUP BY doc_id),
        |e AS (SELECT e1.doc_id, nf.nfp, e1.fp FROM e1 JOIN nf USING (doc_id)),
        |p AS (SELECT a.doc_id AS idA, b.doc_id AS idB,
        |    CAST(count(*) AS BIGINT) AS shared,
        |    count(*)::DOUBLE / least(any_value(a.nfp), any_value(b.nfp)) AS frac
        |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT idA, idB, shared, round(frac, 4) AS frac FROM p
        |WHERE frac >= 0.5 ORDER BY idA, idB""".stripMargin),

    "q42_incremental_dedup" -> Query((s, dir) => { // batch-vs-store near-dup dedup
      // batch 1 = the natural docs; batch 2 = planted near-copies (+2M,
      // cross-batch dups of batch 1) and word-reversed docs (+3M, novel
      // shingle sets → batch-2 survivors). The oracle applies the ONE-SHOT
      // full-corpus drop rule ("∃ earlier doc with J ≥ 0.8") in SQL, so a
      // green row proves incremental-against-store ≡ full-corpus dedup.
      val d0 = T(s, dir, "documents").select("doc_id", "text")
        .orderBy("doc_id").limit(1200)
        .repartition(col("doc_id")) // limit collapses to one partition
      val nw = size(TextOps.words(col("text")))
      val b2 = d0.filter(pmod(col("doc_id"), lit(3)) === 0 && nw >= 40)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" graftnearcopy")).as("text"))
        .unionByName(d0.filter(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat_ws(" ", reverse(split(trim(col("text")), "\\s+"))).as("text")))
      // slim store (signatures only); verify sets rehydrate from the
      // ingested corpus (batch 1 = d0) by candidate id
      val empty = TextPipeline.signatureShingles(d0.limit(0), "doc_id", "text")
        .drop("__shSet")
      val (s1, sig1) = TextPipeline.incrementalDedup(empty, d0.limit(0), d0,
        "doc_id", "text")
      val (s2, sig2) = TextPipeline.incrementalDedup(sig1, d0, b2,
        "doc_id", "text")
      s1.agg(count("*").as("n_batch1_survivors"))
        .crossJoin(s2.agg(count("*").as("n_batch2_survivors")))
        .crossJoin(sig1.unionByName(sig2).agg(count("*").as("n_processed")))
    },
      // q42 oracle: one-shot full-corpus near-dup dedup in SQL (drop any doc
      // with an earlier doc at J ≥ 0.8 — dropped earlier docs still count,
      // matching the append-all-signatures store contract). A green row
      // proves the Spark side's two-batch incremental path is EXACTLY the
      // one-shot semantics.
      oracle = s"""WITH d0 AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 1200),
         |d0w AS (SELECT doc_id, text, $wordsSql AS words FROM d0),
         |d AS (
         |  SELECT doc_id, text FROM d0
         |  UNION ALL SELECT doc_id + 2000000, text || ' graftnearcopy' FROM d0w
         |    WHERE doc_id % 3 = 0 AND len(words) >= 40
         |  UNION ALL SELECT doc_id + 3000000,
         |      array_to_string(list_reverse(regexp_split_to_array(trim(text), '\\s+')), ' ')
         |    FROM d0 WHERE doc_id % 13 = 0),
         |sh AS (SELECT doc_id, ${duckShingles(5)} AS s
         |  FROM (SELECT doc_id, $wordsSql AS words FROM d)),
         |vp AS (SELECT * FROM (
         |  SELECT a.doc_id AS ia, b.doc_id AS ib,
         |    len(list_intersect(a.s, b.s)) * 1.0 / len(list_distinct(list_concat(a.s, b.s))) AS j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.8),
         |s AS (SELECT doc_id FROM d WHERE doc_id NOT IN (SELECT ib FROM vp))
         |SELECT
         | (SELECT count(*) FROM s WHERE doc_id < 2000000) AS n_batch1_survivors,
         | (SELECT count(*) FROM s WHERE doc_id >= 2000000) AS n_batch2_survivors,
         | (SELECT count(*) FROM d) AS n_processed""".stripMargin),

    "q48_dup_clusters" -> Query((s, dir) => { // transitive dup clusters (CC over pairs)
      // THREE copies of each doc → every base doc seeds a 3-clique
      // {i, i+1M, i+2M}; natural jaccard-≥0.8 pairs then merge cliques,
      // so components are only reachable transitively (i+2M ~ j+1M holds
      // only through the graph). Same LSH params as q25 — recall gap
      // below the all-pairs oracle's resolution (see q25's analysis).
      val (_, edges) = threeCopyPairs(s, dir)
      DupClusters.components(edges)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
      // q48 oracle: identical 3-copy corpus and all-pairs exact-jaccard
      // edge set (the q25 recall argument), then min-label reachability via
      // a recursive CTE — UNION dedup bounds the recursion at the closure
      oracle = s"""$q48Cte
         |SELECT id AS doc_id, min(lbl) AS component
         |FROM r GROUP BY id ORDER BY doc_id""".stripMargin),

    "q56_cluster_best" -> Query((s, dir) => { // keep-the-BEST-copy cluster dedup
      // q48's cluster construction, but survivors are chosen by argmax
      // token count (ties → min id) instead of min id — the production
      // rule that keeps the longest/highest-quality duplicate
      val (withCopies, edges) = threeCopyPairs(s, dir)
      DupClusters.survivorsBy(withCopies, "doc_id", edges,
          TextOps.tokenCountWs(col("text")))
        .select(col("doc_id"),
          TextOps.tokenCountWs(col("text")).cast("long").as("n_tok"))
        .orderBy("doc_id")
    },
      // q56 oracle: q48's components + keep-the-longest argmax per cluster
      oracle = s"""$q48Cte,
         |comp AS (SELECT id, min(lbl) AS component FROM r GROUP BY id),
         |tok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
         |  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS t FROM d),
         |ranked AS (SELECT comp.id, row_number() OVER (
         |    PARTITION BY component ORDER BY tok.t DESC, comp.id ASC) AS rn
         |  FROM comp JOIN tok ON tok.doc_id = comp.id),
         |drops AS (SELECT id FROM ranked WHERE rn > 1)
         |SELECT d.doc_id, CAST(tok.t AS BIGINT) AS n_tok
         |FROM d JOIN tok USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT id FROM drops) ORDER BY doc_id""".stripMargin),

    "q66_leakfree_split" -> Query((s, dir) => { // cluster-aware train/val/test
      // the q48 3-copy corpus: every base doc seeds a {i, i+1M, i+2M}
      // clique, so a per-doc hash split WOULD scatter copies across
      // splits; splitting by the component representative provably
      // cannot. Same LSH params as q48 — identical edge set.
      val (withCopies, edges) = threeCopyPairs(s, dir)
      DupClusters.leakageFreeSplit(withCopies.select("doc_id"), "doc_id",
          edges, trainFrac = 0.8, valFrac = 0.1)
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    },
      // q66 oracle: q48's components + the identical md5-frac split on the
      // cluster representative (docs outside any cluster key on their own id)
      oracle = s"""$q48Cte,
         |comp AS (SELECT id, min(lbl) AS component FROM r GROUP BY id),
         |k AS (SELECT d.doc_id,
         |    coalesce(comp.component, d.doc_id) AS split_key
         |  FROM d LEFT JOIN comp ON comp.id = d.doc_id),
         |f AS (SELECT doc_id, split_key,
         |    CAST('0x' || substring(md5(CAST(split_key AS VARCHAR)), 1, 4)
         |      AS BIGINT) / 65536.0 AS frac FROM k)
         |SELECT doc_id, split_key,
         |  CASE WHEN frac < 0.8 THEN 'train'
         |       WHEN frac < 0.9 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM f ORDER BY doc_id""".stripMargin),

    "q92_source_overlap" -> Query((s, dir) => // cross-source 3-gram Jaccard matrix
      // the mixture-design diagnostic: how much of each source pair's
      // distinct n-gram mass is shared — matrix is #sources² (sources
      // are dumps, not docs), pair join is a gram-key equi-join
      TextOps.sourceOverlapMatrix(
          T(s, dir, "documents").select("source", "text"), "source", "text", n = 3)
        .orderBy("src_a", "src_b"),
      // q92 oracle: same distinct 3-gram sets (words[i:i+2] inclusive
      // slice ≡ wordNgrams' <n-word empty guard via the empty range)
      oracle = s"""WITH $sourceGramCtes
         |SELECT sa AS src_a, sb AS src_b, CAST(shared AS BIGINT) AS shared,
         |  round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) AS jaccard
         |FROM sh JOIN c ca ON ca.source = sh.sa JOIN c cb ON cb.source = sh.sb
         |ORDER BY src_a, src_b""".stripMargin),

    "q104_site_clusters" -> Query((s, dir) => { // mirror-site cluster discovery
      // syndication/mirror detection at the SOURCE level: connected
      // components over the q92 cross-source 3-gram overlap graph
      // (edges = pairs with ROUNDED jaccard ≥ τ — the rounded-gate
      // lesson; the ratio itself is exact integer division so both
      // engines agree bit-for-bit). CC is the same alternating
      // large-star/small-star loop as q48; singleton hosts keep their
      // own id. Oracle = q92's SQL matrix + a recursive-CTE CC.
      val m = TextOps.sourceOverlapMatrix(
        T(s, dir, "documents").select("source", "text"), "source", "text", n = 3)
      val edges = m.filter(col("jaccard") >= 0.04)
        .select(expr("CAST(substring(src_a, 4) AS LONG)").as("idA"),
          expr("CAST(substring(src_b, 4) AS LONG)").as("idB"))
      val comp = DupClusters.components(edges)
      val hosts = T(s, dir, "documents").select("source").distinct()
        .withColumn("id", expr("CAST(substring(source, 4) AS LONG)"))
      hosts.join(comp.hint("shuffle_hash"), Seq("id"), "left")
        .select(col("source"),
          coalesce(col("component"), col("id")).as("component"))
        .groupBy("component")
        .agg(count(lit(1)).as("n_hosts"),
          array_join(array_sort(collect_list(col("source"))), "|").as("hosts"))
        .orderBy("component")
    },
      // q104 oracle: the q92 overlap matrix in SQL, thresholded on the
      // ROUNDED jaccard, then a recursive-CTE connected components with
      // min-id labels; singleton hosts label themselves
      oracle = s"""WITH RECURSIVE
         |$sourceGramCtes,
         |p AS (SELECT CAST(substring(sa, 4) AS BIGINT) AS u,
         |    CAST(substring(sb, 4) AS BIGINT) AS v
         |  FROM sh JOIN c ca ON ca.source = sh.sa JOIN c cb ON cb.source = sh.sb
         |  WHERE round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) >= 0.04),
         |e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
         |r(id, lbl) AS (
         |  SELECT DISTINCT u, u FROM e
         |  UNION
         |  SELECT e.u, r.lbl FROM e JOIN r ON r.id = e.v),
         |comp AS (SELECT id, min(lbl) AS component FROM r GROUP BY id),
         |hosts AS (SELECT source, CAST(substring(source, 4) AS BIGINT) AS id
         |  FROM documents GROUP BY 1, 2)
         |SELECT coalesce(comp.component, hosts.id) AS component,
         |  CAST(count(*) AS BIGINT) AS n_hosts,
         |  string_agg(source, '|' ORDER BY source) AS hosts
         |FROM hosts LEFT JOIN comp USING (id)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q107_exact_substr" -> Query((s, dir) => { // TRUE ExactSubstr dedup (Lee et al. 2022)
      // character-level duplicated-span scrub at L=40 chars — the
      // production semantics q62's word-k-gram lite form approximates
      // (text/ExactSubstr.scala; suffix-array shard kernel in
      // core/SuffixArray.scala, equivalence proven in ExactSubstrSpec).
      // A 48-char license block is PLANTED into docs with id%7==3 at a
      // doc-dependent offset (spans must match content-wise across
      // DIFFERENT positions) with the identical construction in the
      // oracle; natural cross-doc spans are scrubbed too, recomputed
      // identically by both engines. md5 pins the scrubbed bytes.
      val p = (pmod(col("doc_id"), lit(20)) + 1).cast("int")
      val t = col("text")
      val planted = T(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 3,
            concat(t.substr(lit(1), p), lit(q107Shared),
              t.substr(p + 1, length(t))))
          .otherwise(t).as("text"))
      ExactSubstr.scrub(planted, "doc_id", "text", L = 40, minDocs = 2)
        .select(col("doc_id"), col("n_chars"), col("n_removed"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy("doc_id")
    },
      // q107 oracle: identical planted license block, positional 40-char
      // md5 window hashes, distinct-doc df >= 2, span cover union, and a
      // per-char rebuild of the scrubbed text (md5-pinned). Engine parity
      // holds because the corpus is ASCII (Spark UTF-16 chars = DuckDB
      // code points = bytes); both sides hash the same UTF-8 window bytes.
      oracle = s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 3 THEN
         |      substr(text, 1, CAST(doc_id % 20 + 1 AS INT)) || '$q107Shared'
         |        || substr(text, CAST(doc_id % 20 + 2 AS INT))
         |    ELSE text END AS text
         |  FROM documents),
         |pos AS (SELECT doc_id, CAST(i AS INT) AS p,
         |    md5(substr(text, CAST(i AS INT), 40)) AS h
         |  FROM d, LATERAL unnest(range(1, length(text) - 40 + 2)) t(i)
         |  WHERE length(text) >= 40),
         |dup AS (SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |st AS (SELECT doc_id, list(p) AS starts
         |  FROM pos JOIN dup USING (h) GROUP BY doc_id),
         |c AS (SELECT d.doc_id, d.text,
         |    list_distinct(flatten(list_transform(coalesce(starts, []),
         |      s -> range(s, s + 40)))) AS rm
         |  FROM d LEFT JOIN st USING (doc_id)),
         |cl AS (SELECT c.doc_id,
         |    string_agg(substr(c.text, CAST(x.i AS INT), 1), '' ORDER BY x.i) AS ct
         |  FROM c, LATERAL unnest(range(1, length(c.text) + 1)) x(i)
         |  WHERE NOT list_contains(c.rm, x.i) GROUP BY c.doc_id)
         |SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars,
         |  CAST(len(c.rm) AS BIGINT) AS n_removed,
         |  md5(coalesce(cl.ct, '')) AS clean_md5
         |FROM c LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin),

    "q119_cdc_dedup" -> Query((s, dir) => { // content-defined chunk dedup (FastCDC)
      // The shift-invariant dedup candidate generator (core/Cdc gear
      // hash): a banner/header prepended to a re-fetched page shifts
      // every FIXED-size chunk boundary (zero hash matches) but
      // content-defined boundaries re-synchronize within ~1 chunk, so
      // the twin still shares most chunk hashes with the original.
      // Twins are synthesized in-plan (doc_id%4==0 gets a planted
      // banner prefix); both sides chunk in one codegen pass and meet
      // in a hash+doc equi-join — the standard candidate-join shape.
      // Chunk params (16/64/256) sized to the corpus's 60-600 B docs.
      // Surface = per-twin chunk counts + hash-overlap fraction,
      // fixture-pinned (boundaries aren't SQL-expressible); gates
      // asserted in-query: re-sync overlap ≥ 0.5 on docs long enough
      // to have ≥ 8 chunks, twin-population average ≥ 0.4.
      val docs = T(s, dir, "documents").select("doc_id", "text")
        .transform(Pin(_))
      val twins = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), concat(lit("PLANTED BANNER :: rev "),
          col("doc_id").cast("string"), lit(" :: "), col("text")).as("text"))
      def hashesOf(df: DataFrame): DataFrame = df
        .select(col("doc_id"), explode(gf.cdc_chunks(col("text"),
          min = 16, avg = 64, max = 256)).as("__c"))
        .select(col("doc_id"), col("__c.hash").as("__h"))
        .distinct()
      val oh = Pin(hashesOf(docs))
      val th = Pin(hashesOf(twins))
      val res = oh.groupBy("doc_id").agg(count(lit(1)).as("n_orig"))
        .join(th.groupBy("doc_id").agg(count(lit(1)).as("n_twin")), "doc_id")
        .join(th.join(oh, Seq("doc_id", "__h"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_orig"), col("n_twin"),
          round(coalesce(col("n_shared"), lit(0L)).cast("double")
            / col("n_orig"), 4).as("overlap"))
        .transform(Pin(_))
      val gate = res.agg(
        avg("overlap").as("avgOv"),
        min(when(col("n_orig") >= 8, col("overlap"))).as("minLongOv"),
        count(lit(1)).as("nTwins")).head()
      require(gate.getAs[Long]("nTwins") > 0)
      require(gate.getAs[Double]("avgOv") >= 0.4,
        s"avg twin overlap ${gate.getAs[Double]("avgOv")} < 0.4")
      val minLong = gate.getAs[Double]("minLongOv")
      require(minLong >= 0.5,
        s"a >=8-chunk twin failed to re-sync: min overlap $minLong")
      res.orderBy("doc_id")
    },
      // q119 fixture pinned at sf0.01 like q93 — gear-hash chunk
      // boundaries aren't SQL-expressible; the shift-invariance gates run
      // in-query and CdcSpec proves the kernel properties
      oracle = fixtureOracle("q119_cdc_dedup")),

    "q138_allpairs_join" -> Query((s, dir) => { // exact similarity join (ppjoin)
      // EXACT all-pairs Jaccard join at tau=0.6 over word-3-gram sets
      // — the zero-false-negative companion to q25/q26's probabilistic
      // near-dup generators. dedup/AllPairs prefix-filters on the
      // ascending-df token order (Bayardo WWW'07), so candidates come
      // from rare-token prefix collisions, never the full token
      // self-join; the oracle runs the naive complete join — equality
      // IS the completeness proof of the prefix filter at every test
      // scale. Jaccard and its tau-gate are one double division from
      // exact ints (IEEE-identical both engines).
      val docs = T(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(array_distinct(
          TextOps.wordNgrams(TextOps.words(col("text")), 3))).as("g"))
      dedup.AllPairs.jaccardJoin(toks, "doc_id", "g", tau = 0.6)
        .select(col("a").as("doc_a"), col("b").as("doc_b"), col("inter"),
          col("size_a"), col("size_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
      // q138 oracle: the NAIVE complete gram join (every pair sharing a
      // gram, exact jaccard, tau filter) — agreeing with the engine's
      // prefix-filtered join proves the filter's completeness
      oracle = s"""WITH w AS (SELECT doc_id, $duckWords AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |   ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
         |  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM g GROUP BY doc_id),
         |i AS (SELECT a.doc_id AS da, b.doc_id AS db,
         |   CAST(count(*) AS BIGINT) AS c
         |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT i.da AS doc_a, i.db AS doc_b, i.c AS inter,
         |  sa.n AS size_a, sb.n AS size_b,
         |  round(CAST(i.c AS DOUBLE) / CAST(sa.n + sb.n - i.c AS DOUBLE), 6)
         |    AS jaccard
         |FROM i JOIN sz sa ON sa.doc_id = i.da
         |  JOIN sz sb ON sb.doc_id = i.db
         |WHERE CAST(i.c AS DOUBLE) / CAST(sa.n + sb.n - i.c AS DOUBLE) >= 0.6
         |ORDER BY doc_a, doc_b""".stripMargin),

    "q148_edit_blocking" -> Query((s, dir) => { // SymSpell edit-distance join
      // Levenshtein<=1 variant detection over short keys via FastSS
      // deletion-neighborhood blocking (dedup/SymSpell) — the typo/
      // cybersquat matcher gram-set similarity can't express on short
      // strings. Keys are planted from doc_id (the q144 construction
      // pattern): 40 'key-NNNNNN' bases, with doc_id%7==0 docs
      // mutating one digit at a doc-dependent position to 'x' —
      // guaranteed dist-1 pairs at every scale, same formula in both
      // engines. The oracle is the NAIVE complete pair scan
      // (completeness-by-equality, the q138 contract). All-integer +
      // string ops — no float parity.
      val docs = T(s, dir, "documents").select("doc_id")
      val base = concat(lit("key-"),
        lpad(pmod(col("doc_id"), lit(40)).cast("string"), 6, "0"))
      val p = (pmod(col("doc_id"), lit(5)) + 5).cast("int")
      val key = when(pmod(col("doc_id"), lit(7)) === 0,
        concat(base.substr(lit(1), p - 1), lit("x"),
          base.substr(p + 1, length(base))))
        .otherwise(base)
      dedup.SymSpell.edit1Join(docs.select(key.as("k")), "k")
        .select(col("key_a"), col("key_b"), col("dist"))
        .orderBy("key_a", "key_b")
    },
      // q148 oracle: identical planted keys, NAIVE complete pair scan —
      // agreement proves the deletion-neighborhood blocking complete
      oracle = """WITH kk AS (SELECT DISTINCT
        |   CASE WHEN doc_id % 7 = 0 THEN
        |     substring('key-' || lpad((doc_id % 40)::VARCHAR, 6, '0'),
        |       1, CAST(doc_id % 5 + 5 AS INT) - 1) || 'x' ||
        |     substring('key-' || lpad((doc_id % 40)::VARCHAR, 6, '0'),
        |       CAST(doc_id % 5 + 5 AS INT) + 1)
        |   ELSE 'key-' || lpad((doc_id % 40)::VARCHAR, 6, '0') END AS k
        |  FROM documents)
        |SELECT a.k AS key_a, b.k AS key_b,
        |  CAST(levenshtein(a.k, b.k) AS INT) AS dist
        |FROM kk a JOIN kk b ON a.k < b.k
        |WHERE levenshtein(a.k, b.k) <= 1
        |ORDER BY key_a, key_b""".stripMargin)
  )
}
