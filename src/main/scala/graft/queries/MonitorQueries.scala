package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.gf
import graft.text.TextOps

import Shared._

/** Monitor and mergeable-sketch queries over `events` and corpus
  * statistics: sessions, heavy hitters, HLL, t-digest, count-min, KMV,
  * drift tests and sequential folds. */
object MonitorQueries {

  /** Benford expected first-digit frequencies log10(1 + 1/d), d = 1..9 —
    * 17-digit literals INTERPOLATED verbatim into both engines' plans
    * (q155): no runtime libm involvement, so chi-square parity is
    * arithmetic-only. */
  private val q155BenfordK = Seq(
    0.30102999566398120, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  val queries: Map[String, Query] = Map(
    "q68_sessionize" -> Query((s, dir) => // gap-based sessionization + rollup
      graft.events.Sessionize.sessionStats(T(s, dir, "events"),
          "user_id", "ts", "event_id", gapSeconds = 3600L, valueCol = "value")
        .select(col("user_id"), col("session_seq"), col("n_events"),
          unix_micros(col("session_start").cast("timestamp")).as("start_us"),
          col("duration_us"), col("value_sum"))
        .orderBy("user_id", "session_seq"),
      // q68 oracle: identical (ts, event_id) ordering, micro-epoch gap
      // compare, running new-session cumsum (CAST — DuckDB sum→HUGEINT)
      oracle = """WITH o AS (SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM o)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  epoch_us(min(ts)) AS start_us,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
        |  round(sum(value), 4) AS value_sum
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),

    "q84_heavy_hitters" -> Query((s, dir) => { // hot terms via SpaceSaving sketch
      // per-language frequent-terms report through the mergeable
      // SpaceSaving aggregate: map tasks fold their partitions into
      // m-entry summaries and ONLY summaries cross the shuffle —
      // O(partitions·m) wire rows instead of O(distinct terms). With
      // m=512 ≥ this corpus's vocab the sketch runs in its exact regime
      // (err=0, partitioning-invariant), so the SQL oracle is exact
      // count equality; the approximate regime's bounds are
      // property-tested in SpaceSavingSpec.
      val d = T(s, dir, "documents")
      // ASSERTED exact-regime assumption (same pattern as q46/q52): a
      // corpus drift past m would flip est from exact to bounded —
      // throw instead of silently changing the query's meaning
      val vocab = d.select(explode(TextOps.words(col("text"))).as("w"))
        .agg(countDistinct("w")).head().getLong(0)
      require(vocab <= 512,
        s"q84 m=512 assumes vocab ≤ capacity (exact regime); got $vocab distinct words")
      d.select(col("lang"), explode(TextOps.words(col("text"))).as("term"))
        .groupBy("lang")
        .agg(gf.space_saving_agg(col("term"), lit(1L), 512).as("sk"))
        .select(col("lang"), posexplode(slice(col("sk"), 1, 10)))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("col.item").as("term"), col("col.est").as("n"))
        .orderBy("lang", "rank")
    },
      // q84 oracle: the sketch runs in its exact regime (m ≥ vocab,
      // asserted in the query), so exact per-lang counts with the same
      // (n DESC, term) tie-break reproduce the report verbatim
      oracle = s"""WITH w AS (SELECT lang, $duckWords AS words FROM documents),
         |e AS (SELECT lang, unnest(words) AS term FROM w),
         |c AS (SELECT lang, term, count(*) AS n FROM e GROUP BY lang, term),
         |r AS (SELECT lang, term, n, row_number() OVER (
         |   PARTITION BY lang ORDER BY n DESC, term) AS rank FROM c)
         |SELECT lang, CAST(rank AS BIGINT) AS rank, term, CAST(n AS BIGINT) AS n
         |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin),

    "q101_distinct_sketch" -> Query((s, dir) => { // mergeable HLL cardinality
      // per-source distinct-key counting as m bytes of sketch state
      // instead of a distinct set: per-(source,lang) DELTA sketches are
      // built first, then register-max-merged per source (the carried
      // incremental-state shape, ≡ one-shot byte-identically — HllSpec
      // proves it); each key is planted twice so the sketch must
      // actually dedup. The estimate is asserted within 5 % of the
      // exact count IN the query (the q46/q84 exact-regime pattern:
      // p=12 ⇒ σ≈1.6 %), and only the SQL-expressible exact counts are
      // output.
      val rows = T(s, dir, "documents")
        .select(col("source"), col("lang"), col("doc_id"),
          explode(sequence(lit(0), lit(19))).as("k"))
        .select(col("source"), col("lang"),
          concat(col("source"), lit("#"),
            (col("doc_id") * 10 + col("k") % 10).cast("string")).as("key"))
      val deltas = rows.groupBy("source", "lang")
        .agg(gf.hll_agg(xxhash64(col("key"))).as("sketch"))
      val merged = deltas.groupBy("source")
        .agg(gf.hll_merge_agg(col("sketch")).as("sketch"))
        .select(col("source"), gf.hll_estimate(col("sketch")).as("est"))
      val exact = rows.groupBy("source")
        .agg(count_distinct(col("key")).as("n_exact"))
      // 1-row violation-count gate (the q139/q147 shape — never one
      // collected row per monitored key)
      val hllViol = exact.join(merged, Seq("source"))
        .agg(sum(when(abs(col("est") - col("n_exact")) >
            lit(0.05) * col("n_exact").cast("double"), 1L).otherwise(0L))
          .as("v")).head().getLong(0)
      require(hllViol == 0L, s"HLL estimate off by >5% for $hllViol sources")
      exact.orderBy("source")
    },
      // q101 oracle: exact per-source distinct keys (each planted twice);
      // the sketch estimate is asserted against this inside the query
      oracle = """SELECT source,
        | CAST(count(DISTINCT doc_id * 10 + t.k % 10) AS BIGINT) AS n_exact
        |FROM documents, unnest(range(0, 20)) AS t(k)
        |GROUP BY source ORDER BY source""".stripMargin),

    "q118_tdigest_quantiles" -> Query((s, dir) => { // mergeable t-digest length profile
      // The quantile member of the sketch family (core/TDigest,
      // Dunning-Ertl): per-source token-length digests as STORED binary
      // blobs that re-merge across rounds without rescanning text —
      // exact per-group percentiles at 100 TB need a full per-group
      // sort/value buffer; a digest is O(δ) bytes and map-side
      // combinable. Digest merges are rank-error-invariant but NOT
      // byte-invariant (unlike HLL/Bloom), so the oracled surface is
      // the EXACT percentile profile (Spark percentile ≡ DuckDB
      // quantile_cont, the q53 parity) and the digest path is asserted
      // in-query (q101 pattern): per-source weights exact, estimate
      // rank error within bounds, and a two-level fold (per-source →
      // global) holding a tighter bound at the bigger n.
      val docs = T(s, dir, "documents").select(col("source"),
          TextOps.tokenCountWs(col("text")).cast("double").as("ws"))
        .transform(Pin(_)) // feeds the agg and the rank probe
      val per = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          percentile(col("ws"), lit(0.5)).as("p50_tokens"),
          percentile(col("ws"), lit(0.9)).as("p90_tokens"),
          gf.tdigest_agg(col("ws")).as("__dg"))
        .transform(Pin(_)) // feeds the surface, the probe, the fold
      val est = per.select(col("source"), col("n_docs"),
        gf.tdigest_weight(col("__dg")).as("w"),
        gf.tdigest_quantile(col("__dg"), lit(0.5)).as("e50"),
        gf.tdigest_quantile(col("__dg"), lit(0.9)).as("e90"))
      val probe = est.join(docs, Seq("source")).groupBy("source")
        .agg(max("w").as("w"), max("n_docs").as("n_docs"),
          avg((col("ws") <= col("e50")).cast("double")).as("r50"),
          avg((col("ws") <= col("e90")).cast("double")).as("r90"))
        .collect() // bounded by the source count
      require(probe.nonEmpty)
      probe.foreach { r =>
        require(r.getAs[Long]("w") == r.getAs[Long]("n_docs"),
          s"digest weight != doc count for ${r.getAs[String]("source")}")
        val (r50, r90) = (r.getAs[Double]("r50"), r.getAs[Double]("r90"))
        require(r50 >= 0.3 && r50 <= 0.7 && r90 >= 0.7,
          s"rank error out of bounds for ${r.getAs[String]("source")}: " +
            s"r50=$r50 r90=$r90")
      }
      val gRow = per.agg(gf.tdigest_merge_agg(col("__dg")).as("__dg"))
        .select(gf.tdigest_weight(col("__dg")).as("w"),
          gf.tdigest_quantile(col("__dg"), lit(0.5)).as("e50"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .head()
      require(gRow.getAs[Long]("w") == gRow.getAs[Long]("n"),
        "global fold lost weight")
      val gRank = docs.agg(
        avg((col("ws") <= lit(gRow.getAs[Double]("e50"))).cast("double")))
        .head().getDouble(0)
      require(math.abs(gRank - 0.5) <= 0.05,
        s"global median rank error too large: $gRank")
      per.select(col("source"), col("n_docs"),
          col("p50_tokens"), col("p90_tokens"))
        .orderBy("source")
    },
      // q118 oracle: the EXACT per-source percentile profile (Spark
      // percentile ≡ DuckDB quantile_cont, the q53 parity); the t-digest
      // path — weights, per-source rank bounds, two-level fold — is
      // asserted in-query
      oracle = s"""SELECT source, count(*) AS n_docs,
         | quantile_cont(ws, 0.5) AS p50_tokens,
         | quantile_cont(ws, 0.9) AS p90_tokens
         |FROM (SELECT source,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws
         | FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin),

    "q121_freq_sketch" -> Query((s, dir) => { // count-min point-frequency sketches
      // The point-frequency member of the sketch family (core/CountMin):
      // SpaceSaving (q84) answers "which tokens are frequent"; count-min
      // answers "how frequent is THIS token" for probe sets unknown at
      // scan time (fresh spam lists, yesterday's trending grams) — at
      // 100 TB the exact answer needs the full per-token count table,
      // the sketch is d·w longs built map-side-combinable in one pass.
      // The oracled surface is the exact top-20 token profile; the
      // sketch path is asserted in-query (q101/q118 pattern): the
      // per-source→global fold is BYTE-identical to the one-shot build
      // (vector-add merge, the counting-Bloom property), total weight
      // exact, every surfaced token's estimate one-sided within ε·N,
      // and an absent token stays under ε·N.
      val toks = T(s, dir, "documents")
        .select(col("source"), explode(TextOps.words(col("text"))).as("tok"))
        .transform(Pin(_)) // feeds exact counts + both sketch builds
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(20)
        .transform(Pin(_)) // surface + probe set
      val direct = toks
        .agg(gf.count_min_agg(xxhash64(col("tok")), lit(1L)).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      val folded = toks.groupBy("source")
        .agg(gf.count_min_agg(xxhash64(col("tok")), lit(1L)).as("sk"))
        .agg(gf.count_min_merge_agg(col("sk")).as("sk"))
        .head().getAs[Array[Byte]]("sk")
      require(java.util.Arrays.equals(direct, folded),
        "per-source fold != one-shot sketch (vector-add merge broken)")
      val n = toks.count()
      require(graft.core.CountMin.totalBytes(direct) == n, "sketch lost weight")
      val epsN = math.ceil(graft.core.CountMin.epsilon(256) * n).toLong
      val probes = exact.withColumn("est",
        gf.count_min_query(lit(direct), xxhash64(col("tok")))).collect()
      require(probes.nonEmpty)
      probes.foreach { r =>
        val (c, e) = (r.getAs[Long]("cnt"), r.getAs[Long]("est"))
        require(e >= c, s"undercount for ${r.getAs[String]("tok")}: $e < $c")
        require(e <= c + epsN,
          s"overcount for ${r.getAs[String]("tok")}: $e > $c + $epsN")
      }
      val absent = exact.limit(1).select(
        gf.count_min_query(lit(direct), xxhash64(lit("zzzneverseen"))))
        .head().getLong(0)
      require(absent <= epsN, s"absent-token estimate $absent > eps*N $epsN")
      exact.orderBy(col("cnt").desc, col("tok"))
    },
      // q121 oracle: the exact top-20 token counts (tie-broken on token);
      // the count-min path — byte-identical fold, one-sided ε·N bounds,
      // absent-token probe — is asserted in-query
      oracle = s"""WITH w AS (SELECT $duckWords AS words FROM documents),
         |t AS (SELECT unnest(words) AS tok FROM w)
         |SELECT tok, count(*) AS cnt FROM t GROUP BY tok
         |ORDER BY cnt DESC, tok LIMIT 20""".stripMargin),

    "q122_set_sketch" -> Query((s, dir) => { // KMV/theta set-operation sketches
      // The SET-OPERATION member of the sketch family (core/Kmv): HLL
      // (q101) counts distincts but its registers can't be intersected;
      // a KMV sketch (k smallest hash values) estimates UNION,
      // INTERSECTION, and JACCARD between sources from the per-source
      // sketches alone — the cross-corpus mixture diagnostic (q92's
      // matrix) without the exact distinct-gram pair join, which at
      // 100 TB shuffles the full gram table. Per-source sketches are
      // k longs each and live happily in a metastore.
      // Oracled surface: the EXACT pairwise overlap matrix (q92 shape
      // + union_cnt). Sketch path asserted in-query (q101/q118/q121
      // pattern): per-bucket fold ≡ one-shot BYTE-identically
      // (k-smallest-of-union merge), distinct/jaccard/union/intersect
      // estimates exact below k and inside 5σ bands at capacity.
      val K = 1024
      val sg = T(s, dir, "documents")
        .select(col("source"),
          explode(TextOps.wordNgrams(TextOps.words(col("text")), 3)).as("g"))
        .distinct()
        .withColumn("h", xxhash64(col("g")))
        .transform(Pin(_)) // feeds exact matrix + both sketch builds
      val counts = sg.groupBy("source").agg(count(lit(1)).as("__n"))
      val exact = sg.as("a")
        .join(sg.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("shared"))
        .join(counts.select(col("source").as("src_a"), col("__n").as("__na")), Seq("src_a"))
        .join(counts.select(col("source").as("src_b"), col("__n").as("__nb")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("shared"),
          (col("__na") + col("__nb") - col("shared")).as("union_cnt"),
          round(col("shared").cast("double") /
            (col("__na") + col("__nb") - col("shared")), 6).as("jaccard"))
        .transform(Pin(_)) // surface + sketch-assert spine
      val sketches = sg.groupBy("source")
        .agg(gf.kmv_agg(col("h"), K).as("sk"))
        .transform(Pin(_)) // pair probes join it twice
      // (1) fold ≡ one-shot, byte-identical per source
      val folded = sg.groupBy(col("source"), pmod(col("h"), lit(8)).as("__b"))
        .agg(gf.kmv_agg(col("h"), K).as("sk"))
        .groupBy("source").agg(gf.kmv_merge_agg(col("sk")).as("sk"))
      // All three gates are 1-ROW violation-count aggregates (the q139
      // shape; VERDICT r4 #7) — at monitor scale (10^10 keys) a per-key
      // collect in the gate path is itself the driver bottleneck.
      val foldViol = sketches.as("x").join(folded.as("y"), "source")
        .agg(sum(when(col("x.sk") =!= col("y.sk"), 1L).otherwise(0L))
          .as("v")).head().getLong(0)
      require(foldViol == 0L,
        s"per-bucket fold != one-shot KMV for $foldViol sources")
      // (2) distinct estimates: exact below k, 5σ band at capacity
      val dN = col("__n").cast("double")
      val distViol = sketches.join(counts, "source")
        .select(col("__n"), gf.kmv_distinct(col("sk")).as("est"),
          gf.kmv_size(col("sk")).as("sz"))
        .agg(sum(when(
          when(col("sz") < K, col("est") =!= col("__n"))
            .otherwise(abs(col("est") - col("__n")).cast("double") >
              lit(5.0) * dN / math.sqrt(K - 2.0)), 1L)
          .otherwise(0L)).as("v")).head().getLong(0)
      require(distViol == 0L,
        s"KMV distinct estimate outside its regime bound for $distViol sources")
      // (3) pairwise set estimates vs the exact matrix (equi-joins on the
      // matrix spine — never a sketch×sketch non-equi join)
      val jTrue = col("shared").cast("double") / col("union_cnt").cast("double")
      val dUn = col("union_cnt").cast("double")
      val pairViol = exact
        .join(sketches.select(col("source").as("src_a"), col("sk").as("ska")), Seq("src_a"))
        .join(sketches.select(col("source").as("src_b"), col("sk").as("skb")), Seq("src_b"))
        .select(col("shared"), col("union_cnt"),
          gf.kmv_jaccard(col("ska"), col("skb")).as("jest"),
          gf.kmv_union_distinct(col("ska"), col("skb")).as("uest"),
          gf.kmv_intersect_distinct(col("ska"), col("skb")).as("xest"),
          (greatest(gf.kmv_size(col("ska")), gf.kmv_size(col("skb"))) < K).as("ex"))
        .agg(sum(when(
          when(col("ex"), // both sketches exact ⇒ estimates exact
            col("uest") =!= col("union_cnt") || col("xest") =!= col("shared") ||
              col("jest") =!= jTrue)
          .otherwise(
            abs(col("jest") - jTrue) >
              lit(5.0) * sqrt(jTrue * (lit(1.0) - jTrue) / K) + lit(0.01) ||
            abs(col("uest") - col("union_cnt")).cast("double") >
              lit(5.0) * dUn / math.sqrt(K - 2.0) ||
            abs(col("xest") - col("shared")).cast("double") >
              lit(0.1) * dUn + lit(2.0)), 1L)
          .otherwise(0L)).as("v")).head().getLong(0)
      require(pairViol == 0L,
        s"KMV pairwise estimate outside its regime bound for $pairViol pairs")
      exact.orderBy("src_a", "src_b")
    },
      // q122 oracle: the exact pairwise overlap matrix (q92 + union_cnt);
      // the KMV path — byte-identical fold, exact-below-k, 5σ set-estimate
      // bands — is asserted in-query
      oracle = s"""WITH $sourceGramCtes
         |SELECT sa AS src_a, sb AS src_b, CAST(shared AS BIGINT) AS shared,
         |  CAST(ca.n + cb.n - shared AS BIGINT) AS union_cnt,
         |  round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 6) AS jaccard
         |FROM sh JOIN c ca ON ca.source = sh.sa JOIN c cb ON cb.source = sh.sb
         |ORDER BY src_a, src_b""".stripMargin),

    "q136_ks_drift" -> Query((s, dir) => { // two-sample KS distribution drift
      // Exact two-sample Kolmogorov-Smirnov between the doc-length
      // distributions of two crawl cohorts (doc_id parity stands in
      // for old/new snapshot) — the distribution-drift monitor a
      // pipeline runs per dump (quality filters are tuned on LAST
      // month's length/score shape; a shifted ECDF flags re-tuning
      // BEFORE the gates silently change acceptance rates). Scale
      // shape: the corpus reduces to per-DISTINCT-VALUE counts first
      // (one hash agg); the cumulative window then runs over the
      // VALUE DOMAIN, bounded by the doc-size contract (~600 distinct
      // lengths) — an unpartitioned window over a domain-bounded
      // input, PlanGuard-allowlisted with the bound stated here, NOT
      // a window over corpus rows. D and the alpha=0.05 threshold
      // 1.3581*sqrt((na+nb)/(na*nb)) are IEEE-identical (exact-int
      // inputs, fixed op order); drift compares the ROUNDED pair
      // (the q54/q60 lesson).
      val x = T(s, dir, "documents")
        .select(length(col("text")).cast("long").as("x"),
          (pmod(col("doc_id"), lit(2)) === 0).as("isa"))
      val counts = x.groupBy("x").agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("cb"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("x")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = broadcast(x.agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("nb")))
      counts
        .select(col("x"), sum(col("ca")).over(w).as("fa"),
          sum(col("cb")).over(w).as("fb"))
        .crossJoin(tot)
        .select(abs(col("fa").cast("double") / col("na").cast("double") -
          col("fb").cast("double") / col("nb").cast("double")).as("d"))
        .agg(max(col("d")).as("ksd"))
        .crossJoin(tot)
        .select(col("na").as("n_a"), col("nb").as("n_b"),
          round(col("ksd"), 6).as("ks_d"),
          round(lit(1.3581) * sqrt((col("na") + col("nb")).cast("double") /
            (col("na").cast("double") * col("nb").cast("double"))), 6)
            .as("threshold"),
          (round(col("ksd"), 6) >
            round(lit(1.3581) * sqrt((col("na") + col("nb")).cast("double") /
              (col("na").cast("double") * col("nb").cast("double"))), 6))
            .as("drift"))
    },
      // q136 oracle: identical reduction — per-distinct-length counts,
      // cumulative window over the value domain, one max; sums of CASE
      // ints are CAST to BIGINT (the q49 HUGEINT rule)
      oracle = """WITH x AS (SELECT CAST(length(text) AS BIGINT) AS x,
        |   (doc_id % 2 = 0) AS isa FROM documents),
        |c AS (SELECT x,
        |   CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |   CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM x GROUP BY x),
        |cum AS (SELECT x,
        |   CAST(sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW) AS BIGINT) AS fa,
        |   CAST(sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW) AS BIGINT) AS fb
        |  FROM c),
        |t AS (SELECT
        |   CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |   CAST(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM x),
        |d AS (SELECT max(abs(CAST(fa AS DOUBLE) / CAST(na AS DOUBLE)
        |   - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ksd
        |  FROM cum, t)
        |SELECT t.na AS n_a, t.nb AS n_b, round(d.ksd, 6) AS ks_d,
        |  round(1.3581 * sqrt(CAST(t.na + t.nb AS DOUBLE)
        |    / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))), 6) AS threshold,
        |  round(d.ksd, 6) > round(1.3581 * sqrt(CAST(t.na + t.nb AS DOUBLE)
        |    / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE))), 6) AS drift
        |FROM d, t""".stripMargin),

    "q143_ewma" -> Query((s, dir) => { // per-key EWMA activity smoothing
      // Exponentially-weighted moving average of each user's event
      // values in time order (alpha = 0.2, s1 = x1 convention) — the
      // smoothing signal adaptive recrawl/rate-limit schedulers track
      // per host. EWMA is inherently ORDER-DEPENDENT, so the parity
      // contract is the q137 sequential-fold pattern: Spark folds
      // aggregate() over the (ts, event_id)-sorted struct list, DuckDB
      // folds list_reduce over list(value ORDER BY ts, event_id) —
      // identical IEEE op sequence 0.2*x + 0.8*acc both engines, same
      // tie-break. One hash agg per user_id; the per-key list is
      // session-bounded, never the stream.
      val ev = T(s, dir, "events")
      ev.groupBy("user_id").agg(
          count(lit(1)).as("n_events"),
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("value")))).as("__xs"))
        .select(col("user_id"), col("n_events"),
          round(aggregate(
            slice(col("__xs"), lit(2), greatest(size(col("__xs")) - 1, lit(0))),
            element_at(col("__xs"), 1).getField("value"),
            (acc, x) => lit(0.2) * x.getField("value") + lit(0.8) * acc),
            6).as("ewma"))
        .orderBy("user_id")
    },
      // q143 oracle: identical sequential fold over the identically
      // ordered value list (list_reduce init = first element = the
      // s1 = x1 convention both sides)
      oracle = """WITH l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |   list(value ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  round(list_reduce(xs, (a, b) -> 0.2 * b + 0.8 * a), 6) AS ewma
        |FROM l ORDER BY user_id""".stripMargin),

    "q147_sliding_errors" -> Query((s, dir) => { // DGIM sliding-window counts
      // "Errors among this user's last 32 events" — the sliding-window
      // rate signal a politeness/backoff scheduler tracks per host.
      // Exact path (the oracled output): partitioned row_number window
      // + hash agg. Sketch path: core/Dgim exponential histograms
      // (SODA'02) folded per key in ONE mapGroups pass — O(log² N)
      // buckets instead of the N-bit window, the state a 10^10-host
      // always-on monitor can actually carry. The DGIM CERTIFIED bound
      // (⌈oldest straddling bucket/2⌉, reported by the sketch itself)
      // is asserted against the exact count per key in-query, and the
      // sketch path's own exact fold must equal the window-based
      // output exactly (catches any ordering skew between the two).
      import s.implicits._
      val N = 32
      val ev = T(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), (col("event_type") === "error").as("bit"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val exact = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= N)
        .groupBy("user_id").agg(count(lit(1)).as("n_recent"),
          sum(when(col("bit"), 1L).otherwise(0L)).as("errors_recent"))
        .transform(Pin(_)) // feeds the gate join + the output
      val sketch = ev
        .as[(Long, java.sql.Timestamp, Long, Boolean)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val evs = it.toArray.sortBy(e =>
            (e._2.toInstant.getEpochSecond, e._2.toInstant.getNano.toLong,
              e._3))
          val d = new graft.core.Dgim(4, N.toLong) // windowed: expiring state
          var t = 0L
          evs.foreach { e => t += 1; d.add(t, e._4) }
          val (est, err) = d.estimate(t, N.toLong)
          val exactLocal =
            evs.takeRight(math.min(N, evs.length)).count(_._4).toLong
          (uid, est, err, exactLocal)
        }
        .toDF("user_id", "est", "err", "exact_local")
      // in-query gate as ONE violation-count row (the q139 shape;
      // VERDICT r4 #7 — never one collected row per monitored key)
      val viol = exact
        .join(sketch.hint("shuffle_hash"), Seq("user_id"))
        .agg(sum(when(col("exact_local") =!= col("errors_recent") ||
            abs(col("est") - col("errors_recent")) > col("err"), 1L)
          .otherwise(0L)).as("violations"))
        .head().getLong(0)
      require(viol == 0L,
        s"DGIM gate: $viol keys violate ordering parity or the certified bound")
      exact.orderBy("user_id")
    },
      // q147 oracle: the exact last-32 window per user (BIGINT casts per
      // the q49 rule; identical desc tie-break)
      oracle = """WITH r AS (SELECT user_id, event_type,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS errors_recent
        |FROM r WHERE rn <= 32 GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q151_cusum" -> Query((s, dir) => { // CUSUM drift alarm per key
      // One-sided CUSUM (Page 1954) over each user's event values in
      // time order: S_i = max(0, S_{i-1} + x_i - (mu + k)) with FIXED
      // offline-designed control constants (mu=25, k=5, alarm h=40) —
      // the change-point tripwire next to q143's EWMA smoothing
      // (EWMA tracks the level; CUSUM accumulates evidence of a
      // sustained shift). Order-dependent recurrence ⇒ the q143
      // sequential-fold parity contract: identical (ts, event_id)
      // order, identical greatest(0, a + b - 30) op sequence, DuckDB
      // list_reduce init = prepended 0.0 (the q137 trick). Alarm
      // compares the ROUNDED statistic (q60).
      val ev = T(s, dir, "events")
      ev.groupBy("user_id").agg(
          count(lit(1)).as("n_events"),
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("value")))).as("__xs"))
        .select(col("user_id"), col("n_events"),
          round(aggregate(col("__xs"), lit(0.0),
            (acc, x) => greatest(lit(0.0),
              acc + x.getField("value") - lit(30.0))), 6).as("cusum"))
        .withColumn("alarm", col("cusum") > 40.0)
        .orderBy("user_id")
    },
      // q151 oracle: identical sequential fold over the identically
      // ordered value list with a prepended 0.0 init (q137/q143)
      oracle = """WITH l AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |   list(value ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  round(list_reduce(list_prepend(0.0, xs),
        |    (a, b) -> greatest(0.0, a + b - 30.0)), 6) AS cusum,
        |  round(list_reduce(list_prepend(0.0, xs),
        |    (a, b) -> greatest(0.0, a + b - 30.0)), 6) > 40.0 AS alarm
        |FROM l ORDER BY user_id""".stripMargin),

    "q153_revisit_gaps" -> Query((s, dir) => { // inter-arrival percentiles
      // Per-user inter-arrival-time profile (p50/p90 gaps in micros) —
      // the revisit-interval statistic the q72 adaptive-recrawl
      // scheduler consumes. Gaps are EXACT integer micro differences
      // via a PARTITIONED lag window; Spark percentile() on exact
      // ints ≡ DuckDB quantile_cont exactly (the q53 parity result).
      val ev = T(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      // ts is TIMESTAMP_NTZ; cast for unix_micros — gaps are DIFFS, so
      // the session-zone offset cancels and epoch_us parity holds
      val us = unix_micros(col("ts").cast("timestamp"))
      ev.select(col("user_id"),
          (us - lag(us, 1).over(w)).as("gap"))
        .filter(col("gap").isNotNull)
        .groupBy("user_id").agg(
          count(lit(1)).as("n_gaps"),
          // report SECONDS: micro-magnitude interpolants (~1e11) leave
          // no double headroom for a 4 dp round — the last-ulp
          // quantile-interpolation delta survived it (first red row of
          // the session); at ~1e4 seconds the round absorbs it
          round(percentile(col("gap"), lit(0.5)) / 1e6, 4).as("p50_gap_s"),
          round(percentile(col("gap"), lit(0.9)) / 1e6, 4).as("p90_gap_s"))
        .orderBy("user_id")
    },
      // q153 oracle: exact integer micro gaps via the same partitioned
      // lag; quantile_cont ≡ Spark percentile on exact ints (q53)
      oracle = """WITH g AS (SELECT user_id,
        |   epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |     PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap, 0.5) / 1000000.0, 4) AS p50_gap_s,
        |  round(quantile_cont(gap, 0.9) / 1000000.0, 4) AS p90_gap_s
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q155_benford" -> Query((s, dir) => { // Benford first-digit audit
      // Benford's-law conformance per source over event values — the
      // classic synthetic/fabricated-numbers tripwire (a scraped
      // metrics table whose first digits are uniform was generated,
      // not measured). Values are centified to EXACT ints first
      // (round(value*100) — both engines' identical double mult +
      // round), the leading digit comes from integer string length +
      // one exact power-of-ten division (no log10 on data), the nine
      // expected-frequency constants are INTERPOLATED LITERALS shared
      // with the SQL (zero engine libm involvement), and chi² is the
      // q137 digit-ordered sequential fold over a complete digit
      // spine (absent digits count 0 — they still contribute their
      // expected mass). Verdict on the ROUNDED chi² vs the alpha=0.05
      // 8-df critical value.
      val ev = T(s, dir, "events")
      val c = round(col("value") * 100, 0).cast("long")
      val vals = ev.select(col("user_id"), c.as("c")).filter(col("c") >= 100)
        .select((pmod(col("user_id"), lit(3))).cast("int").as("cohort"),
          floor(col("c").cast("double") /
            pow(lit(10.0), (length(col("c").cast("string")) - 1)
              .cast("double"))).cast("int").as("d"))
      val counts = vals.groupBy("cohort", "d").agg(count(lit(1)).as("o"))
      val spine = vals.select("cohort").distinct()
        .select(col("cohort"), explode(sequence(lit(1), lit(9))).as("d"))
      val kd = q155BenfordK.zipWithIndex.foldLeft(lit(0.0)) {
        case (acc, (k, i)) => when(col("d") === i + 1, lit(k)).otherwise(acc)
      }
      val grid = spine.join(counts.hint("shuffle_hash"), Seq("cohort", "d"), "left")
        .select(col("cohort"), col("d"),
          coalesce(col("o"), lit(0L)).as("o"), kd.as("k"))
      val tot = grid.groupBy("cohort").agg(sum(col("o")).as("n_values"))
      grid.join(tot.hint("shuffle_hash"), Seq("cohort"))
        .select(col("cohort"), col("n_values"), col("d"),
          ((col("o").cast("double") -
            col("n_values").cast("double") * col("k")) *
            (col("o").cast("double") -
              col("n_values").cast("double") * col("k")) /
            (col("n_values").cast("double") * col("k"))).as("t"))
        .groupBy("cohort", "n_values")
        .agg(aggregate(array_sort(collect_list(struct(col("d"), col("t")))),
          lit(0.0), (acc, x) => acc + x.getField("t")).as("__chi2"))
        .select(col("cohort"), col("n_values"),
          round(col("__chi2"), 6).as("chi2"),
          (round(col("__chi2"), 6) > 15.5073).as("non_benford"))
        .orderBy("cohort")
    },
      // q155 oracle: identical centify → string-length digit → complete
      // digit spine → literal expected frequencies → digit-ordered fold
      oracle = {
        val kCase = q155BenfordK.zipWithIndex
          .map { case (k, i) => s"WHEN ${i + 1} THEN $k" }.mkString(" ")
        s"""WITH v AS (SELECT user_id,
           |   CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
           |dd AS (SELECT CAST(user_id % 3 AS INT) AS cohort,
           |   CAST(floor(CAST(c AS DOUBLE)
           |     / pow(10, length(c::VARCHAR) - 1)) AS INT) AS d
           |  FROM v WHERE c >= 100),
           |o AS (SELECT cohort, d, CAST(count(*) AS BIGINT) AS o
           |  FROM dd GROUP BY cohort, d),
           |sp AS (SELECT DISTINCT dd.cohort, CAST(g.d AS INT) AS d
           |  FROM dd, (SELECT unnest(range(1, 10)) AS d) g),
           |grid AS (SELECT sp.cohort, sp.d, coalesce(o.o, 0) AS o,
           |   CASE sp.d $kCase END AS k
           |  FROM sp LEFT JOIN o ON o.cohort = sp.cohort AND o.d = sp.d),
           |tot AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS n_values
           |  FROM grid GROUP BY cohort),
           |tm AS (SELECT g.cohort, tot.n_values, g.d,
           |   (CAST(g.o AS DOUBLE) - CAST(tot.n_values AS DOUBLE) * g.k)
           |   * (CAST(g.o AS DOUBLE) - CAST(tot.n_values AS DOUBLE) * g.k)
           |   / (CAST(tot.n_values AS DOUBLE) * g.k) AS t
           |  FROM grid g JOIN tot USING (cohort)),
           |a AS (SELECT cohort, n_values,
           |   list_reduce(list_prepend(0.0, list(t ORDER BY d)),
           |     (x, y) -> x + y) AS chi2
           |  FROM tm GROUP BY cohort, n_values)
           |SELECT cohort, n_values, round(chi2, 6) AS chi2,
           |  round(chi2, 6) > 15.5073 AS non_benford
           |FROM a ORDER BY cohort""".stripMargin
      })
  )
}
