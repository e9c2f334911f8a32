package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.CrawlConfig
import graft.functions.{UrlPredicates, gf}
import graft.synth.{PageSynth, SynthConfig}
import graft.frontier.{Crawler, CrawlRound}

import Shared._

/** Crawl-shaped queries over synthesized urls and the synthetic page store:
  * url scoring, politeness, the frontier round, seen filters, recrawl
  * planning and budgets (SURVEY.md §2.2/§2.5/§2.8). */
object CrawlQueries {

  val queries: Map[String, Query] = Map(
    "q14_url_host_dist" -> Query((s, dir) => // C1/F1: host extraction + distribution
      T(s, dir, "documents").withColumn("url", docUrl)
        .withColumn("host", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
        .groupBy("host").agg(count("*").as("cnt"))
        .orderBy("host"),
      oracle = s"""SELECT host, count(*) AS cnt FROM (
         |  SELECT regexp_extract($docUrlSql, '^https?://([^/]+)/', 1) AS host
         |  FROM documents)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q15_url_score" -> Query((s, dir) => // C23-shape: declarative CASE-sum scoring
      T(s, dir, "documents").withColumn("url", docUrl)
        .withColumn("score",
          (when(col("lang") === "en", 10).otherwise(0) +
           when(col("n_chars") > 200, 5).otherwise(0) -
           when(col("url").contains("/doc-"), 2).otherwise(0)).cast("long"))
        .select("doc_id", "score").orderBy("doc_id"),
      oracle = s"""SELECT doc_id, CAST(
         |  (CASE WHEN lang = 'en' THEN 10 ELSE 0 END) +
         |  (CASE WHEN n_chars > 200 THEN 5 ELSE 0 END) -
         |  (CASE WHEN contains($docUrlSql, '/doc-') THEN 2 ELSE 0 END)
         | AS BIGINT) AS score
         |FROM documents ORDER BY doc_id""".stripMargin),

    "q16_politeness_rank" -> Query((s, dir) => { // W2: per-host budget rank
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      T(s, dir, "documents").withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("doc_id"))
        .orderBy("source", "rank")
    },
      oracle = """SELECT source, rank, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id ASC) AS rank FROM documents)
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin),

    "q18_frontier_stats" -> Query((s, dir) => // A8: frontier stats (count, mean score)
      T(s, dir, "documents")
        .withColumn("score",
          (when(col("lang") === "en", 10).otherwise(0) +
           when(col("n_chars") > 200, 5).otherwise(0)).cast("long"))
        .groupBy("lang").agg(count("*").as("cnt"), round(avg("score"), 4).as("avg_score"))
        .orderBy("lang"),
      oracle = """SELECT lang, count(*) AS cnt, round(avg(score),4) AS avg_score FROM (
        |  SELECT lang, (CASE WHEN lang = 'en' THEN 10 ELSE 0 END) +
        |    (CASE WHEN n_chars > 200 THEN 5 ELSE 0 END) AS score FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q31_canonicalize" -> Query((s, dir) => { // C2/C3: canonicalize + resolve
      // (url identity = xxhash64(canon) — builtin hash over the canon
      // string verified here; scheme/host case, default port, dot
      // segments, fragment all exercised and cross-checked in DuckDB)
      gf.register(s)
      T(s, dir, "documents").withColumn("url",
          concat(lit("HTTPS://"), upper(col("source")), lit(".Example.COM:443/a/../"),
            col("lang"), lit("/doc-"), col("doc_id"), lit("#frag")))
        .select(col("doc_id"), gf.canonicalize_url(col("url")).as("canon"),
          gf.resolve_url(gf.canonicalize_url(col("url")), lit("../up/page?b=2&a=1")).as("resolved"))
        .orderBy("doc_id")
    },
      oracle = """SELECT doc_id,
        | concat('https://', source, '.example.com/', lang, '/doc-', doc_id) AS canon,
        | concat('https://', source, '.example.com/up/page?b=2&a=1') AS resolved
        |FROM documents ORDER BY doc_id""".stripMargin),

    "q32_crawl_round" -> Query((s, dir) => { // one full frontier round, all plumbing
      import s.implicits._
      gf.register(s)
      val cfg = SynthConfig(nPages = 400L, nHosts = 5)
      val pages = Crawler.keyPages(PageSynth.pages(s, cfg).toDF(), 8)
      val seeds = CrawlRound.seedFrontier(PageSynth.seeds(cfg).toDF("url"))
      val r = CrawlRound.run(1, seeds, pages, PageSynth.robots(s, cfg).toDF(),
        CrawlConfig(perHostBudget = 20, saltBuckets = 4))
      r.order.unionByName(
        r.discovered.select(lit(2).as("round"), col("host"),
          lit(0).as("hostRank"), col("canonUrl"), col("urlHash"),
          col("score"), lit(false).as("fetchOk")))
        .orderBy("round", "host", "hostRank", "canonUrl")
    },
      oracle = fixtureOracle("q32_crawl_round")),

    "q39_url_predicates" -> Query((s, dir) => { // F1/F3/F4/F5 predicate counts
      val path = when(pmod(col("doc_id"), lit(4)) === 0, concat(lit("/locations/city-"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("/locations/"))
        .when(pmod(col("doc_id"), lit(4)) === 2, concat(lit("/careers/job-"), col("doc_id")))
        .otherwise(lit("/about/team"))
      val url = concat(lit("https://"), col("source"), lit(".example.com"), path)
      // anchor text flips the F3 verdict for the /about/team quarter
      val anchor = when(pmod(col("doc_id"), lit(4)) === 3, lit("Visit Our Locations"))
        .otherwise(lit("Read more"))
      T(s, dir, "documents").withColumn("url", url).withColumn("anchor", anchor)
        .agg(
          sum(when(UrlPredicates.isFacilityRelated(col("url")), 1L).otherwise(0L)).as("n_related"),
          sum(when(UrlPredicates.isFacilityDetail(col("url")), 1L).otherwise(0L)).as("n_detail"),
          sum(when(UrlPredicates.isFacilityUrl(col("url")), 1L).otherwise(0L)).as("n_facility"),
          sum(when(UrlPredicates.isFacilityLink(col("url"), col("anchor")), 1L)
            .otherwise(0L)).as("n_link"),
          sum(when(UrlPredicates.sameDomain(col("url"), lit("src0.example.com")), 1L)
            .otherwise(0L)).as("n_src0"))
    },
      oracle = """SELECT
        | CAST(sum(CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_related,
        | CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_detail,
        | CAST(sum(CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_facility,
        | CAST(sum(CASE WHEN doc_id % 4 IN (0, 1, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_link,
        | CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_src0
        |FROM documents""".stripMargin),

    "q58_snapshot_diff" -> Query((s, dir) => { // CDC between two snapshots
      // old = docs except id%5==4; new = docs except id%7==0, with
      // id%3==0 texts modified — exercises all four statuses
      val all = T(s, dir, "documents").select("doc_id", "text")
      val oldSnap = all.filter(pmod(col("doc_id"), lit(5)) =!= 4)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      val newSnap = all.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"), md5(concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(" v2"))
            .otherwise(lit(""))).cast("binary")).as("fp"))
      frontier.SnapshotDiff.diff(oldSnap, newSnap, "doc_id", "fp")
        .orderBy("doc_id")
    },
      // q58 oracle: identical snapshot construction and full-outer compare
      oracle = """WITH o AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 5 <> 4),
        |n AS (SELECT doc_id, md5(text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' v2' ELSE '' END) AS fp
        |  FROM documents WHERE doc_id % 7 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |       WHEN n.fp IS NULL THEN 'removed'
        |       WHEN o.fp <> n.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin),

    "q59_recrawl_plan" -> Query((s, dir) => { // CDC → recrawl frontier + seen retirement
      // synthetic per-doc urls; old = %5≠4 snapshot, new = %5≠3 with %7==0
      // contents changed. seen = exactly the old snapshot's url hashes.
      // The oracle re-derives all six counts in SQL, so a green row proves
      // the WHOLE composition: diff statuses, frontier = added ∪ changed,
      // retired = seen − (changed ∪ removed).
      val docs = T(s, dir, "documents").select("doc_id", "text")
      val url = concat(lit("https://h"), pmod(col("doc_id"), lit(20)).cast("string"),
        lit(".example.com/p"), col("doc_id").cast("string"))
      val o = docs.filter(pmod(col("doc_id"), lit(5)) =!= 4)
        .select(url.as("url"), md5(col("text").cast("binary")).as("fp"))
      val n = docs.filter(pmod(col("doc_id"), lit(5)) =!= 3)
        .select(url.as("url"),
          md5(concat(col("text"),
            when(pmod(col("doc_id"), lit(7)) === 0, lit(" v2")).otherwise(lit("")))
            .cast("binary")).as("fp"))
      val seen = o.select(xxhash64(gf.canonicalize_url(col("url"))).as("urlHash"))
      val plan = frontier.SnapshotDiff.recrawlPlan(o, n, "url", "fp", seen,
        scoreBoost = 5.0)
      def st(v: String) = sum(when(col("status") === v, 1L).otherwise(0L))
      plan.urlDiff.agg(st("added").as("n_added"), st("changed").as("n_changed"),
          st("removed").as("n_removed"), st("unchanged").as("n_unchanged"))
        .crossJoin(plan.frontier.agg(count(lit(1)).as("n_frontier")))
        .crossJoin(plan.retiredSeen.agg(count(lit(1)).as("n_retired")))
    },
      // q59 oracle: full recrawl-plan composition re-derived in SQL — diff
      // statuses on synthetic urls, frontier = added ∪ changed, retired =
      // |seen| − |changed ∪ removed| (seen = the old snapshot's hashes).
      // CASTs: DuckDB sum() promotes to HUGEINT (the q49 gotcha).
      oracle = """WITH o AS (SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR) ||
        |    '.example.com/p' || CAST(doc_id AS VARCHAR) AS url, md5(text) AS fp
        |  FROM documents WHERE doc_id % 5 <> 4),
        |n AS (SELECT 'https://h' || CAST(doc_id % 20 AS VARCHAR) ||
        |    '.example.com/p' || CAST(doc_id AS VARCHAR) AS url,
        |    md5(text || CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END) AS fp
        |  FROM documents WHERE doc_id % 5 <> 3),
        |d AS (SELECT CASE WHEN o.fp IS NULL THEN 'added'
        |    WHEN n.fp IS NULL THEN 'removed'
        |    WHEN o.fp <> n.fp THEN 'changed'
        |    ELSE 'unchanged' END AS status
        |  FROM o FULL OUTER JOIN n ON o.url = n.url)
        |SELECT
        | CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        | CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        | CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        | CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        | CAST(sum(CASE WHEN status IN ('added','changed') THEN 1 ELSE 0 END) AS BIGINT) AS n_frontier,
        | CAST((SELECT count(*) FROM o)
        |   - sum(CASE WHEN status IN ('changed','removed') THEN 1 ELSE 0 END) AS BIGINT) AS n_retired
        |FROM d""".stripMargin),

    "q72_recrawl_interval" -> Query((s, dir) => { // Cho–Garcia-Molina revisit schedule
      // three synthetic snapshots: between 0→1 every even doc changes,
      // between 1→2 every third doc changes (version counter in the fp) —
      // the history flows through the REAL diff on md5 fingerprints
      val d = T(s, dir, "documents").select("doc_id", "text")
      def snap(v: Column) = d.select(col("doc_id"),
        md5(concat(col("text"), lit("#"), v.cast("string"))
          .cast("binary")).as("fp"))
      val v1 = when(pmod(col("doc_id"), lit(2)) === 0, 1).otherwise(0)
      val v2 = v1 + when(pmod(col("doc_id"), lit(3)) === 0, 1).otherwise(0)
      val hist = frontier.SnapshotDiff.diff(snap(lit(0)), snap(v1), "doc_id", "fp")
        .unionByName(frontier.SnapshotDiff.diff(snap(v1), snap(v2), "doc_id", "fp"))
      frontier.SnapshotDiff.adaptiveIntervals(hist, "doc_id", "status",
          checkIntervalHours = 24.0, minHours = 6.0, maxHours = 168.0)
        .orderBy("doc_id")
    },
      // q72 oracle: the change indicators are computable directly from the
      // %-rules (the md5 fingerprints are an implementation detail of the
      // Spark path); same smoothed-MLE math on the ROUNDED lambda
      oracle = """WITH x AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS nc
        |  FROM documents),
        |l AS (SELECT doc_id, CAST(2 AS BIGINT) AS n_checks,
        |    CAST(nc AS BIGINT) AS n_changed,
        |    round(-ln((2 - nc + 0.5) / 2.5) / 24.0, 6) + 0.0 AS lambda_hat
        |  FROM x)
        |SELECT doc_id, n_checks, n_changed, lambda_hat,
        |  CASE WHEN n_changed = 0 THEN 168.0
        |    ELSE round(least(168.0, greatest(6.0, 1.0 / lambda_hat)), 4)
        |  END AS interval_h
        |FROM l ORDER BY doc_id""".stripMargin),

    "q79_prefix_rollup" -> Query((s, dir) => { // per-directory crawl-budget rollup
      // ROLLUP grouping sets over the synthetic URL path hierarchy: the
      // per-host / per-directory page counts a frontier uses to allocate
      // crawl budgets at every prefix depth in ONE aggregation pass.
      val u = T(s, dir, "documents").select(
        concat(lit("h"), pmod(col("doc_id"), lit(20)).cast("string")).as("host"),
        concat(lit("a"), pmod(col("doc_id"), lit(3)).cast("string")).as("seg1"),
        concat(lit("b"), pmod(col("doc_id"), lit(5)).cast("string")).as("seg2"))
      u.rollup("host", "seg1", "seg2")
        .agg(count(lit(1)).as("n_pages"))
        .select(coalesce(col("host"), lit("*")).as("host"),
          coalesce(col("seg1"), lit("*")).as("seg1"),
          coalesce(col("seg2"), lit("*")).as("seg2"),
          col("n_pages"))
        .orderBy("host", "seg1", "seg2")
    },
      // q79 oracle: the same ROLLUP grouping sets; NULL grouping rows are
      // masked to '*' in both engines (no synthetic segment is ever '*')
      oracle = """WITH u AS (SELECT 'h' || (doc_id % 20) AS host,
        |  'a' || (doc_id % 3) AS seg1, 'b' || (doc_id % 5) AS seg2
        |  FROM documents)
        |SELECT coalesce(host, '*') AS host, coalesce(seg1, '*') AS seg1,
        |  coalesce(seg2, '*') AS seg2, count(*) AS n_pages
        |FROM u GROUP BY ROLLUP (host, seg1, seg2)
        |ORDER BY host, seg1, seg2""".stripMargin),

    "q80_counting_recrawl" -> Query((s, dir) => { // deletable seen filter + retirement
      // seen = docs with id%3≠2; recrawl retires the id%7==1 slice of seen;
      // candidates = every doc url. The COUNTING bloom state is built, the
      // retired slice is subtracted (no full rebuild), and candidates flow
      // through the pre-filter + exact anti-join — whose verdict is exact
      // by construction, so the oracle re-derives the readmission set in
      // pure SQL: unseen (%3==2) ∪ retired (%3≠2 ∧ %7==1).
      val withUrl = T(s, dir, "documents").select(
          col("doc_id"), docUrl.as("url"))
        .withColumn("urlHash", gf.url_id(col("url")))
      val seen = withUrl.filter(pmod(col("doc_id"), lit(3)) =!= 2)
        .select("urlHash")
      val retired = withUrl.filter(pmod(col("doc_id"), lit(3)) =!= 2 &&
        pmod(col("doc_id"), lit(7)) === 1).select("urlHash")
      val ccfg = CrawlConfig(bloomBuckets = 8)
      val state = frontier.SeenSet.retireFromCounting(
        frontier.SeenSet.buildCountingBlooms(seen, 1024L, ccfg),
        retired, 1024L, ccfg)
      val seenAfter = seen.join(retired, Seq("urlHash"), "left_anti")
      frontier.SeenSet.filterUnseenCounting(withUrl, seenAfter, state, ccfg)
        .select("doc_id").orderBy("doc_id")
    },
      // q80 oracle: the counting pre-filter only accelerates — the exact
      // anti-join keeps the verdict exact, so the readmission set is pure
      // set algebra: unseen (%3==2) ∪ retired-from-seen (%3≠2 ∧ %7==1)
      oracle = """SELECT doc_id FROM documents
        |WHERE doc_id % 3 = 2 OR (doc_id % 3 <> 2 AND doc_id % 7 = 1)
        |ORDER BY doc_id""".stripMargin),

    "q85_trap_detect" -> Query((s, dir) => { // crawl-trap template detection
      // the many-urls-few-contents signal: sources with id%4==0 fan each
      // doc out to 10 urls serving the SAME body (a calendar/session-id
      // trap); normal sources serve 1 url per doc. detect() flags the
      // trap templates in one hash agg — no joins, no windows — and the
      // tiny flagged table is the frontier drop predicate
      // (TrapDetect.filterTrapped).
      val trap = (substring(col("source"), 4, 10).cast("int") % 4) === 0
      val pages = T(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("text"),
          explode(sequence(lit(0), when(trap, lit(9)).otherwise(lit(0)))).as("j"))
        .select(concat(col("source"), lit(".example.com")).as("host"),
          concat(lit("https://"), col("source"), lit(".example.com/item/"),
            (col("doc_id") * 10 + col("j")).cast("string")).as("url"),
          md5(col("text").cast("binary")).as("fingerprint"))
      frontier.TrapDetect.detect(pages, minUrls = 50L, maxContentRatio = 0.3)
        .orderBy("host", "template")
    },
      // q85 oracle: same synthetic fan-out (trap sources serve 10 urls per
      // doc body), same digit-collapse template, same ROUNDED-ratio gate in
      // both engines (the q54/q60 lesson); DuckDB regexp_replace needs the
      // 'g' flag to match Spark's replace-all
      oracle = """WITH p AS (
        | SELECT source || '.example.com' AS host,
        |   'https://' || source || '.example.com/item/'
        |     || CAST(doc_id*10 + t.j AS VARCHAR) AS url,
        |   md5(text) AS fingerprint
        | FROM documents, unnest(range(0,
        |   CASE WHEN CAST(substring(source, 4) AS INT) % 4 = 0
        |        THEN 10 ELSE 1 END)) AS t(j)),
        |g AS (SELECT host, regexp_replace(url, '[0-9]+', '{n}', 'g') AS template,
        |   count(DISTINCT url) AS n_urls,
        |   count(DISTINCT fingerprint) AS n_contents
        | FROM p GROUP BY 1, 2)
        |SELECT host, template, CAST(n_urls AS BIGINT) AS n_urls,
        | CAST(n_contents AS BIGINT) AS n_contents,
        | round(CAST(n_contents AS DOUBLE) / n_urls, 6) AS content_ratio
        |FROM g WHERE n_urls >= 50
        | AND round(CAST(n_contents AS DOUBLE) / n_urls, 6) <= 0.3
        |ORDER BY host, template""".stripMargin),

    "q88_blocklist" -> Query((s, dir) => { // domain-suffix blocklist filter
      // the UT1-style URL filter: blocklist entries must block every
      // subdomain, so matching is a suffix-explode equi-join against a
      // DATA-sized domain list (unhinted — AQE broadcasts when it
      // fits), never a compiled predicate. Candidates get www/cdn
      // subdomains so plain host equality would keep rows the suffix
      // match correctly drops.
      val d = T(s, dir, "documents")
      val candidates = d.select(col("doc_id"),
        concat(lit("https://"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("www.")).otherwise(lit("cdn.")),
          col("source"), lit(".example.com/"), col("lang"), lit("/doc-"),
          col("doc_id")).as("url"))
      val blocklist = d
        .filter((substring(col("source"), 4, 10).cast("int") % 5) === 3)
        .select(concat(col("source"), lit(".example.com")).as("domain"))
        .distinct()
      frontier.Blocklist.keep(candidates, "url", blocklist)
        .select("doc_id").orderBy("doc_id")
    },
      // q88 oracle: an INDEPENDENT formulation of suffix matching — the
      // NOT EXISTS probe with equality-or-dot-suffix LIKE must agree with
      // the engine's explode-and-join
      oracle = """WITH c AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE 'cdn.' END)
        |    || source || '.example.com' AS host FROM documents),
        |bl AS (SELECT source || '.example.com' AS domain FROM documents
        |  WHERE CAST(substring(source, 4) AS INT) % 5 = 3 GROUP BY 1)
        |SELECT doc_id FROM c
        |WHERE NOT EXISTS (SELECT 1 FROM bl
        |  WHERE c.host = bl.domain OR c.host LIKE '%.' || bl.domain)
        |ORDER BY doc_id""".stripMargin),

    "q112_cuckoo_recrawl" -> Query((s, dir) => { // compact cuckoo seen filter + retirement
      // q80's cuckoo twin at ~1/3 the state bytes and ~80× lower fpp
      // (core/CuckooFilter — the north star names "bloom/cuckoo"): seen
      // = docs with id%4≠3; recrawl retires the id%5==2 slice of seen;
      // candidates = every doc url. Cuckoo state is built, the retired
      // slice removed entry-wise (no full-state rebuild), and candidates
      // flow through the pre-filter + exact anti-join — whose verdict is
      // exact by construction, so the oracle re-derives the readmission
      // set in pure SQL: unseen (%4==3) ∪ retired (%4≠3 ∧ %5==2).
      val withUrl = T(s, dir, "documents").select(
          col("doc_id"), docUrl.as("url"))
        .withColumn("urlHash", gf.url_id(col("url")))
      val seen = withUrl.filter(pmod(col("doc_id"), lit(4)) =!= 3)
        .select("urlHash")
      val retired = withUrl.filter(pmod(col("doc_id"), lit(4)) =!= 3 &&
        pmod(col("doc_id"), lit(5)) === 2).select("urlHash")
      val ccfg = CrawlConfig(bloomBuckets = 8)
      val state = frontier.SeenSet.retireFromCuckoo(
        frontier.SeenSet.buildCuckoos(seen, 1024L, ccfg),
        retired, 1024L, ccfg)
      val seenAfter = seen.join(retired, Seq("urlHash"), "left_anti")
      frontier.SeenSet.filterUnseenCuckoo(withUrl, seenAfter, state, ccfg)
        .select("doc_id").orderBy("doc_id")
    },
      // q112 oracle: same shape as q80's (the cuckoo pre-filter only
      // accelerates; the exact anti-join keeps the verdict exact):
      // unseen (%4==3) ∪ retired-from-seen (%4≠3 ∧ %5==2)
      oracle = """SELECT doc_id FROM documents
        |WHERE doc_id % 4 = 3 OR (doc_id % 4 <> 3 AND doc_id % 5 = 2)
        |ORDER BY doc_id""".stripMargin),

    "q114_robots_rfc" -> Query((s, dir) => { // RFC 9309 wildcard robots verdicts
      // Full Robots Exclusion Protocol (core/RobotsRules via the
      // robots_decision expr) over planted per-source robots.txt: even
      // md5-60bit source hashes publish a graftbot-specific group
      // (Disallow /files/ overridden by the LONGER Allow /files/doc-1*)
      // PLUS a blanket `User-agent: *` / `Disallow: /` group that the
      // agent match must IGNORE; odd hashes publish only a * group
      // exercising longest-match (/private/pub/ > /private/), the $
      // anchor (/*.php$), a /-crossing wildcard (/a/*/c/) and the
      // allow-wins length tie (/tie/). Paths planted by doc_id%5; the
      // oracle replays the whole decision table as closed per-rule SQL.
      val grpBot = "User-agent: graftbot\nDisallow: /files/\n" +
        "Allow: /files/doc-1*\nCrawl-delay: 3\n\nUser-agent: *\nDisallow: /\n"
      val grpStar = "User-agent: *\nDisallow: /private/\n" +
        "Allow: /private/pub/\nDisallow: /*.php$\nDisallow: /a/*/c/\n" +
        "Allow: /tie/\nDisallow: /tie/\n"
      val d = T(s, dir, "documents").select(
        col("doc_id"),
        concat(col("source"), lit(".example.com")).as("host"),
        (pmod(graft.dedup.NearDup.md5TokenHash(col("source")), lit(2)) === 0)
          .as("__grpA"),
        concat(
          when(pmod(col("doc_id"), lit(5)) === 0, lit("/private/doc-"))
            .when(pmod(col("doc_id"), lit(5)) === 1, lit("/private/pub/doc-"))
            .when(pmod(col("doc_id"), lit(5)) === 2, lit("/files/doc-"))
            .when(pmod(col("doc_id"), lit(5)) === 3,
              concat(lit("/a/x"), pmod(col("doc_id"), lit(7)).cast("string"),
                lit("/c/doc-")))
            .otherwise(lit("/tie/doc-")),
          col("doc_id").cast("string"),
          when(pmod(col("doc_id"), lit(5)) === 2, lit(".php"))
            .otherwise(lit(""))).as("path"))
      d.withColumn("__d", gf.robots_decision(
          when(col("__grpA"), lit(grpBot)).otherwise(lit(grpStar)),
          lit("graftbot"), col("path")))
        .select(col("doc_id"), col("host"), col("path"),
          col("__d.allowed").as("allowed"), col("__d.rule").as("rule"),
          col("__d.crawl_delay").as("crawl_delay"))
        .orderBy("doc_id")
    },
      // q114 oracle: the RFC 9309 decision table replayed as closed SQL —
      // group A (even md5-60bit source hash) obeys ONLY the graftbot group
      // (its blanket * Disallow:/ is ignored; /files/ loses to the longer
      // /files/doc-1* on doc-1xxx); group B applies longest-match, the
      // $-anchored /*.php$, the /-crossing /a/*/c/ and the allow-wins tie
      oracle = """WITH d AS (SELECT doc_id, source || '.example.com' AS host,
        |    CAST('0x' || substring(md5(source), 1, 15) AS BIGINT) % 2 = 0
        |      AS grpa,
        |    CASE doc_id % 5
        |      WHEN 0 THEN '/private/doc-' || doc_id
        |      WHEN 1 THEN '/private/pub/doc-' || doc_id
        |      WHEN 2 THEN '/files/doc-' || doc_id || '.php'
        |      WHEN 3 THEN '/a/x' || (doc_id % 7) || '/c/doc-' || doc_id
        |      ELSE '/tie/doc-' || doc_id END AS path
        |  FROM documents)
        |SELECT doc_id, host, path,
        |  CASE WHEN grpa THEN doc_id % 5 <> 2 OR path LIKE '/files/doc-1%'
        |       ELSE doc_id % 5 IN (1, 4) END AS allowed,
        |  CASE WHEN grpa THEN
        |      CASE WHEN doc_id % 5 = 2 THEN
        |          CASE WHEN path LIKE '/files/doc-1%' THEN '/files/doc-1*'
        |               ELSE '/files/' END
        |        ELSE NULL END
        |    ELSE CASE doc_id % 5
        |      WHEN 0 THEN '/private/'
        |      WHEN 1 THEN '/private/pub/'
        |      WHEN 2 THEN '/*.php$'
        |      WHEN 3 THEN '/a/*/c/'
        |      ELSE '/tie/' END END AS rule,
        |  CASE WHEN grpa THEN 3.0 ELSE NULL END AS crawl_delay
        |FROM d ORDER BY doc_id""".stripMargin),

    "q117_domain_budget" -> Query((s, dir) => { // registrable-domain politeness budgets
      // Per-HOST politeness (W2) is spoofable: a spam farm minting
      // subdomains multiplies its budget. Keying budgets on the
      // REGISTRABLE domain (core/PublicSuffix — the PSL eTLD+1
      // algorithm via the codegen registrable_domain expr) closes the
      // hole without merging unrelated sites under multi-label suffixes
      // or splitting platform publishers. Hosts planted by doc_id%6
      // exercise every rule class: multi-label ccTLD (subdomains
      // collapse), private platform suffix (publishers stay separate),
      // default rule, wildcard *.ck (every sub IS its own site),
      // exception !www.ck and !city.kawasaki.jp (global collapse). The
      // oracle replays the expected eTLD+1 from the planted shape, so
      // the real PSL engine must agree host-for-host. Per-domain
      // count/rank are bounded-cardinality windows; at 100 TB the
      // budget rank is W2's salted two-phase shape keyed on rdomain.
      val ds = (c: Column) => c.cast("string")
      val m6 = pmod(col("doc_id"), lit(6))
      val d = T(s, dir, "documents").select(col("doc_id"), col("source"))
        .withColumn("host",
          when(m6 === 0, concat(lit("a"), ds(pmod(col("doc_id"), lit(7))),
            lit("."), col("source"), lit(".co.uk")))
          .when(m6 === 1, concat(lit("b"), ds(pmod(col("doc_id"), lit(5))),
            lit("."), col("source"), lit(".github.io")))
          .when(m6 === 2, concat(col("source"), lit(".com")))
          .when(m6 === 3, concat(lit("c"), ds(pmod(col("doc_id"), lit(3))),
            lit("."), col("source"), lit(".ck")))
          .when(m6 === 4, concat(lit("p"), ds(pmod(col("doc_id"), lit(3))),
            lit(".www.ck")))
          .otherwise(concat(lit("x"), ds(pmod(col("doc_id"), lit(4))),
            lit(".city.kawasaki.jp"))))
        .withColumn("rdomain", gf.registrable_domain(col("host")))
      d.withColumn("domain_urls",
          count(lit(1)).over(Window.partitionBy("rdomain")))
        .withColumn("kept", row_number().over(
          Window.partitionBy("rdomain").orderBy("doc_id")) <= 3)
        .select("doc_id", "host", "rdomain", "domain_urls", "kept")
        .orderBy("doc_id")
    },
      // q117 oracle: the expected eTLD+1 replayed from the planted host
      // shape (formula-level, the q114 pattern) — co.uk/github.io
      // subdomains collapse per site, *.ck subs are each their own
      // registrable domain, the !www.ck / !city.kawasaki.jp exceptions
      // collapse globally; budget windows replayed identically
      oracle = """WITH d AS (SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'a' || (doc_id % 7) || '.' || source || '.co.uk'
        |    WHEN 1 THEN 'b' || (doc_id % 5) || '.' || source || '.github.io'
        |    WHEN 2 THEN source || '.com'
        |    WHEN 3 THEN 'c' || (doc_id % 3) || '.' || source || '.ck'
        |    WHEN 4 THEN 'p' || (doc_id % 3) || '.www.ck'
        |    ELSE 'x' || (doc_id % 4) || '.city.kawasaki.jp' END AS host,
        |  CASE doc_id % 6
        |    WHEN 0 THEN source || '.co.uk'
        |    WHEN 1 THEN source || '.github.io'
        |    WHEN 2 THEN source || '.com'
        |    WHEN 3 THEN 'c' || (doc_id % 3) || '.' || source || '.ck'
        |    WHEN 4 THEN 'www.ck'
        |    ELSE 'city.kawasaki.jp' END AS rdomain
        |  FROM documents)
        |SELECT doc_id, host, rdomain,
        |  count(*) OVER (PARTITION BY rdomain) AS domain_urls,
        |  (row_number() OVER (PARTITION BY rdomain ORDER BY doc_id)) <= 3 AS kept
        |FROM d ORDER BY doc_id""".stripMargin),

    "q125_rendezvous" -> Query((s, dir) => { // HRW/rendezvous shard assignment
      // Highest-random-weight hashing (Thaler & Ravishankar '98, the
      // consistent-hashing family): shard(key) = argmax over shards of
      // h(key, shard). Growing S → S+1 shards moves ONLY the keys the
      // new shard wins — an expected 1/(S+1) of the store, vs ~all keys
      // under mod-S — so a 100 TB bucketed page store can add shards
      // without a full rewrite. Portable md5 60-bit hash so the oracle
      // recomputes the assignment bit-for-bit; the HRW minimal-movement
      // invariant (every moved key lands on the NEW shard) is asserted
      // in-query on top of the full per-key oracle.
      val S = 16
      val asg = T(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("doc:"), col("doc_id").cast("string")).as("key"))
        .select(col("doc_id"), col("key"),
          explode(sequence(lit(0), lit(S))).as("shard")) // 0..S = S+1 candidates
        .withColumn("h", graft.dedup.NearDup.md5TokenHash(
          concat(col("key"), lit("#"), col("shard").cast("string"))))
        .groupBy("doc_id").agg(
          max(when(col("shard") < S, struct(col("h"), col("shard")))).as("b"),
          max(struct(col("h"), col("shard"))).as("a"))
        .select(col("doc_id"),
          col("b.shard").cast("long").as("shard_before"), // INT→LONG: the
          col("a.shard").cast("long").as("shard_after"))  // size()/len() lesson
        .withColumn("moved", col("shard_before") =!= col("shard_after"))
        .transform(Pin(_)) // surface + invariant check
      require(asg.filter(col("moved") && col("shard_after") =!= S).isEmpty,
        "HRW broke minimal movement: a moved key landed on an OLD shard")
      asg.orderBy("doc_id")
    },
      // q125 oracle: the full HRW assignment recomputed per key from the
      // portable md5 60-bit hash (arg_max over candidate shards at S and
      // S+1); the minimal-movement invariant is asserted in-query
      oracle = """WITH k AS (SELECT doc_id, 'doc:' || doc_id::VARCHAR AS key FROM documents),
        |c AS (SELECT doc_id, v.shard,
        |   CAST('0x' || substring(md5(key || '#' || v.shard::VARCHAR), 1, 15)
        |        AS BIGINT) AS h
        | FROM k, unnest(range(0, 17)) AS v(shard)),
        |a AS (SELECT doc_id,
        |   CAST(arg_max(shard, h) FILTER (WHERE shard < 16) AS BIGINT) AS shard_before,
        |   CAST(arg_max(shard, h) AS BIGINT) AS shard_after
        | FROM c GROUP BY doc_id)
        |SELECT doc_id, shard_before, shard_after,
        |  (shard_before <> shard_after) AS moved
        |FROM a ORDER BY doc_id""".stripMargin),

    "q149_dust_rules" -> Query((s, dir) => { // DUST rewrite-rule mining
      // Bar-Yossef et al. WWW'07 "Do not crawl in the DUST": mine the
      // substring-substitution rules that map url aliases to their
      // canonical form, so the frontier canonicalizes BEFORE fetching.
      // Alias pairs are the q97 declared-canonical universe (bare/
      // ?utm/amp variants; doc_id%5==0 declare nothing); each pair
      // yields a rule via expr/DustRule's real LCP-then-LCS strip
      // (spec-tested on arbitrary strings), support counted by one
      // hash agg, floor 5. The oracle recomputes rules + support
      // straight from the synthesis formula (the q97/q144 contract) —
      // both planted rules survive at every scale; cross-engine byte
      // order breaks the support tie ('/amp' < '?utm...').
      val pairs = T(s, dir, "documents")
        .select(col("doc_id"), docUrl.as("canon"),
          explode(array(lit("?utm_source=feed"), lit("/amp"))).as("suffix"))
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(concat(col("canon"), col("suffix")).as("page_url"),
          col("canon").as("canonical"))
      pairs
        .select(gf.dust_rule(col("page_url"), col("canonical")).as("r"))
        .groupBy(col("r.alpha").as("alpha"), col("r.beta").as("beta"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 5)
        .orderBy(col("support").desc, col("alpha"))
    },
      // q149 oracle: both planted rules + support straight from the
      // synthesis formula (never re-implements LCP in SQL — the q97
      // formula-level contract)
      oracle = """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS s
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT alpha, beta, support FROM (
        |  SELECT '?utm_source=feed' AS alpha, '' AS beta,
        |    (SELECT s FROM n) AS support
        |  UNION ALL
        |  SELECT '/amp', '', (SELECT s FROM n))
        |WHERE support >= 5
        |ORDER BY support DESC, alpha""".stripMargin),

    "q152_fairness" -> Query((s, dir) => { // Jain fairness of crawl allocation
      // Jain's index J = (Σc)² / (n·Σc²) over per-source page counts —
      // the one-number fairness monitor for crawl-budget allocation
      // (J = 1 perfectly even, → 1/n when one host hogs the crawl;
      // the politeness scheduler's KPI). Both moment sums are
      // INTEGER-exact; each is cast to double BEFORE the products
      // (the q132 overflow + parity convention). One hash agg + one
      // 1-row reduction.
      val c = T(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("c"))
      c.agg(count(lit(1)).as("n_sources"), sum(col("c")).as("total"),
          sum(col("c").cast("double") * col("c").cast("double")).as("__ss"))
        .select(col("n_sources"), col("total"),
          round(col("total").cast("double") * col("total").cast("double") /
            (col("n_sources").cast("double") * col("__ss").cast("double")),
            6).as("jain"))
    },
      // q152 oracle: integer moment sums, cast to double BEFORE the
      // products (the q132 convention)
      oracle = """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY source),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
        |   CAST(sum(c) AS BIGINT) AS total,
        |   CAST(sum(c * c) AS BIGINT) AS ss FROM c)
        |SELECT n_sources, total,
        |  round(CAST(total AS DOUBLE) * CAST(total AS DOUBLE)
        |    / (CAST(n_sources AS DOUBLE) * CAST(ss AS DOUBLE)), 6) AS jain
        |FROM m""".stripMargin)
  )
}
