package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.text.TextOps

import Shared._

/** Queries over the synthetic link graph ([[synthGraphEdges]]): PageRank
  * and its variants, HITS, SALSA, OPIC, BFS, communities, cores,
  * triangles and neighbourhood sketches. */
object GraphQueries {

  /** Synthetic link graph over the doc ids (q76/q103/q106): docs with
    * id%10==7 are dangling; every other doc links to
    * md5_60bit("id:j") mod N for j in {1,2,3}. Hash-mixed — never raw
    * multiply-add, which Spark 4 ANSI overflow-throws on large ids —
    * using the same engine-portable md5 60-bit idiom as the simhash
    * pipeline, so the DuckDB oracles recompute the identical edge set. */
  private def synthGraphEdges(nodes: DataFrame): DataFrame = {
    val nRow = broadcast(nodes.agg(count(lit(1)).as("__n")))
    nodes.crossJoin(nRow)
      .filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(col("doc_id").as("src"),
        explode(array(lit(1L), lit(2L), lit(3L))).as("j"), col("__n"))
      .select(col("src"),
        pmod(graft.dedup.NearDup.md5TokenHash(
          concat(col("src").cast("string"), lit(":"), col("j").cast("string"))),
          col("__n")).as("dst"))
  }

  /** DuckDB mirror of [[synthGraphEdges]] — expects an `ids(id)` CTE. */
  private val synthEdgeSql =
    """e AS (SELECT id AS src,
      |   CAST('0x' || substring(md5(id::VARCHAR || ':' || v.j::VARCHAR), 1, 15)
      |        AS BIGINT) % (SELECT count(*) FROM ids) AS dst
      |  FROM ids, (VALUES (1), (2), (3)) v(j) WHERE id % 10 <> 7)""".stripMargin

  /** The `ids` + `e` CTE prefix of the graph oracles, ending in a comma. */
  private val graphCte =
    s"WITH ids AS (SELECT doc_id AS id FROM documents),\n$synthEdgeSql,"

  /** `r1` .. `r5`: 5 unrolled PageRank power iterations from `r0` over
    * `ids`, `e`, `deg` and `nn` (dangling mass via the NOT IN subselect). */
  private val pagerankIters = (1 to 5).map { k =>
    val p = s"r${k - 1}"
    s"""r$k AS (
       | SELECT ids.id,
       |   (1 - 0.85)/(SELECT n FROM nn)
       |   + 0.85*( coalesce(inb.s, 0)
       |     + (SELECT coalesce(sum(r), 0) FROM $p
       |        WHERE id NOT IN (SELECT src FROM deg)) / (SELECT n FROM nn)
       |   ) AS r
       | FROM ids LEFT JOIN (
       |   SELECT e.dst AS id, sum(p.r / deg.d) AS s
       |   FROM e JOIN $p p ON e.src = p.id JOIN deg ON deg.src = e.src
       |   GROUP BY e.dst) inb USING (id))""".stripMargin
  }.mkString(",\n")

  /** The q139/q146 exact ball expansion: `ed` and `r0` .. `r3`, where
    * `rK(id, m)` holds every m within K hops of id (MATERIALIZED — the
    * q86 DuckDB-inlining rule); ends in a comma. */
  private val ballsCte =
    """ed AS (SELECT DISTINCT src, dst FROM e),
      |r0 AS MATERIALIZED (SELECT id, id AS m FROM ids),
      |r1 AS MATERIALIZED (SELECT DISTINCT id, m FROM (
      |   SELECT id, m FROM r0
      |   UNION ALL SELECT r0.id, ed.dst AS m FROM r0
      |     JOIN ed ON ed.src = r0.m)),
      |r2 AS MATERIALIZED (SELECT DISTINCT id, m FROM (
      |   SELECT id, m FROM r1
      |   UNION ALL SELECT r1.id, ed.dst AS m FROM r1
      |     JOIN ed ON ed.src = r1.m)),
      |r3 AS MATERIALIZED (SELECT DISTINCT id, m FROM (
      |   SELECT id, m FROM r2
      |   UNION ALL SELECT r2.id, ed.dst AS m FROM r2
      |     JOIN ed ON ed.src = r2.m)),""".stripMargin

  /** Shared q76/q106 CTE prefix: the synthetic graph + 5 unrolled
    * PageRank power iterations ending in `r5`. */
  private def pagerankCte: String =
    s"""WITH nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
       |ids AS (SELECT doc_id AS id FROM documents),
       |$synthEdgeSql,
       |deg AS (SELECT src, count(*)::DOUBLE AS d FROM e GROUP BY src),
       |r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS r FROM ids),
       |$pagerankIters""".stripMargin

  val queries: Map[String, Query] = Map(
    "q76_pagerank" -> Query((s, dir) => { // link-graph PageRank (frontier priority signal)
      // deterministic directed graph over the doc ids: docs with id%10==7
      // are dangling (exercise the dangling-mass path); every other doc
      // links to md5_60bit("id:j") mod N for j ∈ {1,2,3}. The oracle
      // unrolls the identical 5 power iterations in SQL.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      graph.PageRank.run(nodes, "doc_id", edges, "src", "dst",
          damping = 0.85, iters = 5)
        .select(col("doc_id"), round(col("pagerank"), 7).as("pagerank"))
        .orderBy("doc_id")
    },
      // q76 oracle: the identical graph (id%10==7 dangling, else 3 edges to
      // md5_60bit("id:j") mod N) through 5 UNROLLED power iterations — damping,
      // dangling-mass redistribution, and teleport all recomputed in SQL;
      // both engines round the final rank to 7 dp (double sum-order ulps
      // are ~1e-16, nine orders below the rounding grain)
      // Each rK CTE recomputes (1−d)/N + d·(in-contributions + danglingMass/N)
      // from r{K-1}; constants appear as the same decimal literals Spark
      // folds ((1 - 0.85), 0.85), and every division is on exact integer
      // counts, so the only cross-engine drift is double sum order (~1e-16,
      // far under the 7-dp rounding).
      oracle = s"""$pagerankCte
         |SELECT id AS doc_id, round(r, 7) AS pagerank FROM r5
         |ORDER BY doc_id""".stripMargin),

    "q103_hits" -> Query((s, dir) => { // HITS hubs & authorities
      // the listing-vs-detail link-quality signal on the same synthetic
      // graph as q76 (docs with id%10==7 dangling); the oracle unrolls
      // the identical 4 normalized iterations in SQL.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      graph.Hits.run(nodes, "doc_id", edges, "src", "dst", iters = 4)
        .select(col("doc_id"),
          round(col("authority"), 7).as("authority"),
          round(col("hub"), 7).as("hub"))
        .orderBy("doc_id")
    },
      // q103 oracle: 4 HITS iterations unrolled — per direction one
      // edge⋈score join + agg, then L2 normalization via a scalar
      // subquery; MATERIALIZED CTEs (the q86 DuckDB-inlining lesson).
      oracle = {
        val iters = (1 to 4).map { k =>
          val h = s"h${k - 1}"
          s"""ar$k AS MATERIALIZED (
             | SELECT ids.id, coalesce(t.s, 0) AS v FROM ids LEFT JOIN (
             |   SELECT e.dst AS id, sum(x.v) AS s FROM e JOIN $h x ON e.src = x.id
             |   GROUP BY e.dst) t USING (id)),
             |a$k AS MATERIALIZED (
             | SELECT id, v / sqrt((SELECT sum(v*v) FROM ar$k)) AS v FROM ar$k),
             |hr$k AS MATERIALIZED (
             | SELECT ids.id, coalesce(t.s, 0) AS v FROM ids LEFT JOIN (
             |   SELECT e.src AS id, sum(x.v) AS s FROM e JOIN a$k x ON e.dst = x.id
             |   GROUP BY e.src) t USING (id)),
             |h$k AS MATERIALIZED (
             | SELECT id, v / sqrt((SELECT sum(v*v) FROM hr$k)) AS v FROM hr$k)""".stripMargin
        }.mkString(",\n")
        s"""$graphCte
           |h0 AS (SELECT id, 1.0 AS v FROM ids),
           |$iters
           |SELECT ids.id AS doc_id, round(a4.v, 7) AS authority,
           | round(h4.v, 7) AS hub
           |FROM ids JOIN a4 USING (id) JOIN h4 USING (id)
           |ORDER BY doc_id""".stripMargin
      }),

    "q106_rank_priority" -> Query((s, dir) => { // PageRank-budgeted frontier
      // the graph→frontier composition: global PageRank (q76 graph)
      // joined back onto the per-host frontier, top-3 docs per source
      // by rank — "spend the fetch budget on globally-linked pages",
      // the signal beyond per-URL scores. Window rank ties broken on
      // the ROUNDED rank (the q54 lesson) then doc_id.
      val docs = T(s, dir, "documents")
      val nodes = docs.select("doc_id")
      val edges = synthGraphEdges(nodes)
      val ranks = graph.PageRank.run(nodes, "doc_id", edges, "src", "dst",
          damping = 0.85, iters = 5)
        .select(col("doc_id"), round(col("pagerank"), 7).as("pr"))
      val w = Window.partitionBy("source")
        .orderBy(col("pr").desc, col("doc_id").asc)
      docs.select("doc_id", "source")
        .join(ranks.hint("shuffle_hash"), Seq("doc_id"))
        .withColumn("host_rank", row_number().over(w))
        .filter(col("host_rank") <= 3)
        .select(col("source"), col("host_rank").cast("long").as("host_rank"),
          col("doc_id"), col("pr").as("pagerank"))
        .orderBy("source", "host_rank")
    },
      // q106 oracle: the q76 ranks windowed per source — top-3 by the
      // ROUNDED rank (the q54 tie-break lesson), doc_id ascending.
      oracle = s"""$pagerankCte,
         |pr AS (SELECT id AS doc_id, round(r, 7) AS pr FROM r5),
         |j AS (SELECT d.source, d.doc_id, pr.pr,
         |   row_number() OVER (PARTITION BY d.source
         |     ORDER BY pr.pr DESC, d.doc_id) AS host_rank
         | FROM documents d JOIN pr USING (doc_id))
         |SELECT source, CAST(host_rank AS BIGINT) AS host_rank, doc_id,
         |  pr AS pagerank
         |FROM j WHERE host_rank <= 3 ORDER BY source, host_rank""".stripMargin),

    "q123_trustrank" -> Query((s, dir) => { // TrustRank seed-propagated trust
      // Personalized PageRank with the teleport concentrated on a
      // vetted seed set (Gyöngyi et al. VLDB'04): trust flows along
      // links from seeds and decays with distance — the spam-demotion
      // rank plain PageRank (q76) lacks (a link farm reachable from no
      // seed scores ≈ 0 here however densely it self-links). Same
      // deterministic q76 graph; seeds = doc_id % 17 == 3; dangling
      // mass restarts AT SEEDS (the personalized convention). Oracle =
      // the identical 5 iterations unrolled in SQL, both engines
      // rounding to 7 dp (the q76 parity argument).
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      val seeds = nodes.filter(pmod(col("doc_id"), lit(17)) === 3)
      val sRow = broadcast(seeds.agg(count(lit(1)).cast("double").as("__s")))
      val teleport = seeds.crossJoin(sRow)
        .select(col("doc_id"), (lit(1.0) / col("__s")).as("w"))
      graph.PageRank.runPersonalized(nodes, "doc_id", edges, "src", "dst",
          teleport, "w", damping = 0.85, iters = 5)
        .select(col("doc_id"),
          (pmod(col("doc_id"), lit(17)) === 3).as("is_seed"),
          round(col("trustrank"), 7).as("trustrank"))
        .orderBy("doc_id")
    },
      // q123 oracle: the q76 graph with the teleport/dangling vector
      // replaced by the seed trust distribution — 5 unrolled iterations,
      // the identical left-assoc double arithmetic, rounded at 7 dp.
      oracle = {
        val iters = (1 to 5).map { k =>
          val p = s"t${k - 1}"
          s"""t$k AS (
             | SELECT ids.id,
             |   (1 - 0.85)*dv.w
             |   + 0.85*( coalesce(inb.s, 0)
             |     + (SELECT coalesce(sum(r), 0) FROM $p
             |        WHERE id NOT IN (SELECT src FROM deg)) * dv.w
             |   ) AS r
             | FROM ids JOIN dv USING (id) LEFT JOIN (
             |   SELECT e.dst AS id, sum(p.r / deg.d) AS s
             |   FROM e JOIN $p p ON e.src = p.id JOIN deg ON deg.src = e.src
             |   GROUP BY e.dst) inb USING (id))""".stripMargin
        }.mkString(",\n")
        s"""$graphCte
           |deg AS (SELECT src, count(*)::DOUBLE AS d FROM e GROUP BY src),
           |sn AS (SELECT count(*)::DOUBLE AS n FROM ids WHERE id % 17 = 3),
           |dv AS (SELECT id, CASE WHEN id % 17 = 3
           |    THEN 1.0/(SELECT n FROM sn) ELSE 0.0 END AS w FROM ids),
           |t0 AS (SELECT id, w AS r FROM dv),
           |$iters
           |SELECT id AS doc_id, (id % 17 = 3) AS is_seed,
           |  round(r, 7) AS trustrank
           |FROM t5 ORDER BY doc_id""".stripMargin
      }),

    "q124_powerlaw" -> Query((s, dir) => { // in-degree power-law tail exponent
      // The scale-free diagnostic of the link graph (Broder et al.
      // WWW'00: web in-degrees follow a power law, α ≈ 2.1): the
      // continuous-MLE Hill/CSN estimator (Clauset, Shalizi & Newman
      // SIAM'09 eq. 3.1) α̂ = 1 + n / Σ ln(dᵢ/x_min) over the tail
      // dᵢ ≥ x_min. A crawl monitor watches α̂ drift per snapshot:
      // a collapsing exponent means a link farm / crawler trap is
      // inflating the tail. One degree agg + one 1-row agg — no
      // driver math. Σ ln > 0 is structural here (the synthetic graph
      // hashes ~3N edges over N targets, so in-degrees ≥ 3 abound).
      val nodes = T(s, dir, "documents").select("doc_id")
      val indeg = synthGraphEdges(nodes)
        .groupBy("dst").agg(count(lit(1)).as("d"))
      indeg.agg(
          count(lit(1)).as("n_linked"),
          max(col("d")).as("max_indeg"),
          count(when(col("d") >= 2, 1)).as("n_tail"),
          sum(when(col("d") >= 2, log(col("d").cast("double") / 2.0))).as("__s"))
        .select(col("n_linked"), col("max_indeg"), col("n_tail"),
          round(lit(1.0) + col("n_tail") / col("__s"), 6).as("alpha"))
    },
      // q124 oracle: the same in-degree table and CSN continuous-MLE
      // α̂ = 1 + n/Σln(d/x_min) recomputed in SQL; both engines divide
      // as DOUBLE and round α̂ at 6 dp (sum-order ulps ~1e-13)
      oracle = s"""$graphCte
         |ind AS (SELECT dst, count(*) AS d FROM e GROUP BY dst)
         |SELECT CAST(count(*) AS BIGINT) AS n_linked,
         |  CAST(max(d) AS BIGINT) AS max_indeg,
         |  CAST(count(CASE WHEN d >= 2 THEN 1 END) AS BIGINT) AS n_tail,
         |  round(1.0 + CAST(count(CASE WHEN d >= 2 THEN 1 END) AS DOUBLE)
         |    / sum(CASE WHEN d >= 2 THEN ln(CAST(d AS DOUBLE) / 2) END), 6)
         |    AS alpha
         |FROM ind""".stripMargin),

    "q126_seed_distance" -> Query((s, dir) => { // BFS hop distance from seeds
      // The discrete half of the q123 trust pair: shortest hop count
      // from any trusted seed (doc_id % 17 == 3, the SAME seed set),
      // capped at 4 levels — the crawl scheduler's "hop band" signal.
      // graph/Bfs expands only the newest frontier level per round.
      // Oracle = the identical 4 levels unrolled in SQL (integer min
      // over unions — no float parity question at all).
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      val seeds = nodes.filter(pmod(col("doc_id"), lit(17)) === 3)
      graph.Bfs.seedHops(nodes, "doc_id", edges, "src", "dst",
          seeds, maxHops = 4)
        .orderBy("doc_id")
    },
      // q126 oracle: 4 unrolled BFS levels — each level = min(hop) over
      // (previous state ∪ dst-of-last-level) — then −1 for unreached
      oracle = {
        val levels = (1 to 4).map { k =>
          s"""h$k AS (SELECT id, min(hop) AS hop FROM (
             |  SELECT id, hop FROM h${k - 1}
             |  UNION ALL
             |  SELECT e.dst AS id, ${k} AS hop
             |  FROM e JOIN h${k - 1} p ON e.src = p.id WHERE p.hop = ${k - 1}
             |) GROUP BY id)""".stripMargin
        }.mkString(",\n")
        s"""$graphCte
           |h0 AS (SELECT id, 0 AS hop FROM ids WHERE id % 17 = 3),
           |$levels
           |SELECT ids.id AS doc_id,
           |  CAST(coalesce(h4.hop, -1) AS BIGINT) AS hop
           |FROM ids LEFT JOIN h4 USING (id) ORDER BY doc_id""".stripMargin
      }),

    "q127_opic" -> Query((s, dir) => { // OPIC online page importance
      // Abiteboul et al. WWW'03: cash flows along links, history
      // accumulates it — importance (hist+cash)/(T+1) is available at
      // ANY point of the crawl, no frozen-snapshot power iteration
      // (what a frontier scheduler actually runs between rounds; q76
      // is the offline yardstick). Synchronous batch variant on the
      // q76 graph; oracle = the identical 4 rounds unrolled in SQL,
      // 7 dp (the q76 parity argument; cash conservation Σc = 1 and
      // Σimportance = 1 are structural and spec-asserted).
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      graph.Opic.run(nodes, "doc_id", edges, "src", "dst", iters = 4)
        .select(col("doc_id"), round(col("cash"), 7).as("cash"),
          round(col("hist"), 7).as("hist"),
          round(col("importance"), 7).as("importance"))
        .orderBy("doc_id")
    },
      // q127 oracle: OPIC's 4 synchronous rounds unrolled — cash inflow
      // + dangling bank each round, history accumulating the PRE-round
      // cash, importance normalized by (Σ hist + 1) — all at 7 dp
      oracle = {
        val rounds = (1 to 4).map { k =>
          val p = s"s${k - 1}"
          s"""s$k AS (
             | SELECT id,
             |   coalesce(inb.s, 0)
             |     + (SELECT coalesce(sum(c), 0) FROM $p
             |        WHERE id NOT IN (SELECT src FROM deg)) / (SELECT n FROM nn)
             |     AS c,
             |   p.h + p.c AS h
             | FROM ids JOIN $p p USING (id) LEFT JOIN (
             |   SELECT e.dst AS id, sum(p.c / deg.d) AS s
             |   FROM e JOIN $p p ON e.src = p.id JOIN deg ON deg.src = e.src
             |   GROUP BY e.dst) inb USING (id))""".stripMargin
        }.mkString(",\n")
        s"""WITH nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
           |ids AS (SELECT doc_id AS id FROM documents),
           |$synthEdgeSql,
           |deg AS (SELECT src, count(*)::DOUBLE AS d FROM e GROUP BY src),
           |s0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS c, 0.0 AS h FROM ids),
           |$rounds
           |SELECT id AS doc_id, round(c, 7) AS cash, round(h, 7) AS hist,
           |  round((h + c) / (SELECT sum(h) + 1.0 FROM s4), 7) AS importance
           |FROM s4 ORDER BY doc_id""".stripMargin
      }),

    "q128_cocitation" -> Query((s, dir) => { // co-citation related-page pairs
      // Related-page discovery by co-citation (Dean & Henzinger WWW'99,
      // after Small '73): pages cited TOGETHER by many citing pages are
      // related. The scale-safe direction is the self-join keyed on the
      // CITING page — fan-out per citer = outdeg², and outdeg is
      // page-size-bounded (~tens of links), whereas the coupling join
      // on the cited side fans out indeg², unbounded at hubs. Pairs
      // are cosine-normalized by in-degree; distinct edges first so a
      // multi-link counts once (both engines). Exact SQL oracle.
      val nodes = T(s, dir, "documents").select("doc_id")
      val e = synthGraphEdges(nodes).distinct()
        .transform(Pin(_)) // feeds the pair join AND the indegrees
      val indeg = e.groupBy("dst").agg(count(lit(1)).as("ind"))
      e.as("a").join(e.as("b"),
          col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
        .groupBy(col("a.dst").as("page_a"), col("b.dst").as("page_b"))
        .agg(count(lit(1)).as("cocite"))
        .filter(col("cocite") >= 2)
        .join(indeg.select(col("dst").as("page_a"), col("ind").as("__ia")), Seq("page_a"))
        .join(indeg.select(col("dst").as("page_b"), col("ind").as("__ib")), Seq("page_b"))
        .select(col("page_a"), col("page_b"), col("cocite"),
          round(col("cocite").cast("double") /
            sqrt((col("__ia") * col("__ib")).cast("double")), 6).as("cosine"))
        .orderBy("page_a", "page_b")
    },
      // q128 oracle: the identical distinct-edge self-join on the citing
      // page, pair counts ≥ 2, cosine over in-degrees at 6 dp
      oracle = s"""$graphCte
         |ed AS (SELECT DISTINCT src, dst FROM e),
         |ind AS (SELECT dst, count(*) AS ind FROM ed GROUP BY dst),
         |p AS (SELECT a.dst AS page_a, b.dst AS page_b, count(*) AS cocite
         |  FROM ed a JOIN ed b ON a.src = b.src AND a.dst < b.dst
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT page_a, page_b, CAST(cocite AS BIGINT) AS cocite,
         |  round(CAST(cocite AS DOUBLE) /
         |    sqrt(CAST(ia.ind * ib.ind AS DOUBLE)), 6) AS cosine
         |FROM p JOIN ind ia ON ia.dst = p.page_a JOIN ind ib ON ib.dst = p.page_b
         |ORDER BY page_a, page_b""".stripMargin),

    "q130_label_prop" -> Query((s, dir) => { // link-graph communities (LPA)
      // Raghavan-et-al label propagation, the deterministic synchronous
      // variant (min-label ties): link communities on the raw q76 graph
      // — the structure signal q104's content-overlap clusters can't
      // see. 3 rounds; oracle = the identical rounds unrolled in SQL
      // (integer counts + min-label argmax — exact, no float parity).
      // Surface adds the community size per node.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      val lab = graph.LabelProp.run(nodes, "doc_id", edges, "src", "dst",
          iters = 3)
        .transform(Pin(_)) // feeds rows + community sizes
      lab.join(lab.groupBy("label").agg(count(lit(1)).as("comm_size"))
            .hint("shuffle_hash"), Seq("label"))
        .select(col("doc_id"), col("label"), col("comm_size"))
        .orderBy("doc_id")
    },
      // q130 oracle: 3 unrolled synchronous LPA rounds — per-(dst,label)
      // inbound counts, argmax by (count DESC, label ASC), keep-own-label
      // for nodes without in-edges — then community sizes; all integer
      oracle = {
        val rounds = (1 to 3).map { k =>
          val p = s"l${k - 1}"
          s"""i$k AS (SELECT e.dst, p.lbl AS l, count(*) AS c
             |  FROM e JOIN $p p ON e.src = p.id GROUP BY 1, 2),
             |b$k AS (SELECT dst AS id, l FROM (
             |    SELECT dst, l, row_number() OVER (PARTITION BY dst
             |      ORDER BY c DESC, l) AS rn FROM i$k) WHERE rn = 1),
             |l$k AS (SELECT p.id, coalesce(b.l, p.lbl) AS lbl
             |  FROM $p p LEFT JOIN b$k b ON b.id = p.id)""".stripMargin
        }.mkString(",\n")
        s"""$graphCte
           |l0 AS (SELECT id, id AS lbl FROM ids),
           |$rounds,
           |cs AS (SELECT lbl, count(*) AS comm_size FROM l3 GROUP BY lbl)
           |SELECT l3.id AS doc_id, l3.lbl AS label,
           |  CAST(cs.comm_size AS BIGINT) AS comm_size
           |FROM l3 JOIN cs USING (lbl) ORDER BY doc_id""".stripMargin
      }),

    "q132_graph_stats" -> Query((s, dir) => { // web-graph structure monitor
      // Two one-number diagnostics a crawl monitor tracks per snapshot,
      // both with exact SQL oracles: RECIPROCITY (fraction of directed
      // edges whose reverse exists — link-exchange spam rings push it
      // up; the reverse-edge test is an equi-join on the swapped key)
      // and IN-IN degree ASSORTATIVITY over edges (the Foster et al.
      // PNAS'10 r(in,in) variant — the out-degree here is constant by
      // construction, the degenerate case for Newman's out-in r; in-
      // degrees vary at every scale, and a positive drift still flags
      // farm interconnection). Sources with no in-edges enter at
      // degree 0 (left join), the standard convention. All five moment
      // sums are integer-exact in both engines; each is cast to double
      // BEFORE the products (scale-safe at 10^10 edges where long
      // products would overflow, and parity-safe: identical IEEE op
      // sequence both sides).
      val nodes = T(s, dir, "documents").select("doc_id")
      val e = synthGraphEdges(nodes).distinct()
        .transform(Pin(_)) // feeds degrees, reciprocity, moments
      val ind = e.groupBy("dst").agg(count(lit(1)).as("idg"))
      val recip = e.as("a").join(e.as("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
        .select(count(lit(1)).as("recip_edges"))
      val xy = e
        .join(ind.select(col("dst").as("src"), col("idg").as("__xi"))
          .hint("shuffle_hash"), Seq("src"), "left")
        .join(ind.hint("shuffle_hash"), "dst")
        .select(coalesce(col("__xi"), lit(0L)).cast("double").as("x"),
          col("idg").cast("double").as("y"))
        .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      val d = (c: String) => col(c).cast("double")
      xy.crossJoin(broadcast(recip))
        .crossJoin(broadcast(e.select(count(lit(1)).as("n_edges"))))
        .crossJoin(broadcast(nodes.select(count(lit(1)).as("n_nodes"))))
        .select(col("n_nodes"), col("n_edges"), col("recip_edges"),
          round(d("recip_edges") / d("n_edges"), 6).as("reciprocity"),
          round((d("m") * d("sxy") - d("sx") * d("sy")) /
            (sqrt(d("m") * d("sxx") - d("sx") * d("sx")) *
              sqrt(d("m") * d("syy") - d("sy") * d("sy"))), 6)
            .as("assortativity"))
    },
      // q132 oracle: distinct edges, swapped-key reciprocity join, in-in
      // moment sums cast to DOUBLE before the identical Pearson formula
      oracle = s"""$graphCte
         |ed AS (SELECT DISTINCT src, dst FROM e),
         |ind AS (SELECT dst, count(*) AS idg FROM ed GROUP BY dst),
         |r AS (SELECT count(*) AS recip FROM ed a
         |  JOIN ed b ON a.src = b.dst AND a.dst = b.src),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |   CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx,
         |   CAST(sum(y*y) AS BIGINT) AS syy
         | FROM (SELECT coalesce(xi.idg, 0) AS x, yi.idg AS y
         |   FROM ed LEFT JOIN ind xi ON xi.dst = ed.src
         |     JOIN ind yi ON yi.dst = ed.dst)),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM ed)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ids) AS n_nodes,
         |  (SELECT n_edges FROM ne) AS n_edges,
         |  CAST(r.recip AS BIGINT) AS recip_edges,
         |  round(CAST(r.recip AS DOUBLE) / CAST((SELECT n_edges FROM ne) AS DOUBLE), 6)
         |    AS reciprocity,
         |  round((CAST(mm.m AS DOUBLE) * CAST(mm.sxy AS DOUBLE)
         |      - CAST(mm.sx AS DOUBLE) * CAST(mm.sy AS DOUBLE))
         |    / (sqrt(CAST(mm.m AS DOUBLE) * CAST(mm.sxx AS DOUBLE)
         |        - CAST(mm.sx AS DOUBLE) * CAST(mm.sx AS DOUBLE))
         |      * sqrt(CAST(mm.m AS DOUBLE) * CAST(mm.syy AS DOUBLE)
         |        - CAST(mm.sy AS DOUBLE) * CAST(mm.sy AS DOUBLE))), 6)
         |    AS assortativity
         |FROM r, mm""".stripMargin),

    "q133_triangles" -> Query((s, dir) => { // triangles + clustering coefficient
      // Exact per-node triangle counts + Newman local clustering over
      // the undirected view of the link graph (link-farm neighborhoods
      // are triangle-dense — the cohesion companion to q132's
      // reciprocity). graph/Triangles orients edges by the (degree, id)
      // total order (Suri-Vassilvitskii WWW'11), so each triangle is
      // produced by exactly one apex wedge closed by one equi-join —
      // never an unordered all-pairs or post-hoc dedup. The oracle
      // lists triangles from the value-ordered a<b<c edge chain (an
      // orientation-independent set, so the simple order is fine at
      // oracle scale). Coefficient = ONE double division from exact
      // ints — IEEE-identical (q105 argument); rounded 6 dp.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      graph.Triangles.perNode(nodes, "doc_id", edges, "src", "dst")
        .select(col("id").as("doc_id"), col("degree"), col("triangles"),
          round(col("clustering"), 6).as("clustering"))
        .orderBy("doc_id")
    },
      // q133 oracle: undirected simple edges (a<b canonical), triangles
      // listed once via the a<b<c edge chain, per-node credit by a
      // 3-way union; clustering = one double division from exact ints
      oracle = s"""$graphCte
         |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM e WHERE src <> dst),
         |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
         |   SELECT a AS id FROM u UNION ALL SELECT b AS id FROM u)
         |  GROUP BY id),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM u e1 JOIN u e2 ON e2.a = e1.b
         |    JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS t FROM (
         |   SELECT x AS id FROM tri UNION ALL SELECT y AS id FROM tri
         |   UNION ALL SELECT z AS id FROM tri)
         |  GROUP BY id)
         |SELECT ids.id AS doc_id,
         |  coalesce(deg.d, 0) AS degree,
         |  coalesce(tcnt.t, 0) AS triangles,
         |  round(CASE WHEN coalesce(deg.d, 0) >= 2
         |    THEN 2.0 * CAST(coalesce(tcnt.t, 0) AS DOUBLE)
         |      / (CAST(deg.d AS DOUBLE) * CAST(deg.d - 1 AS DOUBLE))
         |    ELSE 0.0 END, 6) AS clustering
         |FROM ids LEFT JOIN deg ON deg.id = ids.id
         |  LEFT JOIN tcnt ON tcnt.id = ids.id
         |ORDER BY doc_id""".stripMargin),

    "q134_kcore" -> Query((s, dir) => { // k-core dense-nucleus membership
      // Seidman k-core at k=4 over the undirected link graph — the
      // dense-nucleus extractor (link-farm seeds live in deep cores).
      // graph/KCore peels synchronously to a fixpoint (asserted within
      // 16 rounds in-query); peeling is monotone, so the oracle's
      // EXACTLY-16 unrolled SQL rounds agree — trailing rounds past
      // convergence are identities (the q86 unroll contract, with
      // MATERIALIZED CTEs so DuckDB can't inline the chain). k=4 is
      // the cascade regime on this graph: the 4-core peels in 11-13
      // rounds and keeps ~2/3 of nodes at every test scale (k=3
      // converges in 3, k=5 peels to empty). All-integer — no float
      // parity question.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      graph.KCore.membership(nodes, "doc_id", edges, "src", "dst",
          k = 4, maxRounds = 16)
        .select(col("id").as("doc_id"), col("in_core"), col("core_degree"))
        .orderBy("doc_id")
    },
      // q134 oracle: 16 unrolled synchronous peel rounds (MATERIALIZED —
      // the q86 inlining gotcha); rounds past the fixpoint are no-ops,
      // which is exactly why fixed-unroll SQL ≡ loop-to-convergence Spark
      oracle = {
        val peels = (1 to 16).map { r =>
          val p = s"n${r - 1}"
          s"""d$r AS MATERIALIZED (SELECT adj.x, count(*) AS c
             |  FROM adj JOIN $p nx ON adj.x = nx.id
             |    JOIN $p ny ON adj.y = ny.id GROUP BY adj.x),
             |n$r AS MATERIALIZED (SELECT x AS id FROM d$r WHERE c >= 4)""".stripMargin
        }.mkString(",\n")
        s"""$graphCte
           |u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |adj AS MATERIALIZED (SELECT a AS x, b AS y FROM u
           |  UNION ALL SELECT b AS x, a AS y FROM u),
           |n0 AS MATERIALIZED (SELECT DISTINCT x AS id FROM adj),
           |$peels,
           |fd AS (SELECT adj.x, CAST(count(*) AS BIGINT) AS c
           |  FROM adj JOIN n16 nx ON adj.x = nx.id
           |    JOIN n16 ny ON adj.y = ny.id GROUP BY adj.x)
           |SELECT ids.id AS doc_id, fd.c IS NOT NULL AS in_core,
           |  coalesce(fd.c, 0) AS core_degree
           |FROM ids LEFT JOIN fd ON fd.x = ids.id
           |ORDER BY doc_id""".stripMargin
      }),

    "q135_textrank" -> Query((s, dir) => { // TextRank keyword extraction
      // Mihalcea & Tarau EMNLP'04: PageRank over the word co-occurrence
      // graph (adjacent-pair window, undirected = both directed ways,
      // unweighted distinct edges) ranks corpus keywords — the
      // unsupervised keyphrase extractor a training-data pipeline runs
      // for topic tagging. Composes graph/PageRank verbatim: word nodes
      // are keyed by the portable md5 60-bit hash (the simhash idiom)
      // so the DuckDB oracle rebuilds the IDENTICAL graph, then 5
      // unrolled SQL power iterations (the q76 parity argument, 7 dp).
      // Nodes = words incident to >= 1 co-occurrence edge; every node
      // then has out-degree >= 1, so the dangling term is exactly 0.0
      // in both engines. Top-30 on the ROUNDED rank, then word (q54).
      val docs = T(s, dir, "documents")
      val bi = docs.select(
          explode(TextOps.wordNgrams(TextOps.words(col("text")), 2)).as("g"))
        .select(split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
      val und = graph.Kernel.undirected(bi, "w1", "w2")
        .transform(Pin(_)) // feeds nodes + both edge directions
      val wordIds = und.select(explode(array(col("a"), col("b"))).as("word"))
        .distinct()
        .select(col("word"),
          graft.dedup.NearDup.md5TokenHash(col("word")).as("id"))
        .transform(Pin(_)) // feeds the rank spine + the name join
      val edges = und
        .select(col("a").as("ws"), col("b").as("wd"))
        .unionByName(und.select(col("b").as("ws"), col("a").as("wd")))
        .join(wordIds.select(col("word").as("ws"), col("id").as("src"))
          .hint("shuffle_hash"), Seq("ws"))
        .join(wordIds.select(col("word").as("wd"), col("id").as("dst"))
          .hint("shuffle_hash"), Seq("wd"))
        .select("src", "dst")
        .transform(Pin(_)) // PageRank derives contrib AND dangling
                                // from edges — checkpoint so the bigram
                                // scan happens once, not per derivation
      val ranks = graph.PageRank.run(wordIds.select("id"), "id",
        edges, "src", "dst", damping = 0.85, iters = 5)
      ranks.join(wordIds.hint("shuffle_hash"), Seq("id"))
        .select(col("word"), round(col("pagerank"), 7).as("textrank"))
        .orderBy(col("textrank").desc, col("word"))
        .limit(30)
    },
      // q135 oracle: rebuild the identical word co-occurrence graph from
      // the portable md5 60-bit word ids, then 5 unrolled PageRank
      // iterations — the exact pagerankIters text pointed at the
      // word tables (dangling subselect is empty here: undirected edges
      // give every node out-degree >= 1, so the term is exactly 0.0)
      oracle = s"""WITH w AS (SELECT doc_id, $duckWords AS words FROM documents),
         |bi AS (SELECT words[i] AS w1, words[i + 1] AS w2
         |  FROM w, unnest(range(1, len(words))) AS t(i)),
         |u AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
         |  FROM bi WHERE w1 <> w2),
         |n AS (SELECT DISTINCT word FROM (
         |   SELECT a AS word FROM u UNION ALL SELECT b AS word FROM u)),
         |ids AS (SELECT word,
         |   ${md5Bits("word", 15)} AS id FROM n),
         |e AS (SELECT ia.id AS src, ib.id AS dst
         |   FROM u JOIN ids ia ON ia.word = u.a JOIN ids ib ON ib.word = u.b
         |  UNION ALL
         |  SELECT ib.id AS src, ia.id AS dst
         |   FROM u JOIN ids ia ON ia.word = u.a JOIN ids ib ON ib.word = u.b),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM ids),
         |deg AS (SELECT src, count(*)::DOUBLE AS d FROM e GROUP BY src),
         |r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS r FROM ids),
         |$pagerankIters
         |SELECT ids.word, round(r5.r, 7) AS textrank
         |FROM ids JOIN r5 USING (id)
         |ORDER BY textrank DESC, word LIMIT 30""".stripMargin),

    "q139_neighborhood_fn" -> Query((s, dir) => { // HyperANF neighborhood function
      // N(v,t) = |ball(v,t)| for t=1..3 over the link graph — the
      // reachability-growth profile (ANF KDD'02; HyperANF WWW'11).
      // graph/HyperAnf runs BOTH paths: the exact (id, member)-rows
      // loop (oracled below — 3 unrolled SQL expansions) and the
      // HLL-sketch loop whose per-node state is m bytes per round
      // regardless of ball size (the 100 TB path; register-max merges
      // via the q101 algebra). The sketch path is gated IN-QUERY
      // against the exact path: mean relative error per hop <= 2 %
      // (p=12 linear-counting regime at these ball sizes), the
      // q122/q101 estimate-vs-exact pattern. Output is the exact,
      // SQL-expressible surface.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
        .transform(Pin(_)) // feeds both the exact and sketch loops
      val exact = graph.HyperAnf.exactBalls(nodes, "doc_id", edges,
        "src", "dst", hops = 3)
      val est = graph.HyperAnf.sketchBalls(nodes, "doc_id", edges,
        "src", "dst", hops = 3)
      val err = exact.join(est, Seq("id"))
        .agg(
          avg(abs(col("est1") - col("ball1")) / col("ball1")).as("e1"),
          avg(abs(col("est2") - col("ball2")) / col("ball2")).as("e2"),
          avg(abs(col("est3") - col("ball3")) / col("ball3")).as("e3"))
        .collect()(0)
      for (i <- 0 until 3)
        require(err.getDouble(i) <= 0.02,
          s"HyperANF hop-${i + 1} mean relative error ${err.getDouble(i)} > 2%")
      exact.select(col("id").as("doc_id"),
          col("ball1"), col("ball2"), col("ball3"))
        .orderBy("doc_id")
    },
      // q139 oracle: 3 unrolled exact ball expansions (MATERIALIZED —
      // the q86 inlining rule); all-integer counts, no float parity
      oracle = s"""$graphCte
         |$ballsCte
         |b1 AS (SELECT id, CAST(count(*) AS BIGINT) AS ball1 FROM r1 GROUP BY id),
         |b2 AS (SELECT id, CAST(count(*) AS BIGINT) AS ball2 FROM r2 GROUP BY id),
         |b3 AS (SELECT id, CAST(count(*) AS BIGINT) AS ball3 FROM r3 GROUP BY id)
         |SELECT ids.id AS doc_id, b1.ball1, b2.ball2, b3.ball3
         |FROM ids JOIN b1 ON b1.id = ids.id JOIN b2 ON b2.id = ids.id
         |  JOIN b3 ON b3.id = ids.id
         |ORDER BY doc_id""".stripMargin),

    "q142_salsa" -> Query((s, dir) => { // SALSA bipartite-walk ranking
      // Lempel-Moran WWW'00: authority/hub scores as the BACK-forward
      // random walk on the bipartite support — the TKC-resistant HITS
      // variant production recommenders run. graph/Salsa does two
      // stochastic half-joins per walk per iteration (no HITS L2
      // normalization pass — the walk conserves mass by construction,
      // and the query ASSERTS Sum(a) = Sum(h) = 1 to 1e-9 in-query).
      // Oracle = the identical 4 iterations unrolled in SQL at 7 dp
      // (the q103 parity argument).
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      val r = graph.Salsa.run(nodes, "doc_id", edges, "src", "dst",
          iters = 4)
        .transform(Pin(_)) // feeds the mass assert + the output
      val sums = r.agg(sum(col("authority")).as("sa"),
        sum(col("hub")).as("sh")).collect()(0)
      require(math.abs(sums.getDouble(0) - 1.0) < 1e-9 &&
        math.abs(sums.getDouble(1) - 1.0) < 1e-9,
        s"SALSA walk leaked mass: a=${sums.getDouble(0)} h=${sums.getDouble(1)}")
      r.select(col("doc_id"), round(col("authority"), 7).as("authority"),
          round(col("hub"), 7).as("hub"))
        .orderBy("doc_id")
    },
      // q142 oracle: 4 unrolled SALSA iterations — each = two stochastic
      // half-joins per walk, identical sum(v/deg) shapes, 7 dp
      oracle = {
        val iters = (1 to 4).map { k =>
          val (pa, ph) = (s"a${k - 1}", s"h${k - 1}")
          s"""sa$k AS (SELECT ed.src AS id, sum(a.v / ind.d) AS v
             |  FROM ed JOIN $pa a ON ed.dst = a.id
             |    JOIN ind ON ind.dst = ed.dst GROUP BY ed.src),
             |a$k AS (SELECT ed.dst AS id, sum(s.v / outd.d) AS v
             |  FROM ed JOIN sa$k s ON ed.src = s.id
             |    JOIN outd ON outd.src = ed.src GROUP BY ed.dst),
             |th$k AS (SELECT ed.dst AS id, sum(h.v / outd.d) AS v
             |  FROM ed JOIN $ph h ON ed.src = h.id
             |    JOIN outd ON outd.src = ed.src GROUP BY ed.dst),
             |h$k AS (SELECT ed.src AS id, sum(t.v / ind.d) AS v
             |  FROM ed JOIN th$k t ON ed.dst = t.id
             |    JOIN ind ON ind.dst = ed.dst GROUP BY ed.src)""".stripMargin
        }.mkString(",\n")
        s"""$graphCte
           |ed AS (SELECT DISTINCT src, dst FROM e),
           |ind AS (SELECT dst, count(*)::DOUBLE AS d FROM ed GROUP BY dst),
           |outd AS (SELECT src, count(*)::DOUBLE AS d FROM ed GROUP BY src),
           |a0 AS (SELECT dst AS id,
           |   1.0 / (SELECT count(*)::DOUBLE FROM ind) AS v FROM ind),
           |h0 AS (SELECT src AS id,
           |   1.0 / (SELECT count(*)::DOUBLE FROM outd) AS v FROM outd),
           |$iters
           |SELECT ids.id AS doc_id,
           |  round(coalesce(a4.v, 0.0), 7) AS authority,
           |  round(coalesce(h4.v, 0.0), 7) AS hub
           |FROM ids LEFT JOIN a4 ON a4.id = ids.id
           |  LEFT JOIN h4 ON h4.id = ids.id
           |ORDER BY doc_id""".stripMargin
      }),

    "q146_harmonic" -> Query((s, dir) => { // truncated harmonic centrality
      // Harmonic centrality h(v) = Σ_u 1/d(v,u), hop-truncated at 3
      // (Boldi & Vigna "Axioms for centrality": THE principled
      // closeness variant for disconnected web graphs — unreachable
      // nodes contribute 0, no infinity bookkeeping). Derived EXACTLY
      // from q139's integer ball sizes: nodes at distance 1 are
      // b1 − 1 (self excluded), at 2 are b2 − b1, at 3 are b3 − b2, so
      // h = (b1−1) + (b2−b1)/2 + (b3−b2)/3 — one fixed-order formula
      // from exact ints, IEEE-identical both engines (q105), on top of
      // the same graph/HyperAnf exact loop. Rounded 6 dp.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
      val d = (c: org.apache.spark.sql.Column) => c.cast("double")
      graph.HyperAnf.exactBalls(nodes, "doc_id", edges, "src", "dst",
          hops = 3)
        .select(col("id").as("doc_id"),
          round(d(col("ball1") - 1) + d(col("ball2") - col("ball1")) / 2.0 +
            d(col("ball3") - col("ball2")) / 3.0, 6).as("harmonic"))
        .orderBy("doc_id")
    },
      // q146 oracle: the q139 ball expansion + the exact-int harmonic
      // formula (self excluded at distance 1)
      oracle = s"""$graphCte
         |$ballsCte
         |b AS (SELECT ids.id,
         |   (SELECT count(*) FROM r1 WHERE r1.id = ids.id) AS b1,
         |   (SELECT count(*) FROM r2 WHERE r2.id = ids.id) AS b2,
         |   (SELECT count(*) FROM r3 WHERE r3.id = ids.id) AS b3
         |  FROM ids)
         |SELECT id AS doc_id,
         |  round(CAST(b1 - 1 AS DOUBLE) + CAST(b2 - b1 AS DOUBLE) / 2.0
         |    + CAST(b3 - b2 AS DOUBLE) / 3.0, 6) AS harmonic
         |FROM b ORDER BY doc_id""".stripMargin),

    "q150_double_sweep" -> Query((s, dir) => { // diameter lower bound (2-sweep)
      // The standard double-sweep diameter estimate (Magnien, Latapy &
      // Habib's BFS bounds): BFS from a deterministic seed (min id),
      // take the farthest reached node (tie: min id), BFS again from
      // it — the second eccentricity is a certified LOWER bound on the
      // directed diameter within the explored 6-hop horizon. Composes
      // graph/Bfs twice with 1-ROW seed DataFrames (argmax via
      // TakeOrdered, never collected to the driver); all-integer, the
      // oracle unrolls both 6-level BFS expansions with the identical
      // tie-break.
      val nodes = T(s, dir, "documents").select("doc_id")
      val edges = synthGraphEdges(nodes)
        .transform(Pin(_)) // feeds both sweeps
      val seed = nodes.orderBy("doc_id").limit(1)
      val d1 = graph.Bfs.seedHops(nodes, "doc_id", edges, "src", "dst",
        seed, maxHops = 6)
      val far1 = d1.filter(col("hop") >= 0)
        .orderBy(col("hop").desc, col("doc_id")).limit(1)
        .transform(Pin(_)) // seeds sweep 2 AND joins the output
      val d2 = graph.Bfs.seedHops(nodes, "doc_id", edges, "src", "dst",
        far1.select("doc_id"), maxHops = 6)
      val far2 = d2.filter(col("hop") >= 0)
        .orderBy(col("hop").desc, col("doc_id")).limit(1)
      seed.select(col("doc_id").as("seed_id"))
        .crossJoin(far1.select(col("doc_id").as("far_id"),
          col("hop").as("ecc_seed")))
        .crossJoin(far2.select(col("doc_id").as("far2_id"),
          col("hop").as("diameter_lb")))
    },
      // q150 oracle: both 6-level BFS expansions unrolled (min-hop over
      // full re-expansion ≡ the engine's frontier-only BFS — both exact),
      // identical (hop DESC, id) tie-break
      oracle = {
        def sweep(pre: String, seedCte: String) = (1 to 6).map { k =>
          val p = s"$pre${k - 1}"
          s"""$pre$k AS MATERIALIZED (SELECT id, min(hop) AS hop FROM (
             |  SELECT id, hop FROM $p
             |  UNION ALL SELECT e.dst AS id, d.hop + 1 AS hop
             |   FROM e JOIN $p d ON e.src = d.id) GROUP BY id)""".stripMargin
        }.mkString(",\n") match { case levels =>
          s"""${pre}0 AS MATERIALIZED (SELECT id, 0 AS hop FROM $seedCte),
             |$levels""".stripMargin
        }
        s"""$graphCte
           |s0 AS (SELECT min(id) AS id FROM ids),
           |${sweep("a", "s0")},
           |f1 AS (SELECT id, hop FROM a6 ORDER BY hop DESC, id LIMIT 1),
           |${sweep("b", "f1")},
           |f2 AS (SELECT id, hop FROM b6 ORDER BY hop DESC, id LIMIT 1)
           |SELECT (SELECT id FROM s0) AS seed_id,
           |  f1.id AS far_id, CAST(f1.hop AS BIGINT) AS ecc_seed,
           |  f2.id AS far2_id, CAST(f2.hop AS BIGINT) AS diameter_lb
           |FROM f1, f2""".stripMargin
      })
  )
}
