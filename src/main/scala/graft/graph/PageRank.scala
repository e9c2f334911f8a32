package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * PageRank power iteration over a directed link graph — the classic
 * link-analysis signal a crawl frontier uses to prioritize fetches
 * beyond per-URL heuristics (OPIC/PageRank-ordered crawling; Cho,
 * Garcia-Molina & Page 1998). The reference's `url_scorer.py:44-101`
 * scores each URL in isolation; at web scale the missing ingredient is
 * exactly the global link-graph signal this computes.
 *
 * Semantics (standard): with damping d over node set V (|V| = N),
 *
 *   r₀(v)    = 1/N
 *   rₜ₊₁(v) = (1−d)/N + d·( Σ_{u→v} rₜ(u)/outdeg(u)  +  Dₜ/N )
 *
 * where Dₜ = Σ over dangling nodes (outdeg 0) of rₜ(u) — the dangling
 * mass is redistributed uniformly, so Σ r = 1 is invariant at every
 * iteration (the spec asserts it).
 *
 * One power-iteration body ([[step]]) serves [[run]], [[runPersonalized]]
 * and [[Opic.run]]; they differ only in the teleport (x/N or x·d(v)), the
 * damping and the columns they carry. Scale shape: the contribution
 * skeleton (src, dst, 1/outdeg) and the dangling set are computed once
 * and pinned. The state is O(N) rows of (id, teleport, r), pinned every
 * round by [[Kernel.iterate]]; each round is one gather (edge⋈rank
 * shuffle-hash join on src + hash agg on dst), one state⋈inbound join
 * and one 1-row dangling-mass agg crossJoined back (never collected to
 * the driver). Every shuffle is on a 64-bit id; no driver state.
 */
object PageRank {

  /**
   * A prepared power iteration: the pinned (src, dst, __w = 1/outdeg)
   * skeleton, the pinned dangling ids, the unpinned start state
   * (id, __t, r) and the teleport share of a mass x (`tele(x)`).
   */
  private[graft] final case class Walk(contrib: DataFrame, dangling: DataFrame,
                                       start: DataFrame, tele: Column => Column)

  private def walk(ids: DataFrame, edges: DataFrame, start: DataFrame,
                   tele: Column => Column): Walk = {
    val deg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("__deg"))
    Walk(
      Pin(edges.join(deg, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("__deg")).as("__w"))),
      // nodes with no out-edges (their whole rank is dangling mass)
      Pin(ids.join(deg.select(col("src").as("id")), Seq("id"), "left_anti")),
      start, tele)
  }

  /** Uniform teleport: __t = N (a 1-row in-plan aggregate, never a
    * driver collect), r₀ = 1/N, tele(x) = x/N. */
  private[graft] def uniform(nodes: DataFrame, idCol: String, edges: DataFrame,
                             srcCol: String, dstCol: String): Walk = {
    val ids = Kernel.nodes(nodes, idCol)
    val start = ids
      .crossJoin(broadcast(ids.agg(count(lit(1)).cast("double").as("__t"))))
      .select(col("id"), col("__t"), (lit(1.0) / col("__t")).as("r"))
    walk(ids, Kernel.edges(edges, srcCol, dstCol), start, _ / col("__t"))
  }

  /** Personalized teleport: __t = d(v), r₀ = d(v), tele(x) = x·d(v). */
  private[graft] def personalized(nodes: DataFrame, idCol: String,
                                  edges: DataFrame, srcCol: String, dstCol: String,
                                  teleport: DataFrame, wCol: String): Walk = {
    val ids = Kernel.nodes(nodes, idCol)
    // the teleport vector is joined once into the start state and rides
    // it from round to round — never collected or broadcast whole
    val start = ids
      .join(teleport.select(col(idCol).cast("long").as("id"),
        col(wCol).cast("double").as("__d")).hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__d"), lit(0.0)).as("__t"))
      .withColumn("r", col("__t"))
    walk(ids, Kernel.edges(edges, srcCol, dstCol), start, _ * col("__t"))
  }

  /**
   * One power-iteration round over state (id, __t, r, …):
   * r' = tele(1−d) + d·(in + tele(D)). `carry` adds columns computed
   * from the previous state (OPIC's history).
   */
  private[graft] def step(w: Walk, damping: Double, carry: Column*)(
      s: DataFrame): DataFrame = {
    val dMass = broadcast(
      w.dangling.join(s, "id").agg(coalesce(sum("r"), lit(0.0)).as("__dm")))
    val inbound = Kernel.gather(w.contrib, s.select(col("id"), col("r")),
      "src", "dst")(sum(col("r") * col("__w")).as("__in"))
    s.join(inbound.hint("shuffle_hash"), Seq("id"), "left")
      .crossJoin(dMass)
      .select(Seq(col("id"), col("__t"),
        (w.tele(lit(1.0) - damping) +
          lit(damping) * (coalesce(col("__in"), lit(0.0)) +
            w.tele(col("__dm")))).as("r")) ++ carry: _*)
  }

  private def iterate(w: Walk, damping: Double, iters: Int): DataFrame =
    Kernel.iterate(w.start, iters)((s, _) => step(w, damping)(s))

  /**
   * Ranks after `iters` power iterations. `nodes` must contain every
   * vertex exactly once in column `idCol`; `edges` is the directed edge
   * list (srcCol, dstCol) — multi-edges count multiply, self-loops are
   * legal. Returns (idCol, pagerank) with pagerank UNROUNDED (callers
   * round for cross-engine comparison).
   */
  def run(nodes: DataFrame, idCol: String,
          edges: DataFrame, srcCol: String, dstCol: String,
          damping: Double = 0.85, iters: Int = 5): DataFrame =
    iterate(uniform(nodes, idCol, edges, srcCol, dstCol), damping, iters)
      .select(col("id").as(idCol), col("r").as("pagerank"))

  /**
   * TrustRank / personalized PageRank (Gyöngyi, Garcia-Molina &
   * Pedersen, VLDB'04): the teleport is a TRUST DISTRIBUTION over a
   * seed set instead of uniform — trust flows out along links from
   * vetted seeds and decays with distance, so link-spam farms that
   * inflate plain PageRank (no path from any seed) score ≈ 0. The
   * crawl-side use is seed-anchored frontier prioritization and spam
   * demotion, the paper's motivating deployment.
   *
   *   t₀(v)    = d(v)
   *   tₜ₊₁(v) = (1−α)·d(v) + α·( Σ_{u→v} tₜ(u)/outdeg(u) + Dₜ·d(v) )
   *
   * where d is the normalized teleport vector (Σd = 1) and Dₜ the
   * dangling mass — redistributed BY d (the personalized convention:
   * a random surfer who falls off a dangling page restarts at a seed),
   * so Σt = 1 is invariant at every iteration (spec-asserted). With
   * uniform d = 1/N this reduces to [[run]] — the spec proves the two
   * agree at float-sum tolerance.
   *
   * Same body as [[run]]: the teleport vector is O(N) rows joined once
   * into the start state (never collected/broadcast as a whole — seeds
   * can number millions at web scale).
   *
   * `teleport`: (idCol, wCol) rows for nodes with NON-ZERO teleport
   * weight (missing ids ⇒ 0); caller guarantees Σw = 1.
   */
  def runPersonalized(nodes: DataFrame, idCol: String,
                      edges: DataFrame, srcCol: String, dstCol: String,
                      teleport: DataFrame, wCol: String,
                      damping: Double = 0.85, iters: Int = 5): DataFrame =
    iterate(personalized(nodes, idCol, edges, srcCol, dstCol, teleport, wCol),
        damping, iters)
      .select(col("id").as(idCol), col("r").as("trustrank"))
}
