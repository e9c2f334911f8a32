package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * SALSA (Lempel & Moran, WWW'00 "The stochastic approach for
 * link-structure analysis") — the random-walk cousin of HITS that
 * production recommenders actually run (it is the core of Twitter's
 * who-to-follow GraphJet ranking): authority scores are the stationary
 * distribution of a BACK-then-FORWARD walk on the bipartite hub/
 * authority support, which normalizes away the tightly-knit-community
 * (TKC) inflation HITS suffers.
 *
 * Authority step (one iteration, two half-joins):
 *   s(i)    = Σ_{i→j} a(j)/indeg(j)     — walk BACK from authority j
 *                                          to a uniform in-link hub
 *   a'(k)   = Σ_{i→k} s(i)/outdeg(i)    — walk FORWARD to a uniform
 *                                          out-link authority
 * The hub walk mirrors it (forward then back). Both transitions are
 * stochastic, so total mass is EXACTLY conserved: a walk at authority
 * j (a(j) > 0 ⇒ indeg(j) ≥ 1) always finds a hub i, and i always has
 * the out-edge i→j to leave by — no dangling leak, Σa = Σh = 1 at
 * every iteration up to float drift (the caller can assert it; the
 * driver query does).
 *
 * Scale shape: each half-step is ONE [[Kernel.gather]] (edge⋈score
 * shuffle-hash equi-join + hash agg) over an edge list that carries both
 * endpoint degrees, joined once and pinned; the two walks are two
 * [[Kernel.iterate]] loops over O(N)-row state. No normalization pass
 * is needed (unlike HITS' L2 step) because the walk is stochastic by
 * construction.
 */
object Salsa {

  /** One round of a walk over (id, v) on edges (src, dst, __ind, __outd):
    * the authority walk goes back over in-links then forward over
    * out-links; the hub walk goes forward then back. */
  private[graft] def step(e: DataFrame, authority: Boolean)(s: DataFrame): DataFrame = {
    def back(x: DataFrame) = Kernel.gather(e, x, "dst", "src")(
      sum(col("v") / col("__ind")).as("v"))
    def forward(x: DataFrame) = Kernel.gather(e, x, "src", "dst")(
      sum(col("v") / col("__outd")).as("v"))
    if (authority) forward(back(s)) else back(forward(s))
  }

  /** Pinned distinct (src, dst, __ind, __outd): each edge with the
    * in-degree of its dst and the out-degree of its src. */
  private[graft] def weightedEdges(edges: DataFrame, srcCol: String,
                                   dstCol: String): DataFrame = {
    val e = Pin(Kernel.edges(edges, srcCol, dstCol).distinct())
    Pin(e
      .join(e.groupBy("dst").agg(count(lit(1)).cast("double").as("__ind")), "dst")
      .join(e.groupBy("src").agg(count(lit(1)).cast("double").as("__outd")), "src"))
  }

  /**
   * `iters` synchronous iterations of both walks from the uniform
   * start over each walk's support. Returns (idCol, authority, hub)
   * for every node (0.0 off-support).
   */
  def run(nodes: DataFrame, idCol: String,
          edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int = 4): DataFrame = {
    val e = weightedEdges(edges, srcCol, dstCol)
    val ind = e.select("dst", "__ind").distinct()
    val outd = e.select("src", "__outd").distinct()
    // uniform start over a walk's support (n kept in-plan, a 1-row agg)
    def walk(deg: DataFrame, end: String, authority: Boolean): DataFrame =
      Kernel.iterate(
        deg.crossJoin(broadcast(deg.agg(count(lit(1)).cast("double").as("__n"))))
          .select(col(end).as("id"), (lit(1.0) / col("__n")).as("v")),
        iters)((s, _) => step(e, authority)(s))
    Kernel.nodes(nodes, idCol)
      .join(walk(ind, "dst", authority = true)
        .withColumnRenamed("v", "authority").hint("shuffle_hash"), Seq("id"), "left")
      .join(walk(outd, "src", authority = false)
        .withColumnRenamed("v", "hub").hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("authority"), lit(0.0)).as("authority"),
        coalesce(col("hub"), lit(0.0)).as("hub"))
  }
}
