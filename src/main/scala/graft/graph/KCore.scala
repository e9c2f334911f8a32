package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/**
 * k-core decomposition (membership at a fixed k) over the undirected
 * view of a link graph — Seidman's classic cohesion filter ("Network
 * structure and minimum degree", Social Networks 1983). The k-core is
 * the maximal induced subgraph where every node keeps degree ≥ k; it is
 * the standard "dense nucleus" extractor for link-farm and community
 * seeds, and the peel depth is a spam/centrality signal.
 *
 * Algorithm: synchronous iterative peeling. Each round drops every node
 * whose degree IN THE SURVIVING SUBGRAPH is < k; the survivor set is
 * monotone decreasing, so a round that removes nothing is a fixpoint —
 * and further rounds are identities. That idempotence is the oracle
 * contract: the engine loops to convergence (asserting it happens
 * within `maxRounds`), the SQL oracle unrolls exactly `maxRounds`
 * rounds, and the trailing no-op rounds make the two agree.
 *
 * Scale shape: state is the surviving adjacency (≤ 2m rows); each round
 * ([[peel]]) is one hash aggregation (degrees) + two shuffle-hash
 * semi-joins (induce the subgraph), run by [[Kernel.fixpoint]], which
 * pins every round so lineage stays flat. The only driver-side value
 * per round is the surviving adjacency COUNT, taken by [[graft.Pin.count]]
 * (the job that also settles the round's pin; the adjacency only
 * shrinks, so an unchanged count is the fixpoint), never the set. Peel
 * rounds on web graphs are few (degeneracy ordering converges in
 * O(log n) synchronous rounds in practice); the cap makes the cost
 * explicit.
 */
object KCore {

  /** Undirected simple adjacency, both directions: (x, y) and (y, x). */
  private[graft] def adjacency(edges: DataFrame, srcCol: String,
                               dstCol: String): DataFrame = {
    val und = Kernel.undirected(Kernel.edges(edges, srcCol, dstCol))
    und.select(col("a").as("x"), col("b").as("y"))
      .unionByName(und.select(col("b").as("x"), col("a").as("y")))
  }

  /** One peel round: drop every adjacency row with an endpoint of degree
    * < k in the current adjacency. */
  private[graft] def peel(k: Int)(adj: DataFrame): DataFrame = {
    val keep = adj.groupBy("x").agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= k).select(col("x").as("id"))
    adj
      .join(keep.select(col("id").as("x")).hint("shuffle_hash"), Seq("x"), "semi")
      .join(keep.select(col("id").as("y")).hint("shuffle_hash"), Seq("y"), "semi")
  }

  /**
   * Membership of the k-core: (id, in_core, core_degree) for every
   * node, where core_degree is the node's degree inside the final core
   * subgraph (0 outside). Throws if peeling has not converged within
   * `maxRounds` synchronous rounds (the oracle unrolls exactly
   * `maxRounds`).
   */
  def membership(nodes: DataFrame, idCol: String,
                 edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, maxRounds: Int = 10): DataFrame = {
    val core = Kernel.fixpoint(adjacency(edges, srcCol, dstCol),
      "maxRounds", maxRounds, "k-core peeling")(a => Pin.count(Seq(a)).head._1)(peel(k))
    val coreDeg = core.groupBy("x").agg(count(lit(1)).as("core_degree"))
      .select(col("x").as("id"), col("core_degree"))
    Kernel.nodes(nodes, idCol).join(coreDeg.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        col("core_degree").isNotNull.as("in_core"),
        coalesce(col("core_degree"), lit(0L)).as("core_degree"))
  }
}
