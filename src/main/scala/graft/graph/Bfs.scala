package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Multi-source BFS hop distance over a directed link graph — "how many
 * clicks from a trusted seed is this page". The discrete companion to
 * [[PageRank.runPersonalized]]: TrustRank weights by ALL paths with
 * decay, hop distance takes the single shortest one; together they are
 * the classic seed-anchored crawl-scheduling pair (crawl frontier
 * ordered by seed proximity — Cho, Garcia-Molina & Page 1998 §4's
 * "backlink/depth" family, with the seed set as the trust anchor).
 *
 * Level-synchronous frontier expansion on [[Kernel.iterate]]: the
 * distance state is O(N) rows of (id, hop); each level ([[step]]) is ONE
 * edge⋈state equi-join on src (shuffle-hash — random 64-bit keys, the
 * J7 convention) + one min-agg, and the kernel pins every level so
 * lineage stays flat. `maxHops` bounds the rounds (a web frontier
 * schedules in hop bands anyway); nodes unreached within the cap report
 * hop = −1, NOT "∞", so the caller can band on it directly.
 *
 * At 10^10 nodes each level shuffles only the CURRENT frontier's
 * out-edges (the join filters state to the last level before touching
 * edges) — the textbook Pregel-without-Pregel BFS on DataFrames.
 */
object Bfs {

  /** Level `level`: expand ONLY the last level's frontier. Anything
    * discovered earlier already holds a shorter hop, so re-expanding it
    * can never improve a min — and would shuffle dead weight. */
  private[graft] def step(e: DataFrame)(dist: DataFrame, level: Int): DataFrame = {
    val next = e
      .join(dist.filter(col("hop") === (level - 1))
        .withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
      .select(col("dst").as("id"), lit(level.toLong).as("hop"))
    dist.unionByName(next)
      .groupBy("id").agg(min(col("hop")).as("hop"))
  }

  /**
   * Shortest hop count (0 = seed) from any seed within `maxHops`;
   * nodes not reached get hop = −1. `seeds` is (idCol) rows ⊆ nodes.
   * Returns (idCol, hop: long).
   */
  def seedHops(nodes: DataFrame, idCol: String,
               edges: DataFrame, srcCol: String, dstCol: String,
               seeds: DataFrame, maxHops: Int = 4): DataFrame = {
    val e = Pin(Kernel.edges(edges, srcCol, dstCol))
    val dist = Kernel.iterate(
      Kernel.nodes(seeds, idCol).withColumn("hop", lit(0L)), maxHops)(step(e))
    Kernel.nodes(nodes, idCol).join(dist.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("hop"), lit(-1L)).as("hop"))
  }
}
