package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * HITS hubs & authorities (Kleinberg, JACM 1999) — the link-quality
 * signal complementary to [[PageRank]]: a page that LINKS to many good
 * pages (hub — listing/directory pages, exactly the reference's
 * "listing" class, navigation.py:117-131) vs a page many good hubs
 * link TO (authority — the facility detail pages worth extraction
 * budget). Each half-step is one [[Kernel.gather]] (edge⋈score
 * equi-join + hash agg on the other endpoint); the L2 normalization is
 * kept in-plan as a 1-row aggregate crossJoin (never collected). All
 * shuffles key on a 64-bit id.
 *
 * Iteration k: a'(v) = Σ_{u→v} h(u), normalized to ‖a‖₂ = 1; then
 * h'(u) = Σ_{u→v} a(v), normalized. Nodes without in-edges get
 * authority 0, without out-edges hub 0. q103 unrolls the identical
 * iterations in SQL (the q76 oracle pattern).
 */
object Hits {

  /** L2-normalized scores; an all-zero (or edgeless) direction has norm
    * 0, and its scores become 0.0, not NaN/null. */
  private def normalize(raw: DataFrame): DataFrame =
    raw.crossJoin(broadcast(raw.agg(sqrt(sum(col("v") * col("v"))).as("__norm"))))
      .select(col("id"), (col("v") /
        greatest(col("__norm"), lit(java.lang.Double.MIN_VALUE))).as("v"))

  /**
   * Half-step t over (id, v): odd t sums hubs into authorities, even t
   * authorities into hubs. The state is the RAW (pre-norm) sum, so the
   * kernel pins raw: the norm's crossJoin(broadcast(agg)) references raw
   * twice, and with raw as a checkpointed leaf both references are tiny
   * (pinning the normalized frame instead makes every plan carry the
   * duplicated half-step subtree; raw placement cut the q103-shaped wall
   * 39 %). Half-step 1 reads the all-ones start as is.
   */
  private[graft] def step(ids: DataFrame, e: DataFrame)(
      raw: DataFrame, t: Int): DataFrame = {
    val (on, by) = if (t % 2 == 1) ("src", "dst") else ("dst", "src")
    val sums = Kernel.gather(e, if (t == 1) raw else normalize(raw), on, by)(
      sum("v").as("s"))
    ids.join(sums.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("s"), lit(0.0)).as("v"))
  }

  def run(nodes: DataFrame, idCol: String,
          edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int = 4): DataFrame = {
    require(iters >= 1, s"Hits.run: iters must be >= 1, got $iters")
    val ids = Kernel.nodes(nodes, idCol)
    val e = Pin(Kernel.edges(edges, srcCol, dstCol))
    val Seq(auth, hub) = Kernel.rounds(ids.withColumn("v", lit(1.0)), 2 * iters)(
      step(ids, e)).takeRight(2).map(normalize)
    // shuffle-hash like the iteration joins: both sides O(N) on a random
    // 64-bit id — sorting buys nothing (the J7 convention; PlanGuardSpec
    // flags the unhinted form as a static SortMergeJoin)
    ids.join(auth.withColumnRenamed("v", "authority").hint("shuffle_hash"),
        Seq("id"), "left")
      .join(hub.withColumnRenamed("v", "hub").hint("shuffle_hash"),
        Seq("id"), "left")
      .select(col("id").as(idCol), col("authority"), col("hub"))
  }
}
