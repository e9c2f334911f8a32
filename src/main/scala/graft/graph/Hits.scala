package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * HITS hubs & authorities (Kleinberg, JACM 1999) — the link-quality
 * signal complementary to [[PageRank]]: a page that LINKS to many good
 * pages (hub — listing/directory pages, exactly the reference's
 * "listing" class, navigation.py:117-131) vs a page many good hubs
 * link TO (authority — the facility detail pages worth extraction
 * budget). Same Spark shape as the PageRank loop: per iteration one
 * edge⋈score equi-join + destination hash agg per direction, L2
 * normalization kept in-plan as a 1-row aggregate crossJoin (never
 * collected), per-round localCheckpoint lineage truncation. All
 * shuffles key on a 64-bit id.
 *
 * Iteration k: a'(v) = Σ_{u→v} h(u), normalized to ‖a‖₂ = 1; then
 * h'(u) = Σ_{u→v} a(v), normalized. Nodes without in-edges get
 * authority 0, without out-edges hub 0. q103 unrolls the identical
 * iterations in SQL (the q76 oracle pattern).
 */
object Hits {

  def run(nodes: DataFrame, idCol: String,
          edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int = 4): DataFrame = {
    val ids = nodes.select(col(idCol).cast("long").as("id"))
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).localCheckpoint(false)

    def halfStep(score: DataFrame, joinKey: String, groupKey: String): DataFrame = {
      // inbound/outbound sum: edge ⋈ score on joinKey, agg on groupKey.
      // The checkpoint sits HERE, on raw — BEFORE the norm reuse — not
      // on the normalized output: the norm's crossJoin(broadcast(agg))
      // references raw twice, so with raw as a LogicalRDD leaf both
      // references are tiny; checkpointing after the norm instead makes
      // every analyzed plan carry the duplicated half-step subtree
      // (raw placement cut the q103-shaped wall 39 % against the
      // post-norm one, with identical scores at every checkpoint cadence).
      val raw = ids.join(
          e.join(score.withColumnRenamed("id", joinKey), joinKey)
            .groupBy(groupKey).agg(sum("v").as("s"))
            .withColumnRenamed(groupKey, "id")
            .hint("shuffle_hash"),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0.0)).as("v"))
        .localCheckpoint(false)
      // L2 norm as an in-plan 1-row aggregate (the PageRank N pattern)
      val norm = broadcast(raw.agg(sqrt(sum(col("v") * col("v"))).as("__norm")))
      // zero guard: an edgeless graph (or an all-zero direction) has
      // norm 0 — scores must become 0.0, not NaN/null
      raw.crossJoin(norm)
        .select(col("id"), (col("v") /
          greatest(col("__norm"), lit(java.lang.Double.MIN_VALUE))).as("v"))
    }

    var hub = ids.select(col("id"), lit(1.0).as("v")).localCheckpoint(false)
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = halfStep(hub, joinKey = "src", groupKey = "dst")
      hub = halfStep(auth, joinKey = "dst", groupKey = "src")
    }
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
