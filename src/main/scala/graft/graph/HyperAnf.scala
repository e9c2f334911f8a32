package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.gf
import graft.Pin

/**
 * HyperANF (Boldi, Rosa & Vigna, WWW'11): the neighborhood function
 * N(v, t) = |ball of radius t around v| for every node, with per-node
 * state compressed to ONE HyperLogLog sketch — the web-scale way to
 * compute reachability growth, effective diameter, and "how much of
 * the graph does this hub see in t clicks" (the original ANF use,
 * Palmer et al. KDD'02).
 *
 * Iteration is pure register-max algebra: B_0(v) = HLL{v};
 * B_t(v) = B_{t-1}(v) ⊔ ⨆_{v→w} B_{t-1}(w). Each round is ONE
 * edge⋈sketch shuffle-hash join (pull the successor's sketch) + ONE
 * hash agg of register-max merges ([[graft.expr.SketchMergeAgg]] — the
 * q101 incremental-state algebra; merge is idempotent/commutative/
 * associative, so partial map-side merges are free). State is m bytes
 * per node PER ROUND regardless of ball size — at 10^10 nodes the
 * exact ball materialization is O(Σ|ball|) rows (quadratic-ish on a
 * dense web graph) while the sketch path stays linear. That exchange
 * is the whole operator.
 *
 * [[exactBalls]] is the same loop with exact (id, member) rows — the
 * oracle/gate path, also the correct choice when t is small and the
 * graph sparse (the driver query outputs it and asserts the sketch
 * path's mean relative error in-query, the q122 estimate-vs-exact
 * pattern).
 */
object HyperAnf {

  /** Exact round over (id, m) ball members: add every member's successors. */
  private[graft] def exactStep(e: DataFrame)(reach: DataFrame): DataFrame =
    reach
      .unionByName(reach
        .join(e.withColumnRenamed("src", "m").hint("shuffle_hash"), "m")
        .select(col("id"), col("dst").as("m")))
      .distinct()

  /** Sketch round over (id, sketch): pull each successor's sketch, then
    * register-max merge. */
  private[graft] def sketchStep(e: DataFrame)(ball: DataFrame): DataFrame = {
    val pulled = e
      .join(ball.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst")
      .select(col("src").as("id"), col("sketch"))
    ball.unionByName(pulled)
      .groupBy("id").agg(gf.hll_merge_agg(col("sketch")).as("sketch"))
  }

  /** B_0(v) = HLL{v}. */
  private[graft] def sketchStart(ids: DataFrame): DataFrame =
    ids.groupBy("id").agg(gf.hll_agg(xxhash64(col("id"))).as("sketch"))

  /** The node spine with one column per round t = 1..hops,
    * `measure(ball_t, t)` (an (id, value) frame), over distinct edges. */
  private def balls(nodes: DataFrame, idCol: String, edges: DataFrame,
                    srcCol: String, dstCol: String, hops: Int)(
      start: DataFrame => DataFrame, step: DataFrame => DataFrame => DataFrame)(
      measure: (DataFrame, Int) => DataFrame): DataFrame = {
    val ids = Kernel.nodes(nodes, idCol)
    val e = Pin(Kernel.edges(edges, srcCol, dstCol).distinct())
    Kernel.rounds(start(ids), hops)((s, _) => step(e)(s)).zipWithIndex.tail
      .foldLeft(ids) { case (out, (ball, t)) =>
        out.join(measure(ball, t).hint("shuffle_hash"), Seq("id"))
      }
  }

  /** Exact |ball(v, t)| for t = 1..hops: (id, ball1..ballH). */
  def exactBalls(nodes: DataFrame, idCol: String,
                 edges: DataFrame, srcCol: String, dstCol: String,
                 hops: Int): DataFrame =
    balls(nodes, idCol, edges, srcCol, dstCol, hops)(
        _.withColumn("m", col("id")), exactStep) { (reach, t) =>
      reach.groupBy("id").agg(count(lit(1)).as(s"ball$t"))
    }

  /** HLL-sketched N(v, t) estimates for t = 1..hops: (id, est1..estH). */
  def sketchBalls(nodes: DataFrame, idCol: String,
                  edges: DataFrame, srcCol: String, dstCol: String,
                  hops: Int): DataFrame =
    balls(nodes, idCol, edges, srcCol, dstCol, hops)(sketchStart, sketchStep) {
      (ball, t) =>
        ball.select(col("id"), gf.hll_estimate(col("sketch")).as(s"est$t"))
    }
}
