package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Synchronous label propagation (Raghavan, Albert & Kumara, Phys.Rev.E
 * '07) — near-linear community detection on the RAW link graph: each
 * round every node adopts the most frequent label among its in-
 * neighbors. Communities emerge without a similarity metric, which is
 * what q104's mirror clusters (CC over content-overlap edges) can't
 * give on link structure alone — the web use is grouping link farms /
 * mutually-promoting site clusters for whole-community demotion.
 *
 * Determinism (the paper's async coin-flips are a non-starter for an
 * oracle-checked engine): SYNCHRONOUS rounds, ties broken by the
 * SMALLEST label, nodes with no in-edges keep their label. The result
 * is then a pure function of (graph, iters), identical in any engine —
 * the price is the textbook bipartite oscillation risk, bounded here
 * by the fixed iteration count (label cascades settle by min-label
 * dominance; the spec pins both clique convergence and a naive-
 * simulation differential).
 *
 * Scale shape: per round ([[step]]) ONE [[Kernel.gather]] (edge⋈label
 * shuffle-hash join + (dst,label) hash agg), one per-dst argmax agg (max
 * over (count, −label) structs — an aggregation, not a window sort) and
 * one state⋈messages join; the kernel pins the state every round.
 * Label state is O(N) (id, long) rows and always holds every node.
 */
object LabelProp {

  /** One synchronous round over (id, lbl): each node takes the argmax of
    * its in-neighbors' labels; nodes with no in-edges keep theirs. */
  private[graft] def step(e: DataFrame)(lab: DataFrame): DataFrame = {
    val best = Kernel.gather(e, lab.select(col("id"), col("lbl").as("l")),
        "src", "dst", "l")(count(lit(1)).as("c"))
      // argmax by (count, −label): max struct = highest count, then
      // lowest label (ids are doc-scale longs — negation is safe; the
      // ANSI hash-mix rule concerns HASH arithmetic, not small ids)
      .groupBy("id").agg(max(struct(col("c"), (-col("l")).as("nl"))).as("m"))
      .select(col("id"), (-col("m.nl")).as("__new"))
    lab.join(best.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__new"), col("lbl")).as("lbl"))
  }

  /** Labels after `iters` synchronous rounds (init: own id). Returns
    * (idCol, label). */
  def run(nodes: DataFrame, idCol: String,
          edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int = 3): DataFrame = {
    val e = Pin(Kernel.edges(edges, srcCol, dstCol))
    Kernel.iterate(Kernel.nodes(nodes, idCol).withColumn("lbl", col("id")),
        iters)((lab, _) => step(e)(lab))
      .select(col("id").as(idCol), col("lbl").as("label"))
  }
}
