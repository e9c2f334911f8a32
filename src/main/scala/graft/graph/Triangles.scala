package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/**
 * Exact triangle counting + local clustering coefficient over the
 * undirected view of a link graph — the classic web-graph cohesion
 * signal (link-farm / mirror-ring neighborhoods are triangle-dense;
 * Newman's clustering coefficient is the standard per-node form).
 *
 * Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii
 * WWW'11 "Counting triangles and the curse of the last reducer";
 * Schank & Wagner's forward algorithm). Each undirected edge {a,b} is
 * oriented from the smaller to the larger endpoint under the total
 * order (degree, id). Every triangle then has EXACTLY one "apex" node
 * with two out-edges, so:
 *
 *   wedges  = o ⋈ o on the shared apex (fan-out per node ≤ outdeg²,
 *             and orientation bounds outdeg by O(√m) — the whole point:
 *             a 10^8-degree hub contributes only its ~√m out-wedges,
 *             not indeg² pairs)
 *   close   = wedges ⋈ o on the (v,w) pair key — one equi-join; each
 *             triangle produced exactly once, no post-hoc dedup.
 *
 * Everything is equi-joins + hash aggregation: two shuffles on edge /
 * pair keys, never an all-pairs product. At 100 TB the edge list is the
 * only O(m) state; wedges are bounded by Σ outdeg² ≤ m·√m globally and
 * stream through the closure join.
 *
 * Per-node: t(v) = triangles containing v (each listed triangle credits
 * its 3 corners via one explode), c(v) = 2·t / (d·(d−1)) for d ≥ 2 else
 * 0. The coefficient is ONE double division from exact integers —
 * IEEE-identical across engines (the q105 parity argument).
 */
object Triangles {

  /**
   * Per-node (id, degree, triangles, clustering) over the undirected
   * simple graph induced by `edges` (self-loops dropped, parallel and
   * reciprocal edges collapsed). Nodes with no edges report (0, 0, 0).
   */
  def perNode(nodes: DataFrame, idCol: String,
              edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // undirected simple edges, canonical a < b; pinned: feeds degrees,
    // orientation, and closure
    val u = Pin(Kernel.undirected(Kernel.edges(edges, srcCol, dstCol)))
    val deg = Pin(u.select(col("a").as("id"))
      .unionByName(u.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d")))
    // orient under the (degree, id) total order: u -> v with u "smaller";
    // pinned: feeds BOTH sides of the wedge join + closure
    val withDeg = u
      .join(deg.select(col("id").as("a"), col("d").as("__da")).hint("shuffle_hash"), "a")
      .join(deg.select(col("id").as("b"), col("d").as("__db")).hint("shuffle_hash"), "b")
    val o = Pin(withDeg
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("v")))
    // wedges from a shared apex; the closure edge (v1,v2) exists in o for
    // exactly one of the two wedge orderings, so no pair-order predicate
    // is needed — the closure join IS the dedup.
    // shuffle-hash like every graph join here: both sides hash on random
    // 64-bit keys, sorting buys nothing (the J7 convention)
    val tri = o.as("e1")
      .join(o.as("e2").hint("shuffle_hash"),
        col("e1.u") === col("e2.u") && col("e1.v") =!= col("e2.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .join(o.select(col("u").as("y"), col("v").as("z")).hint("shuffle_hash"),
        Seq("y", "z"))
    val tcnt = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("t"))
    Kernel.nodes(nodes, idCol)
      .join(deg.hint("shuffle_hash"), Seq("id"), "left")
      .join(tcnt.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("d"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(coalesce(col("d"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("t"), lit(0L)).cast("double") /
            (col("d").cast("double") * (col("d") - 1).cast("double")))
          .otherwise(lit(0.0)).as("clustering"))
  }
}
