package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.graph.Kernel

/**
 * Duplicate-cluster resolution: connected components over the near-dup
 * pair graph. Pairwise dedup (MinHash/SimHash/winnowing emit pairs; the
 * drop rule keeps rows not dominated by a lower id) under-deduplicates
 * transitive chains: A~B and B~C but A!~C leaves C in the corpus even
 * though it duplicates B. True dedup groups the PAIR GRAPH into
 * components and keeps one representative per component — the shape
 * every production near-dup pipeline (and the reference's ring-buffer
 * dedup, deduplicator.py:86-122, which is transitively closed by
 * construction within its window) actually wants.
 *
 * Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
 * "Connected Components in MapReduce and Beyond") — the O(log n)-round
 * label-free CC algorithm whose per-round work is two key-partitioned
 * aggregate+join passes over the CURRENT edge set:
 *
 *   large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
 *   small-star(u): m = min(N⁻(u) ∪ {u}); emit (v, m) for
 *                  v ∈ (N⁻(u) ∪ {u}) \ {m}      (N⁻ = neighbors < u)
 *
 * Each pass is groupBy(src).min + a same-key join back — no
 * collect_list (a hot node's neighborhood never materializes in one
 * row), no driver state, edges only shrink toward stars. Termination =
 * edge-set fixed point, detected by a (count, bit_xor(xxhash64)) digest
 * (one action per round; bit_xor cannot overflow under ANSI, a plain
 * sum of hashes can). The loop is the graph family's
 * [[graft.graph.Kernel.fixpoint]], which pins every round.
 *
 * Scale: the edge set is O(duplicate pairs) — orders of magnitude
 * smaller than the corpus — and every shuffle is on a 64-bit id. A
 * pathological star/chain of any diameter converges in O(log n) rounds
 * (the spec plants a 64-node path and a shuffled clique).
 */
object DupClusters {

  /** (src, dst) view with both directions of each canonical (a < b) edge. */
  private def bidir(c: DataFrame): DataFrame =
    c.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(c.select(col("b").as("src"), col("a").as("dst")))

  private def largeStar(c: DataFrame): DataFrame = {
    val e = bidir(c)
    val mins = e.groupBy("src").agg(min("dst").as("mn"))
    e.join(mins, "src")
      .filter(col("dst") > col("src"))
      // m = min(N(u) ∪ {u}) ≤ u < v, so (m, v) is already canonical
      .select(least(col("src"), col("mn")).as("a"), col("dst").as("b"))
      .distinct()
  }

  private def smallStar(c: DataFrame): DataFrame = {
    val e = bidir(c).filter(col("dst") < col("src")) // N⁻ views only
    val mins = e.groupBy("src").agg(min("dst").as("mn"))
    e.join(mins, "src")
      .select(col("mn").as("a"), col("dst").as("b")) // small neighbors → m
      .unionByName(mins.select(col("mn").as("a"), col("src").as("b"))) // u → m
      .filter(col("a") =!= col("b")) // v = m itself emits nothing
      .distinct()
  }

  private def digest(c: DataFrame): (Long, Long) = {
    val r = c.agg(count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /**
   * Connected components of an undirected edge list. Returns
   * (id, component) for every node incident to ≥ 1 edge, where
   * `component` is the smallest node id in the component — the
   * deterministic min-id representative every dedup in this repo keeps.
   * Isolated docs (no duplicate edges) are by definition their own
   * survivors and are not emitted. Throws an `IllegalArgumentException`
   * if the edge set has not reached its fixed point within `maxIters`
   * rounds.
   */
  def components(edges: DataFrame, idACol: String = "idA",
                 idBCol: String = "idB", maxIters: Int = 30): DataFrame = {
    val c = Kernel.fixpoint(
        Kernel.undirected(Kernel.edges(edges, idACol, idBCol)),
        "maxIters", maxIters, "DupClusters.components")(digest)(
        s => smallStar(largeStar(s)))
    // fixed point = disjoint stars centered at each component's min id
    c.select(col("b").as("id"), col("a").as("component"))
      .unionByName(c.select(col("a").as("id"), col("a").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Corpus minus all non-representative cluster members: exactly one
    * (min-id) survivor per duplicate cluster, every isolated doc kept. */
  def survivors(docs: DataFrame, idCol: String, edges: DataFrame): DataFrame =
    docs.join(
      components(edges).filter(col("id") =!= col("component"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Cluster summary: (component, size) with size ≥ 2. */
  def clusterSizes(edges: DataFrame): DataFrame =
    components(edges).groupBy("component").agg(count(lit(1)).as("size"))

  /**
   * Representative-by-rule survivors: keeps, per duplicate cluster, the
   * member maximizing `rank(docs)` (ties → smallest id) — production
   * dedup keeps the BEST copy (longest text, highest quality), not the
   * smallest id. Isolated docs are always kept. One argmax hash agg per
   * component: max(struct(rank, -id)) — deterministic under ties.
   */
  def survivorsBy(docs: DataFrame, idCol: String, edges: DataFrame,
                  rank: Column): DataFrame = {
    val comp = components(edges)
    val chosen = docs
      .join(comp, docs(idCol) === comp("id"))
      .groupBy("component")
      .agg(max(struct(rank.as("r"), (-col("id")).as("negId"))).as("__best"))
      .select((-col("__best.negId")).as("__keep"))
    // no broadcast hint: the dup set is unbounded at corpus scale — AQE
    // picks broadcast when it fits, same as survivors()
    val dropIds = comp.join(chosen, comp("id") === chosen("__keep"), "left_anti")
      .select(col("id").as(idCol))
    docs.join(dropIds, Seq(idCol), "left_anti")
  }

  /**
   * Leakage-free train/val/test split: assign the split by the doc's
   * duplicate-CLUSTER representative, not the doc itself, so near-dup
   * copies can never straddle train and eval (the train/test-leakage
   * hole a plain per-doc hash split leaves open — a doc's paraphrase in
   * the val set is contamination, and near-dup clusters are exactly the
   * paraphrase sets). Isolated docs use their own id — for them this
   * degrades to [[graft.text.Sampling.hashSplit]] exactly.
   *
   * Adds `split_key` (the cluster-min id, or the doc id if isolated) and
   * `split`. Deterministic and append-stable in the same sense as
   * hashSplit, with the one caveat inherent to the problem: a NEW edge
   * that merges two clusters can move docs to the merged representative's
   * split — that is the leakage-free property doing its job.
   *
   * Scale shape: [[components]] runs over the edge set only (O(dups),
   * ≪ corpus); the corpus pays one left join against that component map
   * (AQE broadcasts it when it fits) and a scalar split projection —
   * the corpus is never shuffled.
   */
  def leakageFreeSplit(docs: DataFrame, idCol: String, edges: DataFrame,
                       trainFrac: Double, valFrac: Double): DataFrame = {
    val comp = components(edges)
    val keyed = docs
      .join(comp, docs(idCol) === comp("id"), "left")
      .withColumn("split_key",
        coalesce(col("component"), col(idCol).cast("long")))
      .drop("id", "component")
    graft.text.Sampling.hashSplit(keyed, "split_key", trainFrac, valFrac)
  }
}
