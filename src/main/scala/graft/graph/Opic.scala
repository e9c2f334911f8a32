package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * OPIC — Online Page Importance Computation (Abiteboul, Preda & Cobena,
 * WWW'03) — the importance signal a crawler can maintain DURING the
 * crawl: each page holds CASH (current attention) and HISTORY (all cash
 * that ever flowed through it). Visiting a page moves its cash to its
 * out-neighbors; importance after any prefix of work is
 * (history + cash) / (total history + 1) — no stop-the-world power
 * iteration over a frozen snapshot, which is why frontier schedulers
 * prefer it over recomputing PageRank (q76) between rounds.
 *
 * This is the SYNCHRONOUS batch variant (the paper's §2 baseline; every
 * page distributes each round — one matrix multiply):
 *
 *   C₀(v) = 1/N,  H₀(v) = 0
 *   Cₜ₊₁(v) = Σ_{u→v} Cₜ(u)/outdeg(u) + Dₜ/N      (Dₜ = dangling cash)
 *   Hₜ₊₁(v) = Hₜ(v) + Cₜ(v)
 *
 * That is [[PageRank.step]] at damping 1.0 with the history carried:
 * 0.0/N + 1.0·y = y in IEEE arithmetic, so the cash is exactly the sum
 * above.
 *
 * Invariants (spec-asserted): Σ C = 1 at every t (cash is conserved —
 * dangling pages bank through the paper's "virtual page", here a 1-row
 * in-plan aggregate, never collected); Σ H(t) = t; hence importance
 * X(v) = (H_T(v) + C_T(v)) / (T + 1) sums to exactly 1.
 */
object Opic {

  /** The uniform walk with a zero history column. */
  private[graft] def walk(nodes: DataFrame, idCol: String, edges: DataFrame,
                          srcCol: String, dstCol: String): PageRank.Walk = {
    val w = PageRank.uniform(nodes, idCol, edges, srcCol, dstCol)
    w.copy(start = w.start.withColumn("h", lit(0.0)))
  }

  /** One synchronous round: the power step at damping 1.0, H += C. */
  private[graft] def step(w: PageRank.Walk)(s: DataFrame): DataFrame =
    PageRank.step(w, 1.0, (col("h") + col("r")).as("h"))(s)

  /** Cash/history/importance after `iters` synchronous rounds.
    * Returns (idCol, cash, hist, importance), all UNROUNDED. */
  def run(nodes: DataFrame, idCol: String,
          edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int = 4): DataFrame = {
    val w = walk(nodes, idCol, edges, srcCol, dstCol)
    val state = Kernel.iterate(w.start, iters)((s, _) => step(w)(s))
    state.crossJoin(broadcast(
        state.agg((sum("h") + lit(1.0)).as("__tot"))))
      .select(col("id").as(idCol), col("r").as("cash"), col("h").as("hist"),
        ((col("h") + col("r")) / col("__tot")).as("importance"))
  }
}
