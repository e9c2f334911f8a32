package graft.graph

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Pin

/**
 * The one iteration kernel of the graph family. Every graph operator is
 * a per-round `step` over O(N)-row state on top of four decisions this
 * object makes once:
 *
 *  - normalisation: node spines are (id: long), directed edge lists
 *    (src: long, dst: long), and [[undirected]] is the simple a < b view
 *    (self-loops dropped, parallel and reciprocal edges collapsed);
 *  - lineage: the loops pin the start state and every round's state
 *    through [[graft.Pin]] and settle each pin with a job that reads it
 *    ([[Pin.count]] in [[rounds]], the signature in [[fixpoint]]), so
 *    every carried pin is lineage-truncated before the next round
 *    builds on it, whatever the round count;
 *  - loop shape: [[iterate]]/[[rounds]] run a fixed number of rounds;
 *    [[fixpoint]] runs until a driver-side per-round signature repeats
 *    and fails with one `IllegalArgumentException` naming its cap;
 *  - the gather: edge ⋈ state on one endpoint, hash aggregate on the
 *    other. The join is shuffle-hash on the state side, not sort-merge:
 *    both sides are keyed by a random 64-bit id, so sorting buys nothing
 *    (the J7 convention).
 */
object Kernel {

  /** (id: long) spine of `nodes`. */
  def nodes(nodes: DataFrame, idCol: String): DataFrame =
    nodes.select(col(idCol).cast("long").as("id"))

  /** (src: long, dst: long) directed edge list. */
  def edges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))

  /** (a, b) undirected simple edges, canonical a < b. Types are kept, so
    * word graphs (q135) use it as well as id graphs. */
  def undirected(edges: DataFrame, srcCol: String = "src",
                 dstCol: String = "dst"): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** States 0..n: `start`, then `step(state, t)` for t = 1..n, each
    * pinned and settled. */
  def rounds(start: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    (1 to n).scanLeft(Pin.settled(start))((s, t) => Pin.settled(step(s, t)))

  /** The state after `n` pinned rounds of `step`. */
  def iterate(start: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    rounds(start, n)(step).last

  /**
   * Rounds of `step` until `signature` (one driver-side action per round)
   * equals the previous round's; returns that state. Throws if no
   * `capName` = `cap` rounds reach it. The signature must identify the
   * state well enough that equal signatures mean a fixed point (a count
   * suffices when `step` only ever shrinks the state). It is also the
   * round's settling job: it must run a job that reads the pinned state,
   * as [[Pin.count]] or an aggregate's result stage does.
   */
  def fixpoint[K](start: DataFrame, capName: String, cap: Int, what: String)(
      signature: DataFrame => K)(step: DataFrame => DataFrame): DataFrame = {
    @tailrec def loop(s: DataFrame, sig: K, round: Int): DataFrame = {
      if (round == cap) throw new IllegalArgumentException(
        s"$what did not converge within $capName = $cap rounds; raise the cap")
      val next = Pin(step(s))
      val nextSig = signature(next)
      if (nextSig == sig) next else loop(next, nextSig, round + 1)
    }
    val s0 = Pin(start)
    loop(s0, signature(s0), 0)
  }

  /**
   * Gather: `edges` ⋈ `state` with the state's `id` as the `on` endpoint,
   * grouped by the `by` columns (the first is renamed `id`).
   */
  def gather(edges: DataFrame, state: DataFrame, on: String, by: String*)(
      agg: Column, aggs: Column*): DataFrame =
    edges.join(state.withColumnRenamed("id", on).hint("shuffle_hash"), on)
      .groupBy(by.map(col): _*).agg(agg, aggs: _*)
      .withColumnRenamed(by.head, "id")
}
