package graft

import org.apache.spark.rdd.UnionRDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge

/**
 * The engine's one pin: how graft cuts a frame's lineage so that every
 * later reader's plan starts at a checkpointed leaf. It makes three
 * decisions once:
 *
 *  - lazy: a pin is `localCheckpoint(false)`. Under AQE, building it
 *    already runs every shuffle-map and broadcast stage below it; only
 *    its final stage waits for the first job that reads it;
 *  - clamped: the carried size estimate goes through
 *    [[Bridge.clampSizeEstimate]], so a loop that pins a join round after
 *    round does not grow the estimate without bound;
 *  - truncated: a pinned RDD drops its lineage only when a `runJob`
 *    reaches it (AQE's shuffle-map stages do not), so what a later
 *    reader does decides whether it ever is. [[count]] is that job: a
 *    loop that carries a frame settles it through [[count]] each round,
 *    and a pin that must be materialised before a file it reads is
 *    deleted or overwritten is counted before that write.
 */
object Pin {

  /** `df` pinned: lazy, with its size estimate clamped. */
  def apply(df: DataFrame): DataFrame =
    Bridge.clampSizeEstimate(df.localCheckpoint(false))

  /** Per frame, `(rows, rows where flag holds)`, all in ONE job without a
    * shuffle: a task counts one partition of one frame where the frame's
    * checkpoint holds it, and the driver adds the counts up. Every pin
    * the job reaches is materialised and lineage-truncated by it. */
  def count(frames: Seq[DataFrame], flag: Column = lit(false)): Seq[(Long, Long)] = {
    val rdds = frames.map(_.select(flag).queryExecution.toRdd)
    // a UnionRDD, not SparkContext.union: that drops frames with no
    // partitions, whose pins the job would then never reach
    val perPartition = new UnionRDD(frames.head.sparkSession.sparkContext,
      rdds.map(_.mapPartitions { rows =>
        var n, flagged = 0L
        rows.foreach { r => n += 1; if (!r.isNullAt(0) && r.getBoolean(0)) flagged += 1 }
        Iterator((n, flagged))
      }))
      .collect()
    val bounds = rdds.map(_.getNumPartitions).scanLeft(0)(_ + _)
    bounds.zip(bounds.tail).map { case (from, until) =>
      perPartition.slice(from, until).foldLeft((0L, 0L)) { case ((a, b), (n, f)) =>
        (a + n, b + f) }
    }
  }

  /** `df` pinned and settled by [[count]]. */
  def settled(df: DataFrame): DataFrame = {
    val p = apply(df)
    count(Seq(p))
    p
  }
}
