package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

import graft.core.CountMin

/**
 * Mergeable count-min point-frequency sketches (see [[graft.core.CountMin]])
 * — the sketch-family API shape ([[HllAgg]]/[[TDigestAgg]]):
 *
 *  - `count_min_agg(hashedKey, weight, d, w)` → binary sketch per group;
 *  - `count_min_merge_agg(blob)` → fold same-shape blobs (two-level /
 *    incremental aggregation; vector-add merge ⇒ any fold order is
 *    byte-identical to a one-shot build — the CountingBloom property);
 *  - `count_min_query(blob, hashedKey)` → long estimate (≥ true count,
 *    ≤ true + (e/w)·N w.p. ≥ 1 − e^−d);
 *  - `count_min_total(blob)` → total added weight N.
 *
 * Keys are pre-hashed LONGs (xxhash64 on the Spark side, the HllAgg
 * convention); weights non-negative LONGs.
 */
case class CountMinAgg(
    left: Expression,  // LONG pre-hashed key
    right: Expression, // LONG non-negative weight
    depth: Int = 4,
    width: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CountMin] with BinaryLike[Expression] {

  override def prettyName: String = "count_min_agg"
  override protected def kind: SketchKind[CountMin] = SketchKind.count_min
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"count_min_agg expects (BIGINT, BIGINT), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def createAggregationBuffer(): CountMin = CountMin.create(depth, width)

  override def update(buf: CountMin, input: InternalRow): CountMin = {
    val k = left.eval(input)
    val w = right.eval(input)
    if (k != null && w != null)
      buf.add(k.asInstanceOf[Long], w.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CountMinAgg = copy(left = l, right = r)
}
