package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

import graft.core.TDigest

/**
 * Mergeable t-digest quantile sketches (see [[graft.core.TDigest]]) —
 * the sketch-family API shape ([[HllAgg]]/[[BloomFilterAgg]]):
 *
 *  - `tdigest_agg(value, δ)`    → binary digest blob per group;
 *  - `tdigest_merge_agg(blob)`  → fold same-δ blobs (two-level /
 *    incremental aggregation without rescanning values);
 *  - `tdigest_quantile(blob, q)` → interpolated quantile estimate;
 *  - `tdigest_weight(blob)`      → total observation count.
 *
 * Unlike the HLL/Bloom merges, a digest merge is order-dependent in
 * its BYTES; only the O(1/δ) rank-error bound is invariant — driver
 * queries oracle exact percentiles and assert the bound in-query.
 */
case class TDigestAgg(
    child: Expression, // DOUBLE values
    delta: Double = 100.0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[TDigest] with UnaryLike[Expression] {

  override def prettyName: String = "tdigest_agg"
  override protected def kind: SketchKind[TDigest] = SketchKind.tdigest
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tdigest_agg expects DOUBLE, got ${child.dataType.sql}")

  override def createAggregationBuffer(): TDigest = new TDigest(delta)

  override def update(buf: TDigest, input: InternalRow): TDigest = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TDigestAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TDigestAgg =
    copy(child = c)
}
