package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

import graft.core.Hll

/**
 * Mergeable HyperLogLog distinct-count sketches (see [[graft.core.Hll]])
 * — the bloom-family API shape:
 *
 *  - `hll_agg(xxhash64(key), p)` → binary sketch blob per group;
 *  - `hll_merge_agg(blob)`       → register-max merge of same-p blobs
 *    (per-round delta sketches fold into carried state byte-identically
 *    to a full rebuild — the `bloom_merge_agg` incremental pattern,
 *    [[SketchMergeAgg]]);
 *  - `hll_estimate(blob)`        → bias-corrected cardinality estimate.
 *
 * At 10^10 URLs the per-host distinct contribution is m bytes of state
 * per host, never a distinct set; q101 asserts the estimate against the
 * exact count at sandbox scale.
 */
case class HllAgg(
    child: Expression, // LONG values, pre-hashed (xxhash64 convention)
    p: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[Hll] with UnaryLike[Expression] {

  override def prettyName: String = "hll_agg"
  override protected def kind: SketchKind[Hll] = SketchKind.hll
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_agg expects BIGINT (pre-hashed), got ${child.dataType.sql}")

  override def createAggregationBuffer(): Hll = new Hll(p)

  override def update(buf: Hll, input: InternalRow): Hll = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): HllAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllAgg =
    copy(child = c)
}
