package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import graft.core.CountingBloom

/**
 * Counting-Bloom aggregates/expressions — the DELETABLE seen pre-filter
 * (see [[graft.core.CountingBloom]] for semantics and safety rules).
 * Four pieces compose the incremental state algebra:
 *
 *   state₀  = cbloom_agg(seenHash, n, fpp)                (build)
 *   state' = cbloom_merge_agg(state ∪ addDelta)           (vector add)
 *   state' = cbloom_subtract(state, removeDelta)          (vector sub)
 *   test    = cbloom_might_contain(state, urlHash)
 *
 * where addDelta/removeDelta are themselves cbloom_agg outputs of the
 * SAME shape — counters are sums, so add/subtract of whole filters is
 * exact: counters(A ∪ B) − counters(B) == counters(A) byte-for-byte.
 */
case class CountingBloomAgg(
    left: Expression,   // LONG values to insert
    right: Expression,  // expected distinct items (long literal)
    fpp: Double = 0.01,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CountingBloom] with BinaryLike[Expression] {

  override def prettyName: String = "cbloom_agg"
  override protected def kind: SketchKind[CountingBloom] = SketchKind.cbloom

  private lazy val expectedItems: Long =
    right.eval(InternalRow.empty).asInstanceOf[Number].longValue()

  override def createAggregationBuffer(): CountingBloom =
    CountingBloom.create(math.max(expectedItems, 1L), fpp)

  override def update(buf: CountingBloom, input: InternalRow): CountingBloom = {
    val v = left.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CountingBloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountingBloomAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CountingBloomAgg =
    copy(left = l, right = r)
}
