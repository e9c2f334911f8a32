package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import graft.core.CuckooFilter

/**
 * Cuckoo-filter aggregates/expressions — the COMPACT deletable seen
 * pre-filter (see [[graft.core.CuckooFilter]] for the answer-identity
 * merge contract vs the counting Bloom's byte-identity). Same four-piece
 * incremental state algebra as the counting filter:
 *
 *   state₀  = cuckoo_agg(seenHash, n)                    (build)
 *   state' = cuckoo_merge_agg(state ∪ addDelta)          (multiset union)
 *   state' = cuckoo_subtract(state, removeDelta)         (multiset minus)
 *   test    = cuckoo_might_contain(state, urlHash)
 *
 * where add/remove deltas are cuckoo_agg outputs of the SAME shape.
 * Partial-buffer merge order varies run to run, so downstream code must
 * treat the serialized bytes as opaque (answers are deterministic;
 * bytes are not) — never hash or compare the blob itself.
 */
case class CuckooAgg(
    left: Expression,   // LONG values to insert
    right: Expression,  // expected distinct items (long literal)
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[CuckooFilter] with BinaryLike[Expression] {

  override def prettyName: String = "cuckoo_agg"
  override protected def kind: SketchKind[CuckooFilter] = SketchKind.cuckoo

  private lazy val expectedItems: Long =
    right.eval(InternalRow.empty).asInstanceOf[Number].longValue()

  override def createAggregationBuffer(): CuckooFilter =
    CuckooFilter.create(math.max(expectedItems, 1L))

  override def update(buf: CuckooFilter, input: InternalRow): CuckooFilter = {
    val v = left.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CuckooAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CuckooAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CuckooAgg =
    copy(left = l, right = r)
}
