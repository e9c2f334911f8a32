package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/**
 * Partitioned Bloom-filter builder for the URL-seen pre-filter
 * (SURVEY.md §2.10, BASELINE.json north_rule "partitioned bloom/cuckoo
 * URL-seen filter").
 *
 * Usage: `seen.groupBy(pmod(urlHash, B)).agg(bloom_agg(urlHash, n, fpp))`
 * yields B independent filters; candidates join on the same bucket and are
 * pre-tested with `might_contain` ([[SketchProbe]]) before the
 * authoritative exact anti-join. At 10^10 URLs each bucket's filter stays executor-sized
 * (total bits scale with n·log(1/fpp), spread over B buckets).
 *
 * Spark has internal BloomFilterAggregate/BloomFilterMightContain but they
 * are not public API — this is our own (SURVEY.md §2.10 note).
 */
case class BloomFilterAgg(
    left: Expression,   // LONG values to insert
    right: Expression,  // expected distinct items (long literal)
    fpp: Double = 0.01,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[BloomFilter] with BinaryLike[Expression] {

  override def prettyName: String = "bloom_agg"
  override protected def kind: SketchKind[BloomFilter] = SketchKind.bloom

  private lazy val expectedItems: Long =
    right.eval(InternalRow.empty).asInstanceOf[Number].longValue()

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(math.max(expectedItems, 1L), fpp)

  override def update(buf: BloomFilter, input: InternalRow): BloomFilter = {
    val v = left.eval(input)
    if (v != null) buf.putLong(v.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomFilterAgg =
    copy(left = l, right = r)
}
