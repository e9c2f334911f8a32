package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

import graft.core.Kmv

/**
 * Mergeable KMV / theta set sketches (see [[graft.core.Kmv]]) — the
 * sketch-family API shape ([[HllAgg]]/[[TDigestAgg]]/[[CountMinAgg]]):
 *
 *  - `kmv_agg(hashedKey, k)` → binary sketch per group;
 *  - `kmv_merge_agg(blob)` → fold same-k blobs (two-level / incremental
 *    aggregation; k-smallest-of-union merge ⇒ any fold order is
 *    byte-identical to a one-shot build);
 *  - `kmv_distinct(blob)` → long distinct estimate (exact below k);
 *  - `kmv_size(blob)` → stored-value count (exact-regime witness);
 *  - `kmv_jaccard(a, b)` / `kmv_union_distinct(a, b)` /
 *    `kmv_intersect_distinct(a, b)` → Beyer et al. SIGMOD'07 set-
 *    operation estimates from two same-k blobs.
 *
 * Keys are pre-hashed LONGs (xxhash64 on the Spark side).
 */
case class KmvAgg(
    child: Expression, // LONG pre-hashed key
    k: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchBuildAgg[Kmv] with UnaryLike[Expression] {

  override def prettyName: String = "kmv_agg"
  override protected def kind: SketchKind[Kmv] = SketchKind.kmv
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_agg expects a BIGINT pre-hashed key, got ${child.dataType.sql}")

  override def createAggregationBuffer(): Kmv = Kmv.create(k)

  override def update(buf: Kmv, input: InternalRow): Kmv = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long])
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): KmvAgg =
    copy(child = c)
}
