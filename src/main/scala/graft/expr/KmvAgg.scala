package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
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

/** Distinct-count estimate from a KMV blob (exact below k). */
case class KmvDistinct(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_distinct expects BINARY sketch, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_distinct"
  override protected def nullSafeEval(v: Any): Any =
    Kmv.distinctBytes(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Kmv.distinctBytes($c)")
  override protected def withNewChildInternal(c: Expression): KmvDistinct =
    copy(child = c)
}

/** Stored-value count of a KMV blob (< k ⇔ the sketch is exact). */
case class KmvSize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_size expects BINARY sketch, got ${child.dataType.sql}")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_size"
  override protected def nullSafeEval(v: Any): Any =
    Kmv.sizeBytes(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.Kmv.sizeBytes($c)")
  override protected def withNewChildInternal(c: Expression): KmvSize =
    copy(child = c)
}

/** Jaccard estimate of two same-k KMV blobs (Beyer et al. §4). */
case class KmvJaccard(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_jaccard expects (BINARY, BINARY), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kmv.jaccardBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kmv.jaccardBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvJaccard = copy(left = l, right = r)
}

/** Union-distinct estimate of two same-k KMV blobs. */
case class KmvUnionDistinct(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_union_distinct expects (BINARY, BINARY), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_union_distinct"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kmv.unionDistinctBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kmv.unionDistinctBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvUnionDistinct = copy(left = l, right = r)
}

/** Intersection-distinct estimate of two same-k KMV blobs. */
case class KmvIntersectDistinct(left: Expression, right: Expression)
  extends BinaryExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kmv_intersect_distinct expects (BINARY, BINARY), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kmv_intersect_distinct"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kmv.intersectDistinctBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Kmv.intersectDistinctBytes($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): KmvIntersectDistinct = copy(left = l, right = r)
}
