package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/*
 * The sketch algebra over blob columns, one class per operation for
 * every [[SketchKind]]:
 *
 *   blob   = <kind>_agg(values, ...)               (build, one per kind)
 *   blob'  = <kind>_merge_agg(blobs)               ([[SketchMergeAgg]])
 *   test   = <kind>_might_contain(blob, v)         ([[SketchProbe]])
 *   state' = <kind>_subtract(state, delta)         ([[SketchSubtract]])
 *
 * The kind is kept out of `stringArgs`, so a plan names only the SQL
 * function and its arguments (`bloom_merge_agg(b#1, 0, 0)`).
 */

/** A build aggregate: its own parameters, input checks, buffer and
  * `update`; merge, eval and the buffer codec come from its kind. */
trait SketchBuildAgg[S] extends TypedImperativeAggregate[S] {
  protected def kind: SketchKind[S]

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def merge(buf: S, other: S): S = kind.merge(buf, other)
  override def eval(buf: S): Any = kind.write(buf)
  override def serialize(buf: S): Array[Byte] = kind.write(buf)
  override def deserialize(bytes: Array[Byte]): S = kind.read(bytes)
}

/**
 * `<kind>_merge_agg(blobs)` — fold serialized sketches of one shape into
 * one. No identity element exists without knowing the shape, so the
 * buffer is null until the first blob arrives; null rows are skipped and
 * an all-null group yields null.
 */
case class SketchMergeAgg[S <: AnyRef](
    child: Expression, // BINARY serialized sketches, same shape
    kind: SketchKind[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[S] with UnaryLike[Expression] {

  override def prettyName: String = s"${kind.name}_merge_agg"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects BINARY sketches, got ${child.dataType.sql}")
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): S = null.asInstanceOf[S]

  override def update(buf: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val s = kind.read(v.asInstanceOf[Array[Byte]])
      if (buf == null) s else kind.merge(buf, s)
    }
  }

  override def merge(buf: S, other: S): S =
    if (buf == null) other
    else if (other == null) buf
    else kind.merge(buf, other)

  override def eval(buf: S): Any =
    if (buf == null) null else kind.write(buf)
  override def serialize(buf: S): Array[Byte] =
    if (buf == null) Array.emptyByteArray else kind.write(buf)
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes.isEmpty) null.asInstanceOf[S] else kind.read(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg[S] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg[S] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): SketchMergeAgg[S] =
    copy(child = c)
}

/**
 * `<kind>_might_contain(blob, longValue)` — true if the serialized filter
 * may contain the value. Deserialization is cached per byte-array
 * identity, so the cache hits only while consecutive rows hand over the
 * SAME array instance, as a literal blob does. A blob read from an
 * `UnsafeRow` column is a fresh copy per row, so behind
 * `SeenSet.probed`'s broadcast filter join it never hits: 50,000 probe
 * calls made 50,000 filter reads, each row deserializing its bucket's
 * filter — see the `SeenSet.probed` item under ROADMAP "Small, concrete".
 *
 * Deliberately non-codegen (CodegenFallback): the pre-filter sits outside
 * the per-byte hot path and correctness of the cache is simpler to reason
 * about in interpreted eval.
 */
case class SketchProbe[S <: AnyRef](left: Expression, right: Expression, kind: FilterKind[S])
  extends BinaryExpression with codegen.CodegenFallback {

  override def prettyName: String = kind.probeName
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  @transient private var cachedBytes: Array[Byte] = _
  @transient private var cachedFilter: S = _

  override protected def nullSafeEval(blob: Any, value: Any): Any = {
    val bytes = blob.asInstanceOf[Array[Byte]]
    if (cachedFilter == null || (cachedBytes ne bytes)) {
      cachedFilter = kind.read(bytes)
      cachedBytes = bytes
    }
    kind.mightContain(cachedFilter, value.asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SketchProbe[S] =
    copy(left = l, right = r)
}

/** `<kind>_subtract(stateBytes, deleteBytes)` — retire a deletion batch
  * (itself a filter of the same shape over the deleted keys) from the
  * state. The deleted keys must have been inserted (class contract). */
case class SketchSubtract[S <: AnyRef](left: Expression, right: Expression, kind: DeletableKind[S])
  extends BinaryExpression with codegen.CodegenFallback {

  override def prettyName: String = s"${kind.name}_subtract"
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override protected def nullSafeEval(state: Any, delta: Any): Any =
    kind.write(kind.subtract(
      kind.read(state.asInstanceOf[Array[Byte]]),
      kind.read(delta.asInstanceOf[Array[Byte]])))

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SketchSubtract[S] =
    copy(left = l, right = r)
}
