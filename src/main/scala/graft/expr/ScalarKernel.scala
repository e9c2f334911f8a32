package graft.expr

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/**
 * One static kernel (SURVEY.md §2.10): a method of a `graft.core` (or
 * `graft.expr`) object that [[KernelCall]] invokes once per row — in
 * whole-stage codegen as the Java text `owner.method(args, params)`, in
 * interpreted eval by reflection on the same owner and method, so the
 * two paths cannot call different code.
 *
 * @param name     SQL name and `prettyName`
 * @param owner    fully qualified name of the object holding the method
 * @param methods  accepted types of the first argument, each with its
 *                 method (STRING and BINARY input dispatch differently)
 * @param rest     types of the further arguments (at most one)
 * @param dataType result type
 * @param nullableResult the method may return null for non-null input
 * @param params   fixed parameters appended to every call, rendered as
 *                 Java literals; the registered SQL form uses these
 */
final case class ScalarKernel(
    name: String,
    owner: String,
    methods: Seq[(DataType, String)],
    rest: Seq[DataType],
    dataType: DataType,
    nullableResult: Boolean = false,
    params: Seq[Any] = Nil) {
  require(rest.size <= 1, s"$name: a kernel takes one or two arguments")

  def withParams(ps: Any*): ScalarKernel = copy(params = ps)

  private def accepts(want: DataType, got: DataType): Boolean = want match {
    case _: StringType => got.isInstanceOf[StringType]
    case _ => want == got
  }

  private def entry(first: DataType): Option[(DataType, String)] =
    methods.find { case (t, _) => accepts(t, first) }

  /** The method for a first argument of type `first`, if it is accepted. */
  def method(first: DataType): Option[String] = entry(first).map(_._2)

  def check(got: Seq[DataType]): TypeCheckResult =
    if (got.size == 1 + rest.size && method(got.head).isDefined &&
      rest.zip(got.tail).forall { case (w, g) => accepts(w, g) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${(methods.map(_._1.sql).mkString(" or ") +: rest.map(_.sql))
        .mkString(", ")}), got (${got.map(_.sql).mkString(", ")})")

  /** The static method a call with first argument of type `first` runs. */
  def resolve(first: DataType): Method = {
    val (t, m) = entry(first).get
    val argTypes = (t +: rest).map(CodeGenerator.javaClass) ++ params.map {
      case _: Int => java.lang.Integer.TYPE
      case _: Double => java.lang.Double.TYPE
      case _: Boolean => java.lang.Boolean.TYPE
      case p => p.getClass
    }
    Class.forName(owner).getMethod(m, argTypes: _*)
  }

  /** The Java text of one call over the argument values `args`. */
  def javaCall(first: DataType, args: Seq[String]): String =
    s"$owner.${method(first).get}(" + (args ++ params.map {
      case d: Double => s"${d}D"
      case s: String => "\"" + s + "\""
      case p => p.toString
    }).mkString(", ") + ")"
}

/**
 * A call of one [[ScalarKernel]]: the single expression class behind
 * every row of the kernel table. Null in, null out; the input types,
 * the method and the result come from the table row. The generated Java
 * has the shape of Spark's `UnaryExpression`/`BinaryExpression`
 * `defineCodeGen`, so a kernel codegens as one static call inside the
 * whole-stage loop.
 */
case class KernelCall(kernel: ScalarKernel, children: Seq[Expression]) extends Expression {

  override def prettyName: String = kernel.name
  override def dataType: DataType = kernel.dataType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = kernel.nullableResult || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = children.iterator ++ kernel.params
  override def checkInputDataTypes(): TypeCheckResult = kernel.check(children.map(_.dataType))

  @transient private lazy val target: Method = kernel.resolve(children.head.dataType)
  @transient private lazy val fixed: Array[AnyRef] = kernel.params.map(_.asInstanceOf[AnyRef]).toArray

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.size + fixed.length)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    System.arraycopy(fixed, 0, args, i, fixed.length)
    try target.invoke(null, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val call = kernel.javaCall(children.head.dataType, gens.map(_.value.toString))
    val resultCode =
      if (kernel.nullableResult)
        s"\n      ${ev.value} = $call;\n      ${ev.isNull} = ${ev.value} == null;\n    "
      else s"${ev.value} = $call;"
    val javaType = CodeGenerator.javaType(dataType)
    val init = CodeGenerator.defaultValue(dataType)
    gens match {
      case Seq(c) if nullable =>
        val nullSafeEval = ctx.nullSafeExec(children.head.nullable, c.isNull)(resultCode)
        ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = ${c.isNull};
        $javaType ${ev.value} = $init;
        $nullSafeEval
      """)
      case Seq(c) =>
        ev.copy(code = code"""
        ${c.code}
        $javaType ${ev.value} = $init;
        $resultCode""", isNull = FalseLiteral)
      case Seq(l, r) if nullable =>
        val inner = s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $resultCode
            """
        val nullSafeEval = s"${l.code}" + ctx.nullSafeExec(children.head.nullable, l.isNull)(
          s"${r.code}" + ctx.nullSafeExec(children(1).nullable, r.isNull)(inner))
        ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $init;
        $nullSafeEval
      """)
      case Seq(l, r) =>
        ev.copy(code = code"""
        ${l.code}
        ${r.code}
        $javaType ${ev.value} = $init;
        $resultCode""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

/** The kernel table: one row per scalar kernel; `gf` and its SQL
  * registration are built from these rows. */
object ScalarKernel {
  private val S: DataType = StringType
  private val B: DataType = BinaryType

  // ---- urls ----
  /** RFC 3986 canonical form; url identity is xxhash64 of it. */
  val canonicalize_url = ScalarKernel("canonicalize_url", "graft.core.UrlNormalizer",
    Seq(S -> "canonicalizeU8"), Nil, S)
  /** RFC 3986 §5.2 reference resolution (the reference's urljoin). */
  val resolve_url = ScalarKernel("resolve_url", "graft.core.UrlNormalizer",
    Seq(S -> "resolveU8"), Seq(S), S)
  /** Registrable domain (eTLD+1) per the Public Suffix List: null when
    * the host is itself a public suffix or an IPv4 literal. */
  val registrable_domain = ScalarKernel("registrable_domain", "graft.core.PublicSuffix",
    Seq(S -> "registrable"), Nil, S, nullableResult = true)
  val dust_rule = ScalarKernel("dust_rule", "graft.expr.DustRule",
    Seq(S -> "rule"), Seq(S), DustRule.schema)

  // ---- pages (STRING, or BINARY page-store html) ----
  val extract_text = ScalarKernel("extract_text", "graft.core.TextExtractor",
    Seq(S -> "extractTextU8", B -> "extractTextBytes"), Nil, S)
  val main_content = ScalarKernel("main_content", "graft.core.MainContent",
    Seq(S -> "extractU8", B -> "extractBytes"), Nil, S, params = Seq[Any](10, 0.33))
  /** Params: `fit` (prune nav/header/footer/aside/form chrome first). */
  val html_to_markdown = ScalarKernel("html_to_markdown", "graft.core.Markdown",
    Seq(S -> "renderU8", B -> "renderBytes"), Nil, S, params = Seq(false))
  val html_probe = ScalarKernel("html_probe", "graft.expr.HtmlFacilityProbe",
    Seq(S -> "probeU8", B -> "probeBytes"), Nil, HtmlFacilityProbe.schema)
  val html_table_cells = ScalarKernel("html_table_cells", "graft.expr.HtmlTableCells",
    Seq(S -> "cells"), Nil, HtmlTableCells.schema)
  val sniff_charset = ScalarKernel("sniff_charset", "graft.core.CharsetSniff",
    Seq(B -> "sniff"), Nil, S)
  val sniff_mime = ScalarKernel("sniff_mime", "graft.core.MimeSniff",
    Seq(B -> "sniff"), Nil, S)
  val sniff_decode = ScalarKernel("sniff_decode", "graft.core.CharsetSniff",
    Seq(B -> "decode"), Nil, S)

  // ---- text ----
  /** Params: the form, one of NFC, NFD, NFKC, NFKD. */
  val unicode_normalize = ScalarKernel("unicode_normalize", "graft.core.TextNorm",
    Seq(S -> "normalize"), Nil, S, params = Seq("NFC"))
  val deflate_ratio = ScalarKernel("deflate_ratio", "graft.core.TextExtractor",
    Seq(S -> "deflateRatio"), Nil, DoubleType)
  val char_overlap_sim = ScalarKernel("char_overlap_sim", "graft.expr.CharOverlapSim",
    Seq(S -> "sim"), Seq(S), DoubleType)
  /** Params: gram length k, window w. */
  val winnow_fingerprints = ScalarKernel("winnow_fingerprints", "graft.core.WinnowKernel",
    Seq(S -> "fingerprints"), Nil, ArrayType(LongType, containsNull = false),
    params = Seq(8, 4))
  /** Params: top-n-gram n, duplicate-n-gram n. */
  val repetition_metrics = ScalarKernel("repetition_metrics", "graft.core.RepetitionKernel",
    Seq(S -> "metrics"), Nil, StructType(Seq(
      StructField("topFrac", DoubleType, nullable = false),
      StructField("dupFrac", DoubleType, nullable = false))),
    params = Seq(2, 5))
  /** Params: min, avg, max chunk bytes. */
  val cdc_chunks = ScalarKernel("cdc_chunks", "graft.core.Cdc",
    Seq(S -> "chunkText"), Nil, ArrayType(StructType(Seq(
      StructField("start", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))), containsNull = false),
    params = Seq(64, 256, 1024))

  // ---- sketch readers (BINARY blobs of the matching *_agg) ----
  val hll_estimate = ScalarKernel("hll_estimate", "graft.core.Hll",
    Seq(B -> "estimateBytes"), Nil, DoubleType)
  val kmv_distinct = ScalarKernel("kmv_distinct", "graft.core.Kmv",
    Seq(B -> "distinctBytes"), Nil, LongType)
  val kmv_size = ScalarKernel("kmv_size", "graft.core.Kmv",
    Seq(B -> "sizeBytes"), Nil, LongType)
  val kmv_jaccard = ScalarKernel("kmv_jaccard", "graft.core.Kmv",
    Seq(B -> "jaccardBytes"), Seq(B), DoubleType)
  val kmv_union_distinct = ScalarKernel("kmv_union_distinct", "graft.core.Kmv",
    Seq(B -> "unionDistinctBytes"), Seq(B), LongType)
  val kmv_intersect_distinct = ScalarKernel("kmv_intersect_distinct", "graft.core.Kmv",
    Seq(B -> "intersectDistinctBytes"), Seq(B), LongType)
  val count_min_query = ScalarKernel("count_min_query", "graft.core.CountMin",
    Seq(B -> "estimateBytes"), Seq(LongType), LongType)
  val count_min_total = ScalarKernel("count_min_total", "graft.core.CountMin",
    Seq(B -> "totalBytes"), Nil, LongType)
  val tdigest_quantile = ScalarKernel("tdigest_quantile", "graft.core.TDigest",
    Seq(B -> "quantileBytes"), Seq(DoubleType), DoubleType)
  val tdigest_weight = ScalarKernel("tdigest_weight", "graft.core.TDigest",
    Seq(B -> "weightBytes"), Nil, LongType)

  val all: Seq[ScalarKernel] = Seq(
    canonicalize_url, resolve_url, registrable_domain, dust_rule,
    extract_text, main_content, html_to_markdown, html_probe, html_table_cells,
    sniff_charset, sniff_mime, sniff_decode,
    unicode_normalize, deflate_ratio, char_overlap_sim, winnow_fingerprints,
    repetition_metrics, cdc_chunks,
    hll_estimate, kmv_distinct, kmv_size, kmv_jaccard, kmv_union_distinct,
    kmv_intersect_distinct, count_min_query, count_min_total, tdigest_quantile,
    tdigest_weight)
}
