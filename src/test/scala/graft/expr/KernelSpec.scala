package graft.expr

import java.lang.reflect.Modifier

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.functions.gf

/**
 * Table-driven checks of every [[ScalarKernel]] row: a new kernel is
 * covered by its table row (plus its `gf` form in [[gfForm]]). Inputs
 * come from one checkpointed fixture frame, so no projection is folded
 * on the driver and every call runs in the executed plan.
 */
class KernelSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val fixtures: DataFrame = {
    val texts = Seq(
      "https://Example.COM:443/a/./b/../c?z=1&a=2#frag",
      "<html><head><title>T</title></head><body><div><p>Hello hello hello " +
        "world, a longer paragraph with enough words to be kept as main " +
        "content.</p><a href=\"/x\">x</a><ul><li>one</li></ul><table><tr>" +
        "<th>h</th><td>1</td></tr></table></div></body></html>",
      "café naïve Ｈｉ the the the the cat sat on the mat",
      "www.sub.example.co.uk",
      "")
    val base = texts.zipWithIndex.toDF("s", "i")
      .withColumn("s", coalesce($"s", lit("")))
      .withColumn("s2", concat(lit("../rel/"), $"i".cast("string")))
      .withColumn("k", xxhash64($"s"))
      .withColumn("q", ($"i" + 1) / 6.0)
    val blobs = base.agg(gf.hll_agg($"k").as("hll"), gf.kmv_agg($"k", 16).as("kmv"),
      gf.count_min_agg($"k", lit(1L)).as("cm"), gf.tdigest_agg($"q").as("td"))
    base.crossJoin(blobs).localCheckpoint()
  }

  /** A sketch reader's BINARY argument is a blob of its owner's kind. */
  private val blobOf = Map("graft.core.Hll" -> "hll", "graft.core.Kmv" -> "kmv",
    "graft.core.CountMin" -> "cm", "graft.core.TDigest" -> "td")

  private def argSql(k: ScalarKernel, t: DataType, first: Boolean): String = t match {
    case _: StringType => if (first) "s" else "s2"
    case BinaryType => blobOf.getOrElse(k.owner, "cast(s as binary)")
    case LongType => "k"
    case DoubleType => "q"
  }

  /** One SQL argument list per accepted type of the first argument. */
  private def argLists(k: ScalarKernel): Seq[Seq[String]] =
    k.methods.map { case (t, _) => argSql(k, t, first = true) +: k.rest.map(argSql(k, _, first = false)) }

  private def call(k: ScalarKernel, args: Seq[Column]): Column =
    column(KernelCall(k, args.map(expression)))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getInt(0))

  /** `body` with whole-stage codegen off and every expression interpreted. */
  private def interpreted[T](body: => T): T = {
    val conf = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val old = conf.map { case (key, _) => key -> spark.conf.getOption(key) }
    conf.foreach { case (key, v) => spark.conf.set(key, v) }
    try body
    finally old.foreach { case (key, v) => v.fold(spark.conf.unset(key))(spark.conf.set(key, _)) }
  }

  /** The `gf` Column form of every kernel at the table's parameters. */
  private val gfForm: Map[String, Seq[Column] => Column] = Map(
    "canonicalize_url" -> (a => gf.canonicalize_url(a(0))),
    "resolve_url" -> (a => gf.resolve_url(a(0), a(1))),
    "registrable_domain" -> (a => gf.registrable_domain(a(0))),
    "dust_rule" -> (a => gf.dust_rule(a(0), a(1))),
    "extract_text" -> (a => gf.extract_text(a(0))),
    "main_content" -> (a => gf.main_content(a(0))),
    "html_to_markdown" -> (a => gf.html_to_markdown(a(0))),
    "html_probe" -> (a => gf.html_probe(a(0))),
    "html_table_cells" -> (a => gf.html_table_cells(a(0))),
    "sniff_charset" -> (a => gf.sniff_charset(a(0))),
    "sniff_mime" -> (a => gf.sniff_mime(a(0))),
    "sniff_decode" -> (a => gf.sniff_decode(a(0))),
    "unicode_normalize" -> (a => gf.unicode_normalize(a(0))),
    "deflate_ratio" -> (a => gf.deflate_ratio(a(0))),
    "char_overlap_sim" -> (a => gf.char_overlap_sim(a(0), a(1))),
    "winnow_fingerprints" -> (a => gf.winnow_fingerprints(a(0))),
    "repetition_metrics" -> (a => gf.repetition_metrics(a(0))),
    "cdc_chunks" -> (a => gf.cdc_chunks(a(0))),
    "hll_estimate" -> (a => gf.hll_estimate(a(0))),
    "kmv_distinct" -> (a => gf.kmv_distinct(a(0))),
    "kmv_size" -> (a => gf.kmv_size(a(0))),
    "kmv_jaccard" -> (a => gf.kmv_jaccard(a(0), a(1))),
    "kmv_union_distinct" -> (a => gf.kmv_union_distinct(a(0), a(1))),
    "kmv_intersect_distinct" -> (a => gf.kmv_intersect_distinct(a(0), a(1))),
    "count_min_query" -> (a => gf.count_min_query(a(0), a(1))),
    "count_min_total" -> (a => gf.count_min_total(a(0))),
    "tdigest_quantile" -> (a => gf.tdigest_quantile(a(0), a(1))),
    "tdigest_weight" -> (a => gf.tdigest_weight(a(0))))

  test("every kernel: whole-stage codegen equals interpreted eval, as one static call") {
    // arguments as they are (non-null strings) and wrapped as nullable
    val asIs: Column => Column = c => c
    val nullable: Column => Column = c => when($"i" >= 0, c)
    for (k <- ScalarKernel.all; args <- argLists(k); wrap <- Seq(asIs, nullable)) {
      def df = fixtures.select($"i", call(k, args.map(a => wrap(expr(a)))).as("r"))
      val compiled = rows(df)
      val shown = s"${k.name}${args.mkString("(", ", ", ")")}"
      assert(compiled.exists(!_.isNullAt(1)), shown)
      assert(interpreted(rows(df)) == compiled, shown)
      val method = k.method(fixtures.select(expr(args.head)).schema.head.dataType).get
      assert(codegenString(df.queryExecution.executedPlan).contains(s"${k.owner}.$method("),
        k.name)
    }
  }

  test("every kernel: a null argument gives a null result") {
    for (k <- ScalarKernel.all; args <- argLists(k); p <- args.indices) {
      val nulled = args.map(expr).updated(p, when($"i" < 0, expr(args(p))))
      def df = fixtures.select($"i", call(k, nulled).as("r"))
      assert(rows(df).forall(_.isNullAt(1)), s"${k.name} argument $p")
      assert(interpreted(rows(df)).forall(_.isNullAt(1)), s"${k.name} argument $p")
    }
  }

  test("every kernel: a wrong input type or arity is an AnalysisException naming it") {
    for (k <- ScalarKernel.all) {
      val args = argLists(k).head.map(expr)
      for (bad <- Seq(args.updated(0, $"i"), args :+ $"s")) {
        val e = intercept[AnalysisException](fixtures.select(call(k, bad)))
        assert(e.getMessage.contains(k.name), e.getMessage)
      }
    }
  }

  test("every kernel: owner.method resolves to a static method per accepted input type") {
    for (k <- ScalarKernel.all; (t, m) <- k.methods) {
      val target = k.resolve(t)
      assert(target.getName == m && Modifier.isStatic(target.getModifiers), k.name)
      assert(CodeGenerator.javaClass(k.dataType).isAssignableFrom(target.getReturnType),
        s"${k.name}: ${target.getReturnType} is not a ${k.dataType.sql}")
    }
  }

  test("every kernel: its SQL name equals its gf Column form") {
    assert(gfForm.keySet == ScalarKernel.all.map(_.name).toSet)
    for (k <- ScalarKernel.all; args <- argLists(k)) {
      val viaSql = fixtures.select($"i", expr(s"${k.name}(${args.mkString(", ")})").as("r"))
      val viaGf = fixtures.select($"i", gfForm(k.name)(args.map(expr)).as("r"))
      def kernelOf(df: DataFrame) = df.queryExecution.analyzed.expressions.last.children.head
      assert(kernelOf(viaSql).semanticEquals(kernelOf(viaGf)), k.name)
      assert(rows(viaSql) == rows(viaGf), k.name)
    }
  }

  test("canonicalize_url and repetition_metrics codegen as static calls on their real paths") {
    val urlIds = codegenString(fixtures.select(gf.url_id($"s")).queryExecution.executedPlan)
    assert(urlIds.contains("graft.core.UrlNormalizer.canonicalizeU8("))
    val rep = graft.text.Repetition.metrics(fixtures.select($"i", $"s"), "i", "s")
    val repCode = codegenString(rep.queryExecution.executedPlan)
    assert(repCode.contains("graft.core.RepetitionKernel.metrics("))
    for (code <- Seq(urlIds, repCode)) assert(!code.contains(".eval("), code)
  }

  test("a kernel call renders as the expression it replaced") {
    def shown(c: Column) = {
      val e = fixtures.select(c).queryExecution.analyzed.expressions.head.children.head
      (e.toString.replaceAll("#\\d+", ""), e.sql)
    }
    assert(shown(gf.canonicalize_url($"s")) == ("canonicalize_url(s)", "canonicalize_url(s)"))
    assert(shown(gf.winnow_fingerprints($"s", 8, 4)) ==
      ("winnow_fingerprints(s, 8, 4)", "winnow_fingerprints(s)"))
    assert(shown(gf.main_content($"s")) == ("main_content(s, 10, 0.33)", "main_content(s)"))
    assert(shown(gf.unicode_normalize($"s")) == ("unicode_normalize(s, NFC)", "unicode_normalize(s)"))
  }
}
