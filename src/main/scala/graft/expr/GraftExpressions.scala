package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Custom Catalyst expressions for the crawl engine (SURVEY.md §2.10) that
 * are not a plain static call; the static kernels are rows of
 * [[ScalarKernel]]. Each implements `doGenCode` so it stays inside
 * whole-stage codegen — no UDF/serialization overhead in the hot path.
 */

/** Position-wise char-overlap similarity: matches(zip(a,b)) / max(len) —
  * the reference's fuzzy metric (deduplicator.py:166-182), the kernel of
  * `char_overlap_sim`. Kept bit-identical for fixture parity;
  * `levenshtein()` is the documented builtin alternative. */
object CharOverlapSim {
  /** matches / longer, 0.0 when either empty (ref deduplicator.py:170-182). */
  def sim(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString; val s2 = b.toString
    val shorter = math.min(s1.length, s2.length)
    val longer = math.max(s1.length, s2.length)
    if (shorter == 0) return 0.0
    var m = 0; var i = 0
    while (i < shorter) { if (s1.charAt(i) == s2.charAt(i)) m += 1; i += 1 }
    m.toDouble / longer
  }
}

/** Dictionary content filter: total Aho-Corasick hits of a multi-word
  * phrase dictionary over the token stream (see
  * [[graft.core.AhoCorasick]] for exact position semantics). The
  * automaton compiles ONCE on the driver and ships as a codegen
  * reference object — one text pass regardless of dictionary size,
  * where N regexes would be N passes. */
case class DictHits(child: Expression, dict: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    GraftExprChecks.requireString(prettyName, child)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dict_hits"
  @transient private lazy val ac = new graft.core.AhoCorasick(dict)
  override protected def nullSafeEval(v: Any): Any =
    ac.countText(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dictAc", ac, "graft.core.AhoCorasick")
    defineCodeGen(ctx, ev, c => s"$ref.countText($c)")
  }
  override protected def withNewChildInternal(c: Expression): DictHits =
    copy(child = c)
}

private[expr] object GraftExprChecks {
  def requireString(name: String, es: Expression*): TypeCheckResult = {
    val bad = es.find(!_.dataType.isInstanceOf[StringType])
    bad match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"$name expects STRING arguments, got ${e.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }
}
