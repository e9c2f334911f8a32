package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.core.RobotsRules

/**
 * `robots_decision(robotsTxt, agent, path)` → struct(allowed BOOLEAN,
 * rule STRING, crawl_delay DOUBLE) — the RFC 9309 verdict for one URL
 * path under one robots.txt (see [[graft.core.RobotsRules]] for the
 * group-selection / longest-match / allow-wins-tie semantics).
 *
 * `rule` is the winning pattern (null when no rule matched — i.e.
 * allowed-by-default); `crawl_delay` is the obeyed group's Crawl-delay
 * (null when absent). CodegenFallback like the other parser-backed
 * expressions: the dominant cost is the parse, which is cached per
 * robots BLOB — after the per-host broadcast join every candidate row
 * of a host carries the same robots string, so the cache turns N rows
 * into 1 parse + N short pattern matches (same rationale as
 * [[SketchProbe]]'s deserialization cache, but keyed by VALUE:
 * Spark materializes a fresh UTF8String per row, so identity caching
 * would never hit; UTF8String.equals is a byte compare that exits on
 * the first mismatching host's blob).
 */
case class RobotsDecision(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {

  override def prettyName: String = "robots_decision"
  override def dataType: DataType = StructType(Seq(
    StructField("allowed", BooleanType, nullable = false),
    StructField("rule", StringType, nullable = true),
    StructField("crawl_delay", DoubleType, nullable = true)))
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).forall(_.dataType.isInstanceOf[StringType]))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (STRING, STRING, STRING)")

  @transient private var cachedTxt: UTF8String = _
  @transient private var cachedAgent: UTF8String = _
  @transient private var cachedGroup: Option[RobotsRules.Group] = _

  override protected def nullSafeEval(txt: Any, agent: Any, path: Any): Any = {
    val t = txt.asInstanceOf[UTF8String]
    val a = agent.asInstanceOf[UTF8String]
    if (cachedGroup == null || cachedTxt == null || !cachedTxt.equals(t) ||
        !cachedAgent.equals(a)) {
      cachedGroup = RobotsRules.groupFor(RobotsRules.parse(t.toString), a.toString)
      cachedTxt = t.clone()
      cachedAgent = a.clone()
    }
    val d = RobotsRules.decide(cachedGroup, path.asInstanceOf[UTF8String].toString)
    new GenericInternalRow(Array[Any](
      d.allowed,
      if (d.rule == null) null else UTF8String.fromString(d.rule),
      cachedGroup.flatMap(_.crawlDelay).map(Double.box).orNull))
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RobotsDecision =
    copy(first = f, second = s, third = t)
}
