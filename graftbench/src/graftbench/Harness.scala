package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Ops attempted and failed. An op is a `Crawler.crawl` call, a query,
  * or an output check; an exception in an op or a failed check fails it. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()

  def fail(what: String): Unit = { failed += 1; failures += what; () }

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(s"check $name: $detail")
  }

  /** Run one op; an exception fails it and yields None. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Exception =>
        fail(s"op $name: ${e.getClass.getName}: ${e.getMessage}".take(500)); None
    }
  }
}

/** One closed-loop pass: its wall, its steps (crawl rounds or queries)
  * and the work items it completed (URLs fetched, or queries). */
final case class PassResult(wallS: Double, stepsMs: Seq[Double], items: Long)

/** Shared context handed to every workload. */
final case class Ctx(spark: SparkSession, rec: Recorder, checks: Checks,
                     seed: Long, cores: Int, workDir: String, inject: Set[String])

trait Workload {
  /** Synthesize and materialize the inputs; repeatable, each call
    * replaces the previous inputs. */
  def setup(): Unit
  /** One closed-loop pass, output-checked. */
  def pass(): PassResult
  /** Per-layer metrics: one recorded untraced pass, then a traced pass
    * composed from the layer functions between two more untraced passes. */
  def layers(tr: Tracer): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Tracing overhead: the traced pass against the mean of the untraced
    * passes just before and after it, which brackets the JIT warm-up that
    * still goes on from pass to pass. */
  def overhead(tracedS: Double, beforeS: Double, afterS: Double): Double =
    tracedS / ((beforeS + afterS) / 2) - 1

  def timeS[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
}
