package graftbench

import scala.collection.mutable.ArrayBuffer

/**
 * In-memory spans recorded around calls into the program's layers. A span
 * is named `<layer>.<op>`; spans nest through a stack, so each records the
 * span that caused it. Self time is a span's duration minus the time its
 * children cover (children of one span run one after another).
 */
final class Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                        var endNs: Long = -1L)

  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    stack = s.id :: stack
    try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  private def selfNs(s: Span): Long =
    (s.endNs - s.startNs) - spans.iterator.filter(_.parent == s.id)
      .map(c => c.endNs - c.startNs).sum

  /** Self milliseconds summed over every span with this exact name. */
  def selfMs(name: String): Double =
    spans.iterator.filter(_.name == name).map(selfNs).sum / 1e6

  /** Self milliseconds summed over every span of a layer (`layer.*`). */
  def layerSelfMs(layer: String): Double =
    spans.iterator.filter(_.name.startsWith(layer + ".")).map(selfNs).sum / 1e6

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${selfNs(s) / 1e6}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
