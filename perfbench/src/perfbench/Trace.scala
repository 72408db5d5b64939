package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. With `on = false` every call still runs its
  * body (traced and untraced runs execute the same calls) but nothing is
  * recorded. Spans carry the pass id they belong to and their parent, and
  * are written out once, at the end of the run. */
final class Trace(var on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, pass: Int,
                        startNs: Long, var endNs: Long)

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var pass: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, pass, System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Self time per span name over one pass: each span's duration minus
    * the part of it its children cover. Children never overlap (calls
    * are sequential), so the covered part is the sum of their durations. */
  def selfSeconds(passId: Int): Map[String, Double] = {
    val inPass = spans.filter(_.pass == passId)
    val childNs = inPass.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    inPass.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  def json(t0Ns: Long): String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","pass":${s.pass},""" +
      f""""start_s":${(s.startNs - t0Ns) / 1e9}%.6f,"end_s":${(s.endNs - t0Ns) / 1e9}%.6f}"""
  }.mkString("[", ",\n", "]")
}
