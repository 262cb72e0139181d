package vbench

import scala.collection.mutable

/** One timed call into a layer. `parent` is the span that caused it
  * (-1 for an operation's root span); `op` is the operation's id.
  */
final case class Span(id: Int, parent: Int, op: Long, name: String, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder, driven from the benchmark's own calls into
  * each layer. Disabled, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var opId = -1L

  def beginOp(id: Long): Unit = opId = id

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, parent, opId, name, start, System.nanoTime())
      }
    }

  /** Add a span timed by someone else (the engine's own phase tracker)
    * as a child of the innermost open span.
    */
  def record(name: String, start: Long, end: Long): Unit =
    if (enabled) {
      spans += Span(nextId, open.headOption.getOrElse(-1), opId, name, start, end)
      nextId += 1
    }
}

object Tracer {
  /** Self time of every span: its duration minus the part of its
    * interval that the union of its children's intervals covers.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
