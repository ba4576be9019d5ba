package perfbench

import scala.collection.mutable

/** One timed interval around a call into an engine layer. `parent` is the id
 *  of the enclosing span (-1 at the top) and `op` the operation it belongs
 *  to. Times are `System.nanoTime` readings. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Long) {
  def duration: Long = end - start
}

/**
 * In-memory span and counter recorder for the traced run. The benchmark is a
 * single closed-loop client thread, so the open-span stack is a plain list.
 * Nothing is written until the run ends ([[Tracer.toJsonLines]]). With
 * `enabled = false` every call is a pass-through.
 */
final class Tracer(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1L
  private val counters = mutable.LinkedHashMap.empty[(Long, String), Double]

  def spans: Seq[Span] = done.toSeq

  /** Run `body` as operation `id`: spans opened inside carry it. */
  def op[T](id: Long)(body: => T): T = {
    val prev = currentOp
    currentOp = id
    try body finally currentOp = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        done += Span(id, name, t0, t1, parent, currentOp)
      }
    }

  /** Record a count taken at a layer boundary for the current operation. */
  def count(name: String, value: Double): Unit =
    if (enabled) counters((currentOp, name)) = value

  def counts: Seq[(Long, String, Double)] =
    counters.toSeq.map { case ((op, n), v) => (op, n, v) }

  def toJsonLines: Iterator[String] = {
    val self = Tracer.selfTimes(spans)
    spans.iterator.map { s =>
      Json.obj("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "start_ns" -> Json.num(s.start), "end_ns" -> Json.num(s.end),
        "parent" -> Json.num(s.parent), "op" -> Json.num(s.op),
        "self_ns" -> Json.num(self(s.id)))
    } ++ counts.iterator.map { case (op, n, v) =>
      Json.obj("count" -> Json.str(n), "op" -> Json.num(op), "value" -> Json.num(v))
    }
  }
}

object Tracer {
  /** Self time of every span: its duration minus the part of its interval
   *  that its direct children cover (overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curStart = 0L
      var curEnd = Long.MinValue
      clipped.foreach { case (a, b) =>
        if (a > curEnd) {
          if (curEnd != Long.MinValue) covered += curEnd - curStart
          curStart = a
          curEnd = b
        } else curEnd = math.max(curEnd, b)
      }
      if (curEnd != Long.MinValue) covered += curEnd - curStart
      s.id -> (s.duration - covered)
    }.toMap
  }
}
