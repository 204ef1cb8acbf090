package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced layer call on the driver thread. Times are nanoseconds from
  * the tracer's origin; `parent` is -1 for a root span. */
final case class TraceSpan(id: Int, name: String, parent: Int,
                           startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the traced run. Spans nest by call
  * structure: a span opened while another is open becomes its child. */
final class Tracer {
  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[TraceSpan]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime() - origin
    try f
    finally {
      open = open.tail
      done += TraceSpan(id, name, parent, t0, System.nanoTime() - origin)
    }
  }

  def spans: Vector[TraceSpan] = done.sortBy(_.id).toVector
}

object Tracer {

  /** Self time of each span: its duration minus its direct children's. */
  def selfTimes(spans: Seq[TraceSpan]): Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum
    }
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Self time summed per span name, in first-seen order. */
  def selfByName(spans: Seq[TraceSpan]): Vector[(String, Double)] = {
    val self = selfTimes(spans)
    val order = spans.sortBy(_.startNs).map(_.name).distinct
    order.map(n => n -> spans.filter(_.name == n).map(s => self(s.id)).sum).toVector
  }
}
