package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One benchmark-side call boundary. Times are `System.nanoTime` (for
  * durations) plus the wall clock in ms at start and end (for matching
  * Spark listener events, which carry wall-clock times).
  */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. When disabled it
  * only runs the body, so an untraced run pays nothing for the spans.
  * While a span is open its id is the Spark job group of the thread, which
  * the [[JobLedger]] uses to attribute jobs to the call.
  */
final class Tracer(val enabled: Boolean, groups: Option[org.apache.spark.SparkContext] = None) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0

  def spans: Seq[Span] = done.toSeq

  def span[A](name: String, request: Long = -1L)(body: => A): A = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    groups.foreach(_.setJobGroup(s"perfbench-$id", name))
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    try body
    finally {
      val endNs = System.nanoTime()
      done += Span(id, name, parent, request, startNs, endNs, startMs, System.currentTimeMillis())
      stack = stack.tail
      groups.foreach { sc =>
        stack.headOption match {
          case Some((p, pName)) => sc.setJobGroup(s"perfbench-$p", pName)
          case None             => sc.clearJobGroup()
        }
      }
    }
  }

  /** Every span of this name. */
  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq
}

object Tracer {

  /** A span's duration minus the union of its children's intervals (clipped
    * to the span), so overlapping children are counted once.
    */
  def selfNs(span: Span, all: Seq[Span]): Long = {
    val kids = all.filter(_.parent == span.id)
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
    span.durationNs - Stats.unionLength(kids)
  }
}
