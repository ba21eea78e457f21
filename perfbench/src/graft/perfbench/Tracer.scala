package graft.perfbench

import scala.collection.mutable

/** One traced call: `parent` is the enclosing span's id (-1 at the root);
  * `op` is shared by every span of one workload op (a query, a build, an
  * ingest step). Times are ns from the tracer's creation. */
final case class Span(id: Int, parent: Int, name: String, op: Long,
                      startNs: Long, endNs: Long) {
  def layer: String = Tracer.layerOf(name)
}

/** In-memory span recorder for the client thread. Off by default; the
  * traced run switches it on per op. Spans are written out once, at the
  * end of the run. */
final class Tracer {
  var enabled = false
  var op = 0L
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime() - origin
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, System.nanoTime() - origin)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Per layer: (self ms, span count). A span's self time is its duration
    * minus the time its child spans cover; children never overlap here
    * because one thread opens them in sequence. */
  def selfTimes: Map[String, (Double, Int)] = {
    val childNs = mutable.HashMap[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> (ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6,
        ss.size)
    }
  }
}

object Tracer {
  /** "<layer>.<call>": the layer is everything before the last dot. */
  def layerOf(name: String): String = name.substring(0, math.max(0, name.lastIndexOf('.')))
}
