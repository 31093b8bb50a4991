package perfbench

import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the benchmark's calls into each layer of the
  * program. A span has a layer, a name, a start and an end, the span that
  * caused it, and the op it belongs to. Spans stay in memory until the run
  * ends. When tracing is off, `span` only runs its body. */
object Trace {

  final class Span(val id: Int, val parent: Int, val op: Long,
      val layer: String, val name: String, val start: Long) {
    var end: Long = start
    def ms: Double = (end - start) / 1e6
  }

  @volatile var enabled: Boolean = false
  /** The op in flight. The client is a single closed loop, so a span that
    * starts on a helper thread still belongs to the current op. */
  @volatile var op: Long = -1L

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val s = spans.synchronized {
        val s = new Span(spans.size, outer.headOption.fold(-1)(_.id), op,
          layer, name, System.nanoTime())
        spans += s
        s
      }
      stack.set(s :: outer)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(outer)
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time of each span: its duration minus that of its children. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val childMs = all.filter(_.parent >= 0).groupMapReduce(_.parent)(_.ms)(_ + _)
    all.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** The nearest ancestor of `s` (itself excluded) in `layer`. */
  def ancestorIn(s: Span, byId: Map[Int, Span], layer: String): Option[Span] =
    Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
      .takeWhile(_.isDefined).flatten.find(_.layer == layer)
}
