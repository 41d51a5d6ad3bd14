package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer: `name` is `<layer>.<what>`, `parent` the
  * index (in [[Trace.all]]) of the enclosing span, -1 for an op's root. */
final case class Span(op: Int, name: String, startNs: Long, endNs: Long, parent: Int)

/** In-memory span recorder for the traced run. Spans are kept only while
  * an op is traced; an untraced op runs its body with no bookkeeping.
  * The harness writes all spans out once, when the run ends. */
object Trace {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var curOp = -1

  def all: Seq[Span] = spans.toSeq

  /** Run one op under a root span named `op.<kind>` when `traced`. */
  def runOp[T](id: Int, kind: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      curOp = id
      try span(s"op.$kind")(body) finally curOp = -1
    }

  /** Time `body` as a child of the innermost open span (a no-op outside
    * a traced op). */
  def span[T](name: String)(body: => T): T =
    if (curOp < 0) body
    else {
      val idx = spans.length
      val parent = open.headOption.getOrElse(-1)
      spans += Span(curOp, name, System.nanoTime(), 0L, parent)
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
      }
    }
}
