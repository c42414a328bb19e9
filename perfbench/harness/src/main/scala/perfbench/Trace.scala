package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the id of the span open when this one
  * started (-1 at the top), `call` the benchmark call it belongs to (-1 in
  * set-up). Times are System.nanoTime values. */
final case class Span(id: Int, parent: Int, call: Int, name: String,
                      start: Long, end: Long)

/** Spans kept in memory and written once at exit. With `enabled` false,
  * `span` only runs its body. Single-threaded: the harness opens spans on
  * its main thread only. */
final class Tracer(val enabled: Boolean) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var call: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, call, name, start, System.nanoTime())
        stack = stack.tail
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  /** `body`'s result and its wall-clock seconds. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
