package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. A span is one timed call
  * into a layer (`sources.load`, `pipeline.build`, `queries.exec`, ...);
  * it carries a name, start and end in epoch microseconds (the same
  * clock the stub server stamps its request spans with), its parent
  * span and a `key` shared by every span of one pass item (the enrich
  * cycle or the query). Spans are written out once, at the end of the
  * run. When disabled, `span` only runs its body. `onCurrent` hears the
  * id of the innermost open span (0: none) whenever it changes. */
final class Tracer(enabled: Boolean, onCurrent: Int => Unit = _ => ()) {
  final case class Span(id: Int, name: String, parent: Int, key: String,
      startUs: Long, endUs: Long)

  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  def span[T](name: String, key: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      onCurrent(id)
      val start = Tracer.nowUs()
      try body
      finally {
        done += Span(id, name, parent, key, start, Tracer.nowUs())
        stack = stack.tail
        onCurrent(stack.headOption.getOrElse(0))
      }
    }

  def spans: Seq[Span] = done.toSeq
}

object Tracer {
  def nowUs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }
}
