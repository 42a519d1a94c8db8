package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Writes nested Scala maps and sequences as JSON (Jackson ships with
  * Spark). */
object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x
  }

  def write(path: String, value: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), toJava(value))
}
