package vdbbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** In-memory span recorder for the traced run: (name, start, end,
  * parent) around each timed library call, written out once as JSON
  * when the run ends. Spans nest by call order on one thread. */
final class Trace {

  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, var endNs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, open.headOption.getOrElse(-1), System.nanoTime())
    spans += s
    open = s.id :: open
    try body
    finally { s.endNs = System.nanoTime(); open = open.tail }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Wall time of a span minus the time of its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def root(name: String): Span = spans.find(s => s.name == name && s.parent == -1).get

  /** Self time of every span below `root`, i.e. the layers it covers. */
  def layerSelfSeconds(root: Span): Double = {
    def below(id: Int): Seq[Span] =
      spans.filter(_.parent == id).toSeq.flatMap(c => c +: below(c.id))
    below(root.id).map(selfSeconds).sum
  }

  def toJson: ArrayNode = {
    val a = Json.arr()
    spans.foreach { s =>
      a.addObject().put("name", s.name).put("parent", s.parent)
        .put("start_s", (s.startNs - origin) / 1e9).put("end_s", (s.endNs - origin) / 1e9)
    }
    a
  }
}

/** JSON for result lines, traces and the manifest, through the Jackson
  * copy Spark ships. */
object Json {
  private val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def arr(): ArrayNode = mapper.createArrayNode()
  def write(node: JsonNode): String = mapper.writeValueAsString(node)
  def writeFile(path: String, node: JsonNode): Unit = mapper.writeValue(new java.io.File(path), node)
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
  def parse(text: String): JsonNode = mapper.readTree(text)
}
