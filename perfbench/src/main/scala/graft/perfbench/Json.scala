package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** The little JSON the benchmark reads (its config) and writes (one result
  * line, span files). Reading goes through the Jackson copy Spark ships.
  */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode =
    mapper.readTree(new java.io.File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def str(s: String): String = "\"" + escape(s) + "\""

  /** A measured number with all its digits; JSON has no NaN or infinity. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a finite number: $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
}
