package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The little JSON the client writes, and the expected-results file it reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }
}

/** Expected results per scale factor, recorded after a green oracle check
  * (see `record_expected.py`). `check` is `digest`, or `rows` for a query
  * whose digest does not repeat from run to run. */
object Expected {
  final case class Entry(check: String, digest: String, rows: Long)

  def load(path: String, sf: String): Map[String, Entry] =
    Option(new ObjectMapper().readTree(new File(path)).get(sf)).toSeq
      .flatMap(_.fields().asScala)
      .map { e =>
        val v = e.getValue
        e.getKey -> Entry(v.get("check").asText, v.get("digest").asText, v.get("rows").asLong)
      }.toMap
}
