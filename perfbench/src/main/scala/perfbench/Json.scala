package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON output for the result line and the detail file, and
  * Jackson (shipped with Spark) for reading. */
object Json {
  def write(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def read(p: Path): JsonNode =
    new ObjectMapper().readTree(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  def save(p: Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.write(p, write(v).getBytes(StandardCharsets.UTF_8))
  }
}

/** The analytics results recorded at the seed commit: per query, the
  * row count and order-independent content hash. */
object Expected {
  def read(p: Path): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    Json.read(p).properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }
}
