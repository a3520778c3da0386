package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The committed query -> module map (derive_modules.py). */
object Modules {
  @volatile private var map: Map[String, Seq[String]] = Map.empty

  def load(path: String): Unit = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
    map = root.fields().asScala.map { e =>
      e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
    }.toMap
  }

  def of(query: String): Seq[String] = map.getOrElse(query, Nil)
}
