package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Expected output values pinned once per workload in `pins.json`:
  * `{"<workload>": {"<key>": "<value>", ...}}`. A missing key is a
  * failed check, so an unpinned output can never pass silently.
  */
final class Pins(root: JsonNode) {
  def get(workload: String, key: String): Option[String] =
    Option(root).flatMap(r => Option(r.get(workload))).flatMap(w => Option(w.get(key))).map(_.asText)

  /** None when `actual` matches the pin, else the failure message. */
  def check(workload: String, key: String, actual: String): Option[String] =
    get(workload, key) match {
      case Some(v) if v == actual => None
      case Some(v) => Some(s"$key: expected $v, got $actual")
      case None => Some(s"$key: no pinned value (got $actual)")
    }
}

object Pins {
  def load(path: String): Pins =
    new Pins(if (Files.exists(Paths.get(path))) new ObjectMapper().readTree(Files.readString(Paths.get(path))) else null)
}
