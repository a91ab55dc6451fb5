package graft.util

import java.sql.Timestamp
import java.time.ZoneId
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The one small JSON writer for catalog rows and API bodies. A row
  * renders exactly as Spark's `Dataset.toJSON` renders it under the same
  * session time zone: fields in schema order, null fields omitted,
  * strings escaped as Jackson escapes them, timestamps as
  * `yyyy-MM-dd'T'HH:mm:ss.SSSXXX`. Only the value types the catalog
  * stores (string, integral, timestamp) are supported.
  */
object Json {

  private val timestampFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")

  /** A quoted, escaped JSON string. */
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\b' => b.append("\\b")
      case '\f' => b.append("\\f")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04X")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** One row as a JSON object. */
  def row(r: Row, schema: StructType, zone: ZoneId): String =
    obj(schema.fields.indices.filterNot(r.isNullAt).map { i =>
      schema(i).name -> (r.get(i) match {
        case s: String => str(s)
        case t: Timestamp => str(timestampFormat.withZone(zone).format(t.toInstant))
        case n @ (_: java.lang.Integer | _: java.lang.Long) => n.toString
        case other => throw new IllegalArgumentException(
          s"${schema(i).name}: no JSON form for ${other.getClass.getName}")
      })
    })

  /** A JSON array of already-rendered values (numbers render as themselves). */
  def arr(items: Iterable[Any]): String = items.mkString("[", ",", "]")

  /** A JSON object from (key, already-rendered value) pairs, in order. */
  def obj(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
