package graft.server

import scala.collection.mutable
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.lineproto.LineProtocolParser.{Batch, FieldType, Line}

/** Content-Type → body parser registry (reference merge/parsers/
  * parsers.go:10-46: prefix match on the Content-Type, empty string
  * defaults to line protocol). The reference registers an NDJSON parser
  * that is `not implemented` (ndjson_insert_parser.go:17-90, dead code);
  * ours is a working strict-superset feature per SURVEY §2.1 N3/N4. Both
  * kinds parse into `Batch`es for the one buffered write path.
  */
object BodyParsers {
  sealed trait Kind
  case object LineProtocol extends Kind
  case object NdJson extends Kind

  /** Prefix-matched like the reference's GetParser. */
  def dispatch(contentType: String): Kind = {
    val ct = contentType.toLowerCase.trim
    if (ct.startsWith("application/x-ndjson") || ct.startsWith("application/ndjson") ||
      ct.startsWith("application/jsonl")) NdJson
    else LineProtocol // "" and text/* default to line protocol
  }
}

/** NDJSON (one JSON object per line) → one line-protocol `Batch` for
  * the buffered flush, the path line-protocol bodies take. Types follow
  * the reference's 4+1 model: integral JSON numbers → I64, other numbers
  * → F64, strings → Str, booleans → Bool. Columns are the body's keys in
  * first-seen order and the first-seen type wins across lines; a later
  * integral value in an F64 column widens to a double. Each line carries
  * only its own keys, so absent keys (and JSON nulls) stay null.
  *
  * `time` is the engine's event time, as in line protocol: an integral
  * `time` (int64 ns; `?precision=` does not apply) becomes the line's
  * `timeNs` and keeps its first-seen column position; a line without it
  * gets the arrival time, so a table written only by bodies without
  * `time` ends in a `time INT64` column. A `time` that is not an
  * integer is rejected.
  */
object NdJsonParser {
  def parse(body: String, db: String, table: String,
            nowNs: () => Long = () => System.currentTimeMillis() * 1000000L): Batch = {
    val lines = body.linesIterator.map(_.trim).filter(_.nonEmpty).toVector
    require(lines.nonEmpty, "empty NDJSON body")
    // ORDERED pairs, not a Map: column discovery below must see the
    // client's own key order — a HashMap's iteration order would
    // scramble the table's permanent first-seen schema for any object
    // with more than 4 keys
    val parsed: Vector[Vector[(String, Any)]] = lines.map { l =>
      JsonMethods.parse(l) match {
        case JObject(kvs) => kvs.flatMap {
          case (k, JInt(v)) =>
            // BigInt.longValue silently wraps outside int64 — reject loudly,
            // same policy as nested values below
            if (!v.isValidLong) throw new IllegalArgumentException(
              s"NDJSON field '$k' integer $v is outside int64 range")
            Some(k -> v.longValue)
          case (k, JLong(v)) => Some(k -> v)
          case (k, JDouble(v)) => Some(k -> v)
          case (k, JDecimal(v)) => Some(k -> v.toDouble)
          case (k, JString(v)) => Some(k -> v)
          case (k, JBool(v)) => Some(k -> v)
          case (_, JNull | JNothing) => None // JSON null -> SQL null
          case (k, other) => throw new IllegalArgumentException(
            // nested shapes must error loudly, not silently become null
            s"NDJSON field '$k' has unsupported ${other.getClass.getSimpleName
              .stripPrefix("J").toLowerCase} value (flat scalars only)")
        }.toVector
        case other => throw new IllegalArgumentException(
          s"NDJSON line is not an object: ${other.getClass.getSimpleName}")
      }
    }
    val schema = mutable.LinkedHashMap.empty[String, FieldType]
    parsed.foreach(_.foreach { case (k, v) =>
      if (!schema.contains(k)) schema(k) = v match {
        case _: Long => FieldType.I64
        case _: Double => FieldType.F64
        case _: Boolean => FieldType.Bool
        case _ => FieldType.Str
      }
    })
    schema("time") = FieldType.I64 // first-seen position, else last
    val rows = parsed.map { kvs =>
      var timeNs = Option.empty[Long]
      val fields = kvs.flatMap {
        case ("time", t: Long) => timeNs = Some(t); None
        case ("time", v) => throw new IllegalArgumentException(
          s"NDJSON field 'time' must be an integer (epoch ns), got ${v.getClass.getSimpleName}")
        case (k, v) => Some((k, (v, schema(k)) match {
          case (l: Long, FieldType.F64) => l.toDouble
          case (_: Long, FieldType.I64) | (_: Double, FieldType.F64) |
               (_: Boolean, FieldType.Bool) | (_: String, FieldType.Str) => v
          case (_, t) => throw new IllegalArgumentException(
            s"column '$k' type conflict: first-seen ${sqlName(t)}, " +
              s"got ${v.getClass.getSimpleName}")
        }, schema(k)))
      }
      Line(db, table, Vector.empty, fields, timeNs.getOrElse(nowNs()))
    }
    Batch(db, table, schema.toVector, rows)
  }

  private def sqlName(t: FieldType): String = t match {
    case FieldType.I64 => "bigint"
    case FieldType.F64 => "double"
    case FieldType.Bool => "boolean"
    case _ => "string"
  }
}
