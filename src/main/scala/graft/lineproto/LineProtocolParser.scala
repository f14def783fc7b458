package graft.lineproto

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

/** InfluxDB line-protocol parser — the reference's primary ingest source
  * (reference merge/parsers/lineproto_parser.go:22-167).
  *
  * Pure Scala, zero Spark dependencies: unit/property-testable, and usable
  * both driver-side (HTTP ingest) and inside executors (flatMap over a
  * text stream). Lines parse independently, so a large body is cut at
  * `\n` into slices that parse on every core (`parse`); only the batch
  * grouping runs in line order.
  *
  * Semantics mirrored from the reference:
  *  - `db.table` measurement prefix selects the database
  *    (lineproto_parser.go:104-110); db resolved per batch (the reference
  *    has a bug landing the first batch in `default` — SURVEY §2.1 quirks;
  *    we resolve correctly).
  *  - tags are strings; fields are i64 (`42i`), u64 (`42u`), f64 (bare
  *    number), string (quoted), bool (lineproto_parser.go:66-94). The
  *    reference parses bools but cannot store them (SURVEY §1) — we keep
  *    them (strict-superset improvement).
  *  - trailing integer timestamp scaled by `precision` to ns; absent →
  *    `nowNs` (lineproto_parser.go:29-32,153-156).
  *  - consecutive lines are grouped into one batch while (database, table,
  *    schema-id) is unchanged (lineproto_parser.go:130-146).
  *  - schema id is order-independent over tag names and field
  *    (name, type) pairs; a tag and a string field of the same name hash
  *    identically (lineproto_parser_test.go:8-54).
  */
object LineProtocolParser {

  sealed abstract class FieldType(val rank: Int)
  object FieldType {
    case object I64 extends FieldType(1)
    case object U64 extends FieldType(2)
    case object F64 extends FieldType(3)
    case object Str extends FieldType(4)
    case object Bool extends FieldType(5)
    /** tags hash as Str — reference treats same-name tag/string-field as
      * schema-equal (lineproto_parser_test.go:42-54) */
  }

  sealed abstract class Precision(val toNs: Long)
  object Precision {
    case object Ns extends Precision(1L)
    case object Us extends Precision(1000L)
    case object Ms extends Precision(1000000L)
    case object S extends Precision(1000000000L)
    def of(name: String): Precision = name match {
      case "" | "ns" | "n" => Ns
      case "us" | "u" | "µs" => Us
      case "ms" => Ms
      case "s" => S
      case other => throw new IllegalArgumentException(s"unknown precision: $other")
    }
  }

  final case class Line(
      database: String,
      table: String,
      tags: Vector[(String, String)],
      fields: Vector[(String, Any, FieldType)],
      timeNs: Long) {
    /** Computed once per line: batch grouping compares it line by line. */
    val schemaId: Long = {
      var acc = 0L
      tags.foreach { case (k, _) => acc += entryHash(k, FieldType.Str) }
      fields.foreach { case (k, _, t) => acc += entryHash(k, t) }
      acc
    }
    private def entryHash(name: String, t: FieldType): Long = {
      val h1 = MurmurHash3.stringHash(name, 0x9747b28c)
      val h2 = MurmurHash3.stringHash(name, t.rank * 0x85ebca6b)
      (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
    }
  }

  /** One batch: consecutive lines with identical (db, table, schemaId).
    * Schema is (name, type) in first-seen order: tags, then fields, then
    * `time` (int64 ns). */
  final case class Batch(
      database: String,
      table: String,
      schema: Vector[(String, FieldType)],
      rows: Vector[Line]) {
    def size: Int = rows.length
  }

  final case class ParseException(lineNo: Int, msg: String)
      extends RuntimeException(s"line $lineNo: $msg")

  /** Characters per parse slice. A body shorter than two slices parses
    * on the calling thread; a longer one in `length / SliceChars` slices,
    * at most one per core. About 1 MiB, so a slice's parse (tens of ms)
    * dwarfs handing it to a pool thread. */
  val SliceChars: Int = 1 << 20

  /** The body's batches, in line order. The text is cut after a `\n`
    * into slices that parse in parallel on the common fork-join pool
    * (`nowNs` may be called from several threads at once); their lines
    * then group into batches in order. A malformed body throws the
    * `ParseException` of its first malformed line, numbered over the
    * whole body with blank and `#` lines counted. */
  def parse(
      text: String,
      precision: Precision = Precision.Ns,
      defaultDb: String = "default",
      nowNs: () => Long = () => System.currentTimeMillis() * 1000000L): Iterator[Batch] =
    parseSliced(text, math.min(Runtime.getRuntime.availableProcessors, text.length / SliceChars),
      precision, defaultDb, nowNs)

  /** Where `text` is cut into (at most) `slices` slices: 0, one offset
    * just past the first `\n` at or after each k/slices of the text, and
    * the length; an empty text has no slice. */
  private[lineproto] def sliceBounds(text: String, slices: Int): IndexedSeq[Int] = {
    val n = math.max(1, slices)
    (0 +: (1 until n).map { k =>
      val nl = text.indexOf('\n', (text.length.toLong * k / n).toInt)
      if (nl < 0) text.length else nl + 1
    } :+ text.length).distinct
  }

  private[lineproto] def parseSliced(text: String, slices: Int, precision: Precision,
                                     defaultDb: String, nowNs: () => Long): Iterator[Batch] = {
    val bounds = sliceBounds(text, slices)
    val parsed = new Array[Either[ParseException, (Vector[Line], Int)]](bounds.length - 1)
    def run(k: Int): Unit = parsed(k) =
      try Right(parseSlice(text.substring(bounds(k), bounds(k + 1)), precision, defaultDb, nowNs))
      catch { case e: ParseException => Left(e) }
    if (parsed.length == 1) run(0)
    else java.util.stream.IntStream.range(0, parsed.length).parallel().forEach(k => run(k))
    var offset = 0
    val lines = parsed.map {
      case Left(e) => throw e.copy(lineNo = offset + e.lineNo)
      case Right((ls, count)) => offset += count; ls
    }
    groupBatches(lines.iterator.flatten)
  }

  /** One slice's parsed lines and its line count. A slice ends after a
    * `\n` (or at the end of the body), so its lines are exactly the
    * body's lines in that range. */
  private def parseSlice(text: String, precision: Precision, defaultDb: String,
                         nowNs: () => Long): (Vector[Line], Int) = {
    val out = Vector.newBuilder[Line]
    var no = 0
    text.linesIterator.foreach { raw =>
      no += 1
      val l = raw.trim
      if (l.nonEmpty && !l.startsWith("#")) out += parseLine(l, no, precision, defaultDb, nowNs)
    }
    (out.result(), no)
  }

  private def groupBatches(lines: Iterator[Line]): Iterator[Batch] = new Iterator[Batch] {
    private val it = lines.buffered
    def hasNext: Boolean = it.hasNext
    def next(): Batch = {
      val first = it.head
      val buf = Vector.newBuilder[Line]
      while (it.hasNext && {
        val h = it.head
        h.schemaId == first.schemaId && h.table == first.table && h.database == first.database
      }) buf += it.next()
      val rows = buf.result()
      // Dedupe names: a tag and a field of the same name (schema-id-equal
      // by design) must yield ONE column — the field's value/type wins,
      // matching the reference's map[string]any last-write-wins semantics
      // (lineproto_parser.go:76-94). Position is first-seen.
      val schema = mutable.LinkedHashMap[String, FieldType]()
      first.tags.foreach { case (k, _) => schema.update(k, FieldType.Str) }
      first.fields.foreach { case (k, _, t) => schema.update(k, t) }
      schema.update("time", FieldType.I64)
      Batch(first.database, first.table, schema.toVector, rows)
    }
  }

  // ---- single-line scanner (escape-aware; reference tokenizer semantics) ----
  private def parseLine(line: String, no: Int, precision: Precision,
                        defaultDb: String, nowNs: () => Long): Line = {
    val s = new Scanner(line, no)
    val measurement = s.scanIdent(stopAtComma = true, stopAtSpace = true)
    if (measurement.isEmpty) throw ParseException(no, "empty measurement")
    val (db, table) = measurement.indexOf('.') match {
      case -1 => (defaultDb, measurement)
      case i => (measurement.substring(0, i), measurement.substring(i + 1))
    }
    val tags = Vector.newBuilder[(String, String)]
    while (s.peek == ',') {
      s.advance()
      val k = s.scanIdent(stopAtComma = true, stopAtSpace = true, stopAtEq = true)
      if (s.peek != '=') throw ParseException(no, s"tag '$k' missing '='")
      s.advance()
      val v = s.scanIdent(stopAtComma = true, stopAtSpace = true, stopAtEq = true)
      // 'time' is the trailing-timestamp column the engine owns: the
      // batch schema forces it to I64 and the writer assigns line.timeNs
      // over it, so a client tag/field of that name would be silently
      // destroyed after a 204 ack — reject loudly (the __timestamp
      // discipline; documented deviation from the reference's
      // last-write-wins map, which clobbers)
      if (k == "time") throw ParseException(no,
        "tag 'time' is reserved (the trailing timestamp token)")
      tags += (k -> v)
    }
    if (s.peek != ' ') throw ParseException(no, "expected fields after measurement/tags")
    s.skipSpaces()
    val fields = Vector.newBuilder[(String, Any, FieldType)]
    var more = true
    while (more) {
      val k = s.scanIdent(stopAtComma = true, stopAtSpace = true, stopAtEq = true)
      if (s.peek != '=') throw ParseException(no, s"field '$k' missing '='")
      s.advance()
      if (k == "time") throw ParseException(no,
        "field 'time' is reserved (the trailing timestamp token)")
      fields += parseValue(k, s, no)
      if (s.peek == ',') s.advance() else more = false
    }
    val timeNs =
      if (s.peek == ' ') {
        s.skipSpaces()
        if (s.atEnd) nowNs()
        else {
          val t = s.rest().trim
          // multiplyExact: a ms-epoch value sent with ?precision=s (the
          // classic unit mixup) would otherwise wrap past Long.Max into
          // a garbage negative time accepted silently — corrupting the
          // date/hour partitions and every min/max time stat
          try Math.multiplyExact(t.toLong, precision.toNs)
          catch {
            case _: NumberFormatException =>
              throw ParseException(no, s"bad timestamp '$t'")
            case _: ArithmeticException =>
              throw ParseException(no,
                s"timestamp '$t' overflows ns-epoch at this ?precision= " +
                  "(check the precision matches the values)")
          }
        }
      } else if (s.atEnd) nowNs()
      else throw ParseException(no, s"unexpected trailing input '${s.rest()}'")
    Line(db, table, tags.result(), fields.result(), timeNs)
  }

  private def parseValue(key: String, s: Scanner, no: Int): (String, Any, FieldType) = {
    if (s.peek == '"') {
      (key, s.scanQuoted(), FieldType.Str)
    } else {
      val raw = s.scanIdent(stopAtComma = true, stopAtSpace = true)
      if (raw.isEmpty) throw ParseException(no, s"field '$key' has empty value")
      val last = raw.last
      if (last == 'i') {
        try (key, raw.dropRight(1).toLong, FieldType.I64)
        catch { case _: NumberFormatException =>
          throw ParseException(no, s"bad int field '$key'='$raw'") }
      } else if (last == 'u') {
        try {
          val v = new java.math.BigInteger(raw.dropRight(1))
          // uint64 range up front: BigInteger accepts negatives and any
          // width, which the decimal(20,0) column would only reject at
          // the durable flush — an engine 500 for a malformed body
          if (v.signum < 0 || v.bitLength > 64)
            throw ParseException(no, s"uint field '$key'='$raw' out of uint64 range")
          (key, BigDecimal(v), FieldType.U64)
        } catch { case _: NumberFormatException =>
          throw ParseException(no, s"bad uint field '$key'='$raw'") }
      } else if (raw == "true" || raw == "t" || raw == "T" || raw == "True" || raw == "TRUE") {
        (key, true, FieldType.Bool)
      } else if (raw == "false" || raw == "f" || raw == "F" || raw == "False" || raw == "FALSE") {
        (key, false, FieldType.Bool)
      } else {
        try (key, raw.toDouble, FieldType.F64)
        catch { case _: NumberFormatException =>
          throw ParseException(no, s"bad field value '$key'='$raw'") }
      }
    }
  }

  /** Escape-aware cursor over one line. `\,` `\ ` `\=` unescape inside
    * identifiers; `\"` and `\\` inside quoted strings. */
  private final class Scanner(line: String, no: Int) {
    private var i = 0
    def atEnd: Boolean = i >= line.length
    def peek: Char = if (atEnd) '\u0000' else line.charAt(i)
    def advance(): Unit = i += 1
    def skipSpaces(): Unit = while (!atEnd && line.charAt(i) == ' ') i += 1
    def rest(): String = line.substring(i)

    // Influx models semantics (the reference parses via
    // influxdata/influxdb/models): ONLY the protocol's recognized escape
    // pairs unescape — identifiers: \, \  \= \\ ; quoted strings: \" \\ .
    // A backslash before anything else is LITERAL data and is preserved
    // ("C:\temp" must not become "C:temp").
    def scanIdent(stopAtComma: Boolean, stopAtSpace: Boolean,
                  stopAtEq: Boolean = false): String = {
      def stop(c: Char) = (stopAtComma && c == ',') || (stopAtSpace && c == ' ') ||
        (stopAtEq && c == '=')
      // no backslash before the stop: the identifier is a plain substring
      val start = i
      while (!atEnd && line.charAt(i) != '\\' && !stop(line.charAt(i))) i += 1
      if (atEnd || line.charAt(i) != '\\') return line.substring(start, i)
      val sb = new StringBuilder(line.substring(start, i))
      var done = false
      while (!done && !atEnd) {
        val c = line.charAt(i)
        if (c == '\\' && i + 1 < line.length &&
            ",= \\".indexOf(line.charAt(i + 1)) >= 0) {
          sb += line.charAt(i + 1); i += 2
        }
        else if (stop(c)) done = true
        else { sb += c; i += 1 }
      }
      sb.result()
    }

    def scanQuoted(): String = {
      advance() // opening quote
      val sb = new StringBuilder
      var closed = false
      while (!closed) {
        if (atEnd) throw ParseException(no, "unterminated string field")
        val c = line.charAt(i)
        if (c == '\\' && i + 1 < line.length &&
            (line.charAt(i + 1) == '"' || line.charAt(i + 1) == '\\')) {
          sb += line.charAt(i + 1); i += 2
        }
        else if (c == '"') { i += 1; closed = true }
        else { sb += c; i += 1 }
      }
      sb.result()
    }
  }
}
