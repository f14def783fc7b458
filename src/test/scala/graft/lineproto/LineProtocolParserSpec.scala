package graft.lineproto

import org.scalatest.funsuite.AnyFunSuite
import LineProtocolParser._

/** FIXTURES.md F1/F5 — mirrors reference lineproto_parser_test.go. */
class LineProtocolParserSpec extends AnyFunSuite {
  private val now = () => 1700000000000000000L

  test("weather sample (F1): tags are strings, bare numbers are f64") {
    val text =
      """weather,location=us-midwest,season=summer temperature=82
        |weather,location=us-east,season=summer temperature=80
        |weather,location=us-west,season=summer temperature=99""".stripMargin
    val batches = parse(text, nowNs = now).toVector
    assert(batches.length == 1)
    val b = batches.head
    assert(b.database == "default" && b.table == "weather" && b.size == 3)
    assert(b.schema == Vector("location" -> FieldType.Str, "season" -> FieldType.Str,
      "temperature" -> FieldType.F64, "time" -> FieldType.I64))
    assert(b.rows.head.fields.head == ("temperature", 82.0, FieldType.F64))
    assert(b.rows.head.timeNs == now())
  }

  test("db.table measurement prefix selects database") {
    val b = parse("mydb.cpu usage=0.5 1000", nowNs = now).toVector.head
    assert(b.database == "mydb" && b.table == "cpu")
    assert(b.rows.head.timeNs == 1000L)
  }

  test("typed fields: i64, u64, f64, string, bool") {
    val b = parse(
      """m a=1i,b=2u,c=3.5,d="text with \" quote",e=true 42""", nowNs = now).toVector.head
    val m = b.rows.head.fields.map(x => x._1 -> ((x._2, x._3))).toMap
    assert(m("a") == ((1L, FieldType.I64)))
    assert(m("b") == ((BigDecimal(2), FieldType.U64)))
    assert(m("c") == ((3.5, FieldType.F64)))
    assert(m("d") == (("text with \" quote", FieldType.Str)))
    assert(m("e") == ((true, FieldType.Bool)))
  }

  test("precision scales timestamps to ns") {
    assert(parse("m v=1 5", Precision.S, nowNs = now).toVector.head.rows.head.timeNs == 5000000000L)
    assert(parse("m v=1 5", Precision.Ms, nowNs = now).toVector.head.rows.head.timeNs == 5000000L)
    assert(parse("m v=1 5", Precision.Us, nowNs = now).toVector.head.rows.head.timeNs == 5000L)
    assert(parse("m v=1 5", Precision.Ns, nowNs = now).toVector.head.rows.head.timeNs == 5L)
  }

  test("schema id: field type change cuts a batch (reference test 1)") {
    val batches = parse(
      """m,t=a v=1i
        |m,t=a v=1.5""".stripMargin, nowNs = now).toVector
    assert(batches.length == 2)
  }

  test("schema id: tag/field order is irrelevant (reference test 2)") {
    val batches = parse(
      """m,t1=a,t2=b x=1i,y=2i
        |m,t2=b,t1=a y=2i,x=1i""".stripMargin, nowNs = now).toVector
    assert(batches.length == 1 && batches.head.size == 2)
  }

  test("schema id: tag vs string field with same name hash equal (reference test 3)") {
    val a = parse("m,name=x v=1i", nowNs = now).toVector.head.rows.head.schemaId
    val b = parse("""m name="x",v=1i""", nowNs = now).toVector.head.rows.head.schemaId
    assert(a == b)
  }

  test("measurement change cuts a batch") {
    val batches = parse(
      """cpu v=1
        |mem v=2
        |cpu v=3""".stripMargin, nowNs = now).toVector
    assert(batches.map(_.table) == Vector("cpu", "mem", "cpu"))
  }

  test("escaped separators in measurement/tags") {
    val b = parse("""my\ table,ta\,g=va\ lue v=1""", nowNs = now).toVector.head
    assert(b.table == "my table")
    assert(b.rows.head.tags == Vector("ta,g" -> "va lue"))
  }

  test("lone backslashes are literal data (influx models semantics)") {
    // only the protocol's recognized pairs unescape; "C:\temp" must not
    // silently become "C:temp"
    val b = parse("""m,host=a\b path="C:\temp\new",v=1""", nowNs = now).toVector.head
    assert(b.rows.head.tags == Vector("host" -> """a\b"""))
    val strField = b.rows.head.fields.find(_._1 == "path").get._2
    assert(strField == """C:\temp\new""", strField)
    // recognized pairs still unescape: \" in strings, \, in idents
    val c = parse("""m,t=a\,b s="say \"hi\" \\ done",v=1""", nowNs = now).toVector.head
    assert(c.rows.head.tags == Vector("t" -> "a,b"))
    assert(c.rows.head.fields.find(_._1 == "s").get._2 == """say "hi" \ done""")
  }

  test("malformed lines raise ParseException with line number") {
    val e = intercept[ParseException](parse("m v=", nowNs = now).toVector)
    assert(e.getMessage.contains("line 1"))
    intercept[ParseException](parse("m", nowNs = now).toVector)
    intercept[ParseException](parse("m v=abc", nowNs = now).toVector)
  }

  test("range/reserved guards: u64 bounds, timestamp overflow, 'time' name") {
    // BigInteger accepts negatives and any width — the decimal(20,0)
    // column would only reject at the durable flush as an engine 500
    intercept[ParseException](parse("m f=-5u", nowNs = now).toVector)
    intercept[ParseException](
      parse("m f=99999999999999999999999u", nowNs = now).toVector)
    assert(parse("m f=18446744073709551615u", nowNs = now) // 2^64-1 ok
      .toVector.head.rows.nonEmpty)
    // ms-epoch value with ?precision=s (the classic unit mixup) must
    // 400, not wrap past Long.Max into a garbage negative time
    val o = intercept[ParseException](parse("m f=1i 1765000000000",
      precision = Precision.S, nowNs = now).toVector)
    assert(o.getMessage.contains("overflow"), o.getMessage)
    // 'time' is the trailing-timestamp column the engine owns: a client
    // tag/field of that name was silently clobbered after the 204 ack
    val t1 = intercept[ParseException](
      parse("""m time="maintenance" 1000""", nowNs = now).toVector)
    assert(t1.getMessage.contains("reserved"), t1.getMessage)
    intercept[ParseException](
      parse("m,time=x v=1i 1000", nowNs = now).toVector)
  }

  test("property: render→parse round-trips (simplified ScalaCheck-style sweep)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val nTags = rnd.nextInt(3)
      val tags = (0 until nTags).map(i => s"tag$i" -> s"v${rnd.nextInt(100)}")
      val fields = (0 to rnd.nextInt(3)).map { i =>
        rnd.nextInt(4) match {
          case 0 => (s"f$i", rnd.nextLong(1000000).toString + "i", FieldType.I64)
          case 1 => (s"f$i", rnd.nextDouble().toString, FieldType.F64)
          case 2 => (s"f$i", "\"s" + rnd.nextInt(100) + "\"", FieldType.Str)
          case _ => (s"f$i", if (rnd.nextBoolean()) "true" else "false", FieldType.Bool)
        }
      }
      val ts = math.abs(rnd.nextLong(1000000000L))
      val line = "tbl" +
        tags.map { case (k, v) => s",$k=$v" }.mkString +
        " " + fields.map(f => s"${f._1}=${f._2}").mkString(",") +
        s" $ts"
      val b = parse(line, nowNs = now).toVector.head
      assert(b.rows.head.timeNs == ts)
      assert(b.rows.head.tags.length == nTags)
      assert(b.rows.head.fields.map(_._3) == fields.map(_._3))
    }
  }

  // ---- sliced parse: every line kind at every slice cut ----

  private val Width = 72
  private def pad(head: String, tail: String): String =
    head + "x" * (Width - head.length - tail.length) + tail
  // every kind renders exactly Width chars, so swapping one line's kind
  // leaves every slice cut where it was
  private def render(kind: Int, i: Int): String = kind match {
    case 0 => pad("cpu,pad=", f" v=${i}%07di,u=${i % 97}u 17000000000${i}%08d")
    case 1 => pad("cpu,pad=", f" v=$i%07d.5,u=${i % 97}u 17000000000${i}%08d") // schema change
    case 2 => pad("otherdb.mem,pad=", f" v=${i}%07di,u=${i % 97}u") // db/table change, no time
    case 3 => pad("""my\ table,ta\,g=va\ lue,pad=""", " s=\"q\\\"" + f"$i%07d" + "\" 1") // escapes
    case 4 => " " * Width // blank
    case 5 => pad("#", "") // comment
    case 6 => pad("cpu,pad=", " v=abc") // malformed
  }

  /** A seeded body of >= 3 slices, with CRLF on about every third line,
    * and the line kinds `atCut` placed on the first line of slices 2..4
    * of a 4-slice cut. */
  private def slicedBody(seed: Int, atCut: Seq[Int], rows: Int = 3 * SliceChars / (Width + 1) + 1000) = {
    val rnd = new scala.util.Random(seed)
    val kinds = Array.fill(rows)(Seq(0, 0, 0, 0, 1, 2, 3, 4, 5)(rnd.nextInt(9)))
    val ends = Array.fill(rows)(if (rnd.nextInt(3) == 0) "\r\n" else "\n")
    def text = kinds.indices.map(i => render(kinds(i), i) + ends(i)).mkString
    val starts = kinds.indices.scanLeft(0)((at, i) => at + Width + ends(i).length)
    val bounds = sliceBounds(text, 4)
    assert(bounds.length == 5)
    bounds.slice(1, 4).zip(atCut).foreach { case (b, kind) => kinds(starts.indexOf(b)) = kind }
    val body = text
    assert(body.length >= 3 * SliceChars && sliceBounds(body, 4) == bounds)
    (body, bounds, starts)
  }

  test("sliced parse equals the one-slice parse: cuts on schema, db/table, blank, # lines") {
    Seq(Seq(1, 2, 3), Seq(4, 5, 0), Seq(2, 1, 4), Seq(5, 3, 1)).zipWithIndex.foreach {
      case (atCut, seed) =>
        val (body, _, _) = slicedBody(seed, atCut)
        val one = parseSliced(body, 1, Precision.Ns, "default", now).toVector
        assert(one.length > 1000 && one.map(_.database).toSet == Set("default", "otherdb"))
        assert(one.map(_.table).toSet == Set("cpu", "mem", "my table"))
        Seq(2, 3, 4).foreach(n =>
          assert(parseSliced(body, n, Precision.Ns, "default", now).toVector == one, s"$n slices"))
        assert(parse(body, nowNs = now).toVector == one)
    }
  }

  test("sliced parse reports the first malformed line, numbered over the whole body") {
    val (clean, bounds, starts) = slicedBody(7, Seq(0, 0, 0))
    def lineAt(offset: Int) = starts.indexOf(offset) // 0-based
    def breakLines(lines: Int*) = {
      val sb = new StringBuilder(clean)
      lines.foreach(l => sb.replace(starts(l), starts(l) + Width, render(6, l)))
      sb.result()
    }
    def lineNo(body: String, slices: Int) =
      intercept[ParseException](parseSliced(body, slices, Precision.Ns, "default", now)).lineNo
    val third = lineAt(bounds(2)) + 5 // inside slice 3 of 4
    val second = lineAt(bounds(1)) + 9
    val last = lineAt(bounds(3)) + 2
    for ((broken, first) <- Seq(Seq(third) -> third, Seq(third, last) -> third,
                                Seq(second, third) -> second)) {
      val body = breakLines(broken: _*)
      Seq(1, 2, 4).foreach(n => assert(lineNo(body, n) == first + 1, s"$n slices"))
    }
  }
}
