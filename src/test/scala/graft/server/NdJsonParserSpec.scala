package graft.server

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.lineproto.LineProtocolParser.{Batch, FieldType}

class NdJsonParserSpec extends AnyFunSuite {

  private val arrival = 42L
  private def parse(body: String): Batch = NdJsonParser.parse(body, "db", "t", () => arrival)
  /** Each row's fields by name, as the flush writes them. */
  private def values(b: Batch): Vector[Map[String, Any]] =
    b.rows.map(_.fields.map { case (k, v, _) => k -> v }.toMap)

  test("randomized: typed objects round-trip with first-seen schema (seeded sweep)") {
    val rnd = new scala.util.Random(5)
    def value(): Any = rnd.nextInt(4) match {
      case 0 => rnd.nextLong() / 2
      case 1 => rnd.nextDouble() * 1e9
      case 2 => "s" + rnd.alphanumeric.take(8).mkString
      case _ => rnd.nextBoolean()
    }
    (1 to 25).foreach { _ =>
      val cols = (0 until 1 + rnd.nextInt(5)).map(i => s"c$i" -> value())
      val nLines = 1 + rnd.nextInt(8)
      // same first-seen type per column; later lines drop a random subset
      val lines = (0 until nLines).map { _ =>
        cols.filter(_ => rnd.nextDouble() > 0.3)
      }.filter(_.nonEmpty)
      if (lines.nonEmpty) {
        val body = lines.map(_.map {
          case (k, v: String) => s""""$k":${JsonOut.str(v)}"""
          case (k, v) => s""""$k":$v"""
        }.mkString("{", ",", "}")).mkString("\n")
        val b = parse(body)
        assert(b.size == lines.length)
        val types = b.schema.toMap
        lines.flatten.foreach { case (k, v) =>
          val expect = v match {
            case _: Long => FieldType.I64
            case _: Double => FieldType.F64
            case _: Boolean => FieldType.Bool
            case _ => FieldType.Str
          }
          assert(types(k) == expect, s"col $k: ${types(k)} != $expect")
        }
        // absent fields stay absent (null in the file), present ones
        // carry their values
        assert(values(b) == lines.map(_.toMap).toVector)
      }
    }
  }

  test("column order is the client's own key order, even past 4 keys") {
    // >4 keys once collapsed into a HashMap before discovery, so the
    // table's PERMANENT first-seen schema order came out hash-scrambled
    val b = parse("""{"zz":1,"m":2,"aa":3,"q":4,"b":5,"x":6,"c":7}""")
    assert(b.schema.map(_._1) == Seq("zz", "m", "aa", "q", "b", "x", "c", "time"))
  }

  test("type conflict across lines is a clear error") {
    val e = intercept[IllegalArgumentException] {
      parse("{\"a\": 1}\n{\"a\": \"oops\"}")
    }
    assert(e.getMessage.contains("type conflict"))
  }

  test("integer outside int64 range is rejected, not silently wrapped") {
    val e = intercept[IllegalArgumentException] {
      // 2^70: BigInt.longValue would wrap to a wrong Long
      parse("{\"a\": 1180591620717411303424}")
    }
    assert(e.getMessage.contains("int64"))
    // boundary values still pass
    val b = parse(s"""{"a": ${Long.MaxValue}}\n{"a": ${Long.MinValue}}""")
    assert(values(b).map(_("a")).toSet == Set(Long.MaxValue, Long.MinValue))
  }

  test("integral doubles and int64 interplay: first-seen double widens longs") {
    val b = parse("{\"x\": 1.5}\n{\"x\": 2}")
    assert(b.schema.toMap.apply("x") == FieldType.F64)
    assert(b.rows.flatMap(_.fields).map { case (_, v, t) => (v, t) } ==
      Seq((1.5, FieldType.F64), (2.0, FieldType.F64)))
  }

  test("time is the event time: integral keeps its column slot, absent is arrival, else rejected") {
    val b = parse("{\"a\": 1, \"time\": 7, \"b\": \"x\"}\n{\"a\": 2}")
    assert(b.schema == Vector("a" -> FieldType.I64, "time" -> FieldType.I64, "b" -> FieldType.Str))
    assert(b.rows.map(_.timeNs) == Seq(7L, arrival))
    assert(b.rows.forall(!_.fields.exists(_._1 == "time")))
    Seq("1.5", "\"7\"", "true").foreach { t =>
      val e = intercept[IllegalArgumentException](parse(s"""{"a": 1, "time": $t}"""))
      assert(e.getMessage.contains("'time' must be an integer"), e.getMessage)
    }
    intercept[IllegalArgumentException](parse(" \n "))
  }

  test("src/main/scala/graft/server never writes through a DataFrame") {
    // HTTP ingest is one path: parse -> Batch -> BufferedIngest
    val root = Paths.get("src/main/scala/graft/server")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val s = Files.walk(root)
    val hits =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && {
          val src = Files.readString(p)
          src.contains("storeDataFrame") || src.contains("createDataFrame")
        })
        .map(p => root.relativize(p).toString).toList
      finally s.close()
    assert(hits.isEmpty, hits)
  }
}
