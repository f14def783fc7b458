package graft

import java.nio.file.Files
import graft.catalog.TableCatalog
import graft.ingest.IngestWriter
import graft.lineproto.LineProtocolParser

class SqlBootstrapSpec extends SparkSpec {
  test("splitStatements honors quotes and trims empties") {
    assert(SqlBootstrap.splitStatements("SELECT 1; SELECT 2;") ==
      Seq("SELECT 1", "SELECT 2"))
    assert(SqlBootstrap.splitStatements("SELECT 'a;b' AS s; SELECT \";\" AS t") ==
      Seq("SELECT 'a;b' AS s", "SELECT \";\" AS t"))
    assert(SqlBootstrap.splitStatements("  ;;  ") == Nil)
    // backslash-escaped quote inside a literal must not close it
    assert(SqlBootstrap.splitStatements("SELECT 'a\\';b' AS s; SELECT 1") ==
      Seq("SELECT 'a\\';b' AS s", "SELECT 1"))
  }

  test("run answers a bare-name SELECT and a read_csv join over a written table") {
    val root = Files.createTempDirectory("graft-boot-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat, () => 1700000000000000000L)
    LineProtocolParser.parse(
      "boot,city=rome v=1i 1700000000000000001\nboot,city=oslo v=2i 1700000000000000002")
      .foreach(w.store)
    val csv = root.resolve("pop.csv")
    Files.write(csv, "city,pop\nrome,2761632\noslo,709037\n".getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      SqlBootstrap.run(spark, root.toString,
        s"""INSTALL chsql; LOAD chsql;
           |SELECT city, v, date, hour FROM boot ORDER BY v;
           |SELECT b.city, c.pop FROM boot b JOIN read_csv('$csv') c ON b.city = c.city
           |WHERE c.pop > 1000000""".stripMargin)
    }
    // the extension no-ops print nothing; bigint renders as a string and
    // the hive partition columns keep their /query types
    assert(out.toString("UTF-8").linesIterator.toSeq == Seq(
      """{"results":[{"city":"rome","v":"1","date":"2023-11-14","hour":22},""" +
        """{"city":"oslo","v":"2","date":"2023-11-14","hour":22}]}""",
      """{"results":[{"city":"rome","pop":2761632}]}"""))
  }
}
