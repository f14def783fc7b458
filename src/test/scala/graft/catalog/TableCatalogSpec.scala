package graft.catalog

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's persisted `.table.json` is rewritten only when a
  * schema actually changes: every buffered flush calls `evolve`, and
  * most flushes add no column. */
class TableCatalogSpec extends AnyFunSuite {

  test("a same-schema evolve leaves .table.json untouched; a new column persists and reloads") {
    val root = Files.createTempDirectory("graft-catalog-")
    val cat = new TableCatalog(root.toString)
    val cols = Seq("host" -> "STRING", "v" -> "INT64", "__timestamp" -> "INT64")
    cat.evolve("db", "t", cols)
    val f = root.resolve("db/t/.table.json")
    val bytes0 = Files.readAllBytes(f)
    // back-date the file so a rewrite within the clock's granularity
    // still shows as a changed mtime
    val past = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    Files.setLastModifiedTime(f, past)

    assert(cat.evolve("db", "t", cols).columns == cols)
    assert(cat.evolve("db", "t", cols.reverse.take(2)).columns == cols)
    assert(Files.getLastModifiedTime(f) == past)
    assert(Files.readAllBytes(f).sameElements(bytes0))

    val grown = cat.evolve("db", "t", cols :+ ("w" -> "FLOAT64"))
    assert(grown.columns == cols :+ ("w" -> "FLOAT64"))
    assert(Files.getLastModifiedTime(f) != past)
    assert(new TableCatalog(root.toString).get("db", "t").get.columns == grown.columns)
  }
}
