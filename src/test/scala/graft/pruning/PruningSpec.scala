package graft.pruning

import java.nio.file.Files
import graft.SparkSpec
import graft.catalog.TableCatalog
import graft.ingest.IngestWriter
import graft.lineproto.LineProtocolParser
import graft.pruning.GraftFileIndexSpec.scanNumFiles

/** Query-path time pruning: the metadata.json zone map must shrink the
  * actual file list Spark reads (reference querier resolves files by time
  * range — ARCHITECTURE.md:2079). */
class PruningSpec extends SparkSpec {

  test("time-bounded query reads only overlapping files (scan numFiles)") {
    val root = Files.createTempDirectory("graft-prune-")
    val cat = new TableCatalog(root.toString)
    var tick = 0L
    val t0 = 1700000000000000000L
    val w = new IngestWriter(spark, root.toString, cat, () => { tick += 1; t0 + tick * 1000000L })
    (1 to 3).foreach { i =>
      LineProtocolParser.parse(s"m v=${i}i", nowNs = () => t0 + tick * 1000000L)
        .foreach(w.store)
    }
    val all = GraftFileIndex.readTable(spark, cat, "default", "m")
    assert(scanNumFiles(all) == 3)

    val partDir = graft.index.MetadataIndex.partitionDirs(root.resolve("default/m")).head
    val oneT = graft.index.MetadataIndex
      .load(partDir, "m").entries.values.map(_.minTime).min
    val pruned = GraftFileIndex.readTable(spark, cat, "default", "m", Some((oneT, oneT)))
    assert(scanNumFiles(pruned) == 1)
    assert(pruned.count() == 1)

    // the view path: a ranged request plans on range-filtered views
    // (pruned by the FileIndex at plan time); an unranged one sees the
    // whole table
    val views = new QueryViews(spark, cat)
    assert(count(views.sqlFor("SELECT count(*) c FROM m", Some((oneT, oneT)), None)) == 1)
    assert(count(views.sqlFor("SELECT count(*) c FROM m", None, None)) == 3)
    // SQL-embedded time predicates prune through the same path
    assert(count(views.sqlFor(
      s"SELECT count(*) c FROM m WHERE __timestamp = $oneT", None, None)) == 1)
  }

  test("concurrent ranged queries run in private sessions, no cross-stomp") {
    val root = Files.createTempDirectory("graft-conc-")
    val cat = new TableCatalog(root.toString)
    var tick = 0L
    val t0 = 1700000000000000000L
    val w = new IngestWriter(spark, root.toString, cat, () => { tick += 1; t0 + tick * 1000000L })
    (1 to 4).foreach { i =>
      LineProtocolParser.parse(s"cm v=${i}i", nowNs = () => t0 + tick * 1000000L)
        .foreach(w.store)
    }
    val stamps = graft.index.MetadataIndex.partitionDirs(root.resolve("default/cm"))
      .map(d => graft.index.MetadataIndex.load(d, "cm"))
      .flatMap(_.entries.values.map(_.minTime)).distinct.sorted
    assert(stamps.size == 4)
    val views = new QueryViews(spark, cat)
    // each thread queries a different 1-file range many times; a shared
    // temp view would intermittently serve another thread's range
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = stamps.zipWithIndex.map { case (ts, i) =>
      Future {
        (1 to 10).map { _ =>
          views.sqlFor("SELECT v FROM cm", Some((ts, ts)), None)
            .collect().map(_.getLong(0)).toSeq
        }
      }
    }
    val results = Await.result(Future.sequence(futs), 120.seconds)
    results.zipWithIndex.foreach { case (runs, i) =>
      assert(runs.forall(_ == Seq(i + 1L)), s"range $i saw $runs")
    }
    // and the shared unranged path still sees the whole table
    assert(views.sqlFor("SELECT count(*) c FROM cm", None, None)
      .collect().head.getLong(0) == 4)
  }

  test("unranged default-db queries plan lock-free on published snapshots under concurrent writes") {
    val root = Files.createTempDirectory("graft-lockfree-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    import spark.implicits._
    w.storeDataFrame("default", "lf", Seq((0L, "x")).toDF("id", "s"))
    val views = new QueryViews(spark, cat)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val totalWrites = 10
    val writer = Future {
      (1 to totalWrites).foreach { i =>
        w.storeDataFrame("default", "lf", Seq((i.toLong, "x")).toDF("id", "s"))
      }
    }
    // readers hammer the unranged path while the version vector moves:
    // every query must succeed and see SOME committed manifest state —
    // a count in [1, writes+1]; a torn/stomped view would throw or
    // return rows outside any committed version
    val readers = (1 to 4).map { _ =>
      Future {
        (1 to 25).map { _ =>
          views.sqlFor("SELECT count(*) c FROM lf", None, None)
            .collect().head.getLong(0)
        }
      }
    }
    val counts = Await.result(Future.sequence(readers), 180.seconds).flatten
    Await.result(writer, 180.seconds)
    counts.foreach(c => assert(c >= 1 && c <= totalWrites + 1L, s"count $c"))
    // writes settled: a fresh snapshot sees every committed row
    assert(views.sqlFor("SELECT count(*) c FROM lf", None, None)
      .collect().head.getLong(0) == totalWrites + 1L)
  }

  test("a range that prunes every file still exposes the hive partition columns") {
    val root = Files.createTempDirectory("graft-emptyschema-")
    val cat = new TableCatalog(root.toString)
    val t0 = 1700000000000000000L
    val w = new IngestWriter(spark, root.toString, cat, () => t0)
    LineProtocolParser.parse("es v=1i", nowNs = () => t0).foreach(w.store)
    val full = GraftFileIndex.readTable(spark, cat, "default", "es")
    // a range hitting NOTHING must answer with the same column set as a
    // range hitting something (review r15: an empty-table branch dropped
    // the date/hour partition columns, so select("hour") worked or threw
    // depending on how much data the range hit)
    val empty = GraftFileIndex.readTable(spark, cat, "default", "es", Some((1L, 2L)))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == full.columns.toSeq,
      s"${empty.columns.toSeq} vs ${full.columns.toSeq}")
    assert(empty.select("date", "hour", "v").count() == 0) // resolves
    // and so does a ranged view
    val views = new QueryViews(spark, cat)
    assert(views.sqlFor("SELECT date, hour, v FROM es", Some((1L, 2L)), None).count() == 0)
  }

  test("colliding flattened db_table names fail loudly instead of silently last-binding") {
    val root = Files.createTempDirectory("graft-collide-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    import spark.implicits._
    // db 'a_b' table 'c' registers first and owns the flat name...
    w.storeDataFrame("a_b", "c", Seq((1L, "x")).toDF("id", "s"))
    val views = new QueryViews(spark, cat)
    val flat = "SELECT count(*) c FROM a_b_c"
    assert(count(views.sqlFor(flat, None, None)) == 1)
    // ...until db 'a' table 'b_c' makes 'a_b_c' ambiguous: the flat view
    // must now resolve for NEITHER (an unresolved-relation error is
    // attributable; a silent last-wins binding reads the wrong table
    // nondeterministically across snapshot rebuilds)
    w.storeDataFrame("a", "b_c", (1 to 2).map(i => (i.toLong, "y")).toDF("id", "s"))
    intercept[Exception](views.sqlFor(flat, None, None).collect())
    // both tables stay reachable via bare names under their own ?db scope
    assert(count(views.sqlFor("SELECT count(*) c FROM c", None, Some("a_b"))) == 1)
    assert(count(views.sqlFor("SELECT count(*) c FROM b_c", None, Some("a"))) == 2)
    // non-colliding tables keep their flat alias
    w.storeDataFrame("other", "t", Seq((9L, "z")).toDF("id", "s"))
    assert(count(views.sqlFor("SELECT count(*) c FROM other_t", None, None)) == 1)
  }

  private def count(df: org.apache.spark.sql.DataFrame): Long =
    df.collect().head.getLong(0)

  test("?db= scoped queries plan on a published per-scope snapshot until the catalog moves") {
    val root = Files.createTempDirectory("graft-scoped-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    import spark.implicits._
    w.storeDataFrame("sa", "t", Seq((1L, "a")).toDF("id", "s"))
    w.storeDataFrame("sb", "t", (1 to 3).map(i => (i.toLong, "b")).toDF("id", "s"))
    val views = new QueryViews(spark, cat)
    val q = "SELECT count(*) c FROM t"
    // two requests with no write between them share one session
    val a1 = views.sqlFor(q, None, Some("sa"))
    val a2 = views.sqlFor(q, None, Some("sa"))
    assert(a1.sparkSession eq a2.sparkSession)
    assert(count(a1) == 1 && count(a2) == 1)
    // each scope binds its own db's bare names, on its own session
    val b = views.sqlFor(q, None, Some("sb"))
    assert(count(b) == 3)
    assert(!(b.sparkSession eq a1.sparkSession))
    assert(views.publishedScopes == Set("sa", "sb"))
    // a write in the scope is visible to the very next scoped query
    w.storeDataFrame("sa", "t", Seq((2L, "a")).toDF("id", "s"))
    val a3 = views.sqlFor(q, None, Some("sa"))
    assert(count(a3) == 2)
    assert(!(a3.sparkSession eq a1.sparkSession))
    // and the scope's bare names stay out of the default scope
    intercept[Exception](views.sqlFor(q, None, None).collect())
  }

  test("a table created in a scoped db after its snapshot was published resolves by bare name") {
    val root = Files.createTempDirectory("graft-scoped-create-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    import spark.implicits._
    w.storeDataFrame("sc", "t", Seq((1L, "a")).toDF("id", "s"))
    val views = new QueryViews(spark, cat)
    assert(count(views.sqlFor("SELECT count(*) c FROM t", None, Some("sc"))) == 1)
    // created (no data yet), then written
    cat.upsert(graft.catalog.TableSpec(database = "sc", name = "fresh",
      columns = Seq("id" -> "INT64")))
    assert(count(views.sqlFor("SELECT count(*) c FROM fresh", None, Some("sc"))) == 0)
    w.storeDataFrame("sc", "later", Seq((5L, "z")).toDF("id", "s"))
    assert(count(views.sqlFor("SELECT count(*) c FROM later", None, Some("sc"))) == 1)
  }

  test("artifacts published after a scope's snapshot resolve in that scope") {
    val root = Files.createTempDirectory("graft-scoped-art-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    import spark.implicits._
    w.storeDataFrame("sd", "t", Seq((1L, "a")).toDF("id", "s"))
    val views = new QueryViews(spark, cat)
    val before = views.sqlFor("SELECT count(*) c FROM t", None, Some("sd"))
    assert(count(before) == 1)
    val art = root.resolve("art.parquet").toString
    (1 to 4).map(i => (i.toLong, i * 2L)).toDF("k", "v").write.parquet(art)
    views.publishArtifactView("art_scoped", art)
    views.publishArtifactFunction("art_seven",
      _ => org.apache.spark.sql.catalyst.expressions.Literal(7L))
    val after = views.sqlFor(
      "SELECT count(*) c, max(art_seven()) s FROM art_scoped", None, Some("sd"))
    val row = after.collect().head
    assert(row.getLong(0) == 4 && row.getLong(1) == 7)
    assert(!(after.sparkSession eq before.sparkSession))
  }

  test("?db= for a db outside the catalog plans privately and creates no snapshot") {
    val root = Files.createTempDirectory("graft-scoped-unknown-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    import spark.implicits._
    w.storeDataFrame("se", "t", Seq((1L, "a")).toDF("id", "s"))
    val views = new QueryViews(spark, cat)
    val n1 = views.sqlFor("SELECT count(*) c FROM se_t", None, Some("nosuchdb"))
    val n2 = views.sqlFor("SELECT count(*) c FROM se_t", None, Some("nosuchdb"))
    assert(count(n1) == 1 && count(n2) == 1) // flat names still resolve
    assert(!(n1.sparkSession eq n2.sparkSession))
    assert(!views.publishedScopes.contains("nosuchdb"))
    intercept[Exception](views.sqlFor("SELECT count(*) FROM t", None, Some("nosuchdb")).collect())
    assert(!views.publishedScopes.contains("nosuchdb"))
  }

  test("command statements run on a private session, never on a published snapshot") {
    val root = Files.createTempDirectory("graft-cmd-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    import spark.implicits._
    w.storeDataFrame("sf", "t", Seq((1L, "a")).toDF("id", "s"))
    val views = new QueryViews(spark, cat)
    Seq(None, Some("sf")).foreach { scope =>
      val snap = views.sqlFor("SELECT count(*) c FROM sf_t", None, scope).sparkSession
      views.sqlFor("CREATE TEMPORARY VIEW leak AS SELECT 42 AS x", None, scope)
      views.sqlFor("SET spark.sql.shuffle.partitions=3", None, scope)
      intercept[Exception](views.sqlFor("SELECT * FROM leak", None, scope).collect())
      assert(!snap.catalog.tableExists("leak"))
      assert(snap.conf.get("spark.sql.shuffle.partitions") != "3")
      // the snapshot itself was not rebuilt to hide the leak
      assert(views.sqlFor("SELECT count(*) c FROM sf_t", None, scope).sparkSession eq snap)
    }
  }
}
