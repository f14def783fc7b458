package graft.ingest

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.catalog.TableCatalog
import graft.compact.Compactor
import graft.index.MetadataIndex
import graft.lineproto.LineProtocolParser
import graft.pruning.GraftFileIndex
import graft.pruning.GraftFileIndexSpec.scanNumFiles

/** End-to-end lakehouse write path: ingest → layout → index → pruned read
  * → schema evolution → compaction (FIXTURES.md F1/F3/F4 shapes). */
class LakehouseSpec extends SparkSpec {

  private def freshRoot(): Path = Files.createTempDirectory("graft-lake-")
  private val t0 = 1700000000000000000L // 2023-11-14 22:13:20 UTC
  private var tick = 0L
  private def now(): Long = { tick += 1; t0 + tick * 1000000L }

  private def writer(root: Path): (TableCatalog, IngestWriter) = {
    val cat = new TableCatalog(root.toString)
    (cat, new IngestWriter(spark, root.toString, cat, () => now()))
  }

  test("ingest weather lines → hive layout + index + readable table (F1)") {
    val root = freshRoot()
    val (cat, w) = writer(root)
    val text =
      """weather,location=us-midwest,season=summer temperature=82
        |weather,location=us-east,season=summer temperature=80
        |weather,location=us-west,season=summer temperature=99""".stripMargin
    LineProtocolParser.parse(text, nowNs = () => now()).foreach(w.store)

    val partDirs = MetadataIndex.partitionDirs(root.resolve("default/weather"))
    assert(partDirs.nonEmpty)
    assert(partDirs.head.toString.contains("date=2023-11-14"))
    assert(partDirs.head.toString.contains("hour=22"))
    val idx = MetadataIndex.load(partDirs.head, "weather")
    assert(idx.rowCount == 3 && idx.minTime > t0)

    val df = GraftFileIndex.readTable(spark, cat, "default", "weather")
    assert(df.count() == 3)
    val avg0 = df.agg(avg("temperature")).collect().head.getDouble(0)
    assert(math.abs(avg0 - 87.0) < 1e-9)
    assert(df.columns.contains("__timestamp") && df.columns.contains("date"))
  }

  test("schema evolution: first-type-wins + null back-fill (F3)") {
    val root = freshRoot()
    val (cat, w) = writer(root)
    LineProtocolParser.parse("t a=1i,b=\"x\"", nowNs = () => now()).foreach(w.store)
    LineProtocolParser.parse("t b=\"y\"", nowNs = () => now()).foreach(w.store)
    val df = GraftFileIndex.readTable(spark, cat, "default", "t")
    assert(df.count() == 2)
    assert(df.filter(col("a").isNull).count() == 1)
    // type conflict rejected
    val err = intercept[IllegalArgumentException] {
      LineProtocolParser.parse("t a=1.5", nowNs = () => now()).foreach(w.store)
    }
    assert(err.getMessage.contains("type conflict"))
  }

  test("time pruning selects only overlapping files") {
    val root = freshRoot()
    val (cat, w) = writer(root)
    (1 to 3).foreach { _ =>
      LineProtocolParser.parse("m v=1", nowNs = () => now()).foreach(w.store)
    }
    val all = GraftFileIndex.readTable(spark, cat, "default", "m")
    assert(scanNumFiles(all) == 3)
    val partDir = MetadataIndex.partitionDirs(root.resolve("default/m")).head
    val oneT = MetadataIndex.load(partDir, "m").entries.values.head.minTime
    val pruned = GraftFileIndex.readTable(spark, cat, "default", "m", Some((oneT, oneT)))
    assert(scanNumFiles(pruned) == 1)
    assert(pruned.count() == 1)
  }

  test("compaction merges L1 files into one sorted L2 file + defers deletes (F4)") {
    val root = freshRoot()
    val (cat, w) = writer(root)
    (1 to 5).foreach { i =>
      LineProtocolParser.parse(s"c v=${i}i", nowNs = () => now()).foreach(w.store)
    }
    val partDir = MetadataIndex.partitionDirs(root.resolve("default/c")).head
    assert(MetadataIndex.load(partDir, "c").entries.size == 5)
    // wal_sequence bumps once per persisted index mutation (5 flushes)
    val w5 = MetadataIndex.load(partDir, "c").walSequence
    assert(w5 == 5L)

    val plans = Compactor.compactTable(spark, cat, "default", "c")
    assert(plans == 1)
    val idx = MetadataIndex.load(partDir, "c")
    assert(idx.walSequence == w5 + 1) // compaction rewrite bumps too
    assert(idx.entries.size == 1)
    assert(idx.entries.keys.head.endsWith(".2.parquet"))
    assert(idx.rowCount == 5)
    assert(idx.dropQueue.size == 5) // deferred deletion
    // dropped files still on disk until gc AFTER the grace period: a gc
    // inside the grace window must leave them for in-flight readers
    assert(idx.dropQueue.forall(f => Files.exists(partDir.resolve(f.path))))
    MetadataIndex.gc(partDir, "c") // default 30 s grace — nothing due yet
    assert(idx.dropQueue.forall(f => Files.exists(partDir.resolve(f.path))))
    MetadataIndex.gc(partDir, "c", graceMs = 0L) // grace elapsed
    assert(idx.dropQueue.forall(f => !Files.exists(partDir.resolve(f.path))))
    assert(MetadataIndex.load(partDir, "c").dropQueue.isEmpty)
    // the no-op gc didn't bump; the real gc rewrite did
    assert(MetadataIndex.load(partDir, "c").walSequence == w5 + 2)

    // data intact and sorted by __timestamp within the merged file
    val df = GraftFileIndex.readTable(spark, cat, "default", "c")
    assert(df.count() == 5)
    val ts = df.orderBy("__timestamp").select("v").collect().map(_.getLong(0)).toSeq
    assert(ts == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("level-4 files merge too (the reference's 4th iteration) into terminal .5") {
    val root = freshRoot()
    val (cat, w) = writer(root)
    (1 to 4).foreach { i =>
      LineProtocolParser.parse(s"t4 v=${i}i", nowNs = () => now()).foreach(w.store)
    }
    val spec = cat.get("default", "t4").get
    val tableDir = cat.tableDir("default", "t4")
    val partDir = MetadataIndex.partitionDirs(root.resolve("default/t4")).head
    // stage TWO .4.parquet files directly (executePlan at level 3 names
    // its output .4): pair up the four L1 files
    val l1 = Compactor.filesToMerge(spark, spec, tableDir, partDir, 1).map(_._1)
    assert(l1.size == 4)
    l1.grouped(2).foreach { pair =>
      Compactor.executePlan(spark, spec, tableDir, partDir,
        Compactor.Plan(pair, s"${java.util.UUID.randomUUID()}.4.parquet", 3))
    }
    val before = MetadataIndex.load(partDir, "t4").entries.keys.toSeq
    assert(before.count(_.endsWith(".4.parquet")) == 2, before)
    // the 4th iteration: L4 files merge into a terminal .5.parquet —
    // `1 until MaxLevel` would silently skip this level forever
    Compactor.compactTable(spark, cat, "default", "t4")
    val after = MetadataIndex.load(partDir, "t4")
    assert(after.entries.keys.exists(_.endsWith(".5.parquet")), after.entries.keys)
    assert(after.entries.keys.count(_.endsWith(".4.parquet")) == 0, after.entries.keys)
    assert(after.rowCount == 4)
    assert(GraftFileIndex.readTable(spark, cat, "default", "t4").count() == 4)
  }

  test("catalog: stale disk state never clobbers a newer in-memory spec") {
    import graft.catalog.TableSpec
    import java.nio.file.StandardCopyOption
    val root = freshRoot()
    val cat = new TableCatalog(root.toString)
    cat.upsert(TableSpec("db1", "t", columns = Seq("a" -> "INT64")))
    cat.evolve("db1", "t", Seq("b" -> "FLOAT64"))
    // plant a STALE .table.json (pre-evolution shape), as if a racing
    // loader had read disk before the evolve persisted
    val staleRoot = freshRoot()
    val staleCat = new TableCatalog(staleRoot.toString)
    staleCat.upsert(TableSpec("db1", "t", columns = Seq("a" -> "INT64")))
    Files.copy(staleCat.tableDir("db1", "t").resolve(".table.json"),
      cat.tableDir("db1", "t").resolve(".table.json"),
      StandardCopyOption.REPLACE_EXISTING)
    // a scheduler-style sweep must not replace the evolved in-memory spec
    cat.all()
    val cols = cat.get("db1", "t").get.columns.map(_._1)
    assert(cols == Seq("a", "b"),
      s"evolved column lost to stale disk state: $cols")
  }

  test("compaction keeps __timestamp stats for custom order_by tables") {
    val root = freshRoot()
    val cat = new TableCatalog(root.toString)
    // order_by = client time; clients backfill OLD times — the index
    // min_time/max_time must still be __timestamp (arrival) stats
    cat.upsert(graft.catalog.TableSpec("default", "ob",
      orderBy = Seq("time"), columns = Seq("v" -> "INT64", "time" -> "INT64")))
    var t = t0
    val w = new IngestWriter(spark, root.toString, cat, () => { t += 1000000L; t })
    val oldNs = t0 - 365L * 86400L * 1000000000L
    (1 to 3).foreach { i =>
      LineProtocolParser.parse(s"ob v=${i}i ${oldNs + i}").foreach(w.store)
    }
    assert(Compactor.compactTable(spark, cat, "default", "ob", graceMs = 0L) == 1)
    val dir = MetadataIndex.partitionDirs(root.resolve("default/ob")).head
    val e = MetadataIndex.load(dir, "ob").entries.values.head
    assert(e.minTime > t0, s"min_time must be arrival __timestamp, got ${e.minTime}")
    assert(e.dataMinTime == oldNs + 1 && e.dataMaxTime == oldNs + 3)
    assert(GraftFileIndex.readTable(spark, cat, "default", "ob").count() == 3)
  }

  test("manifest parse cache: unchanged file returns the same instance; writes invalidate") {
    val root = Files.createTempDirectory("graft-mcache-")
    val dir = root.resolve("p")
    graft.index.MetadataIndex.batch(dir, "t",
      add = Seq(graft.index.FileEntry(0, "a.1.parquet", 10, 1, 5, 5, 6)))
    val i1 = graft.index.MetadataIndex.load(dir, "t")
    val i2 = graft.index.MetadataIndex.load(dir, "t")
    assert(i1 eq i2, "unchanged manifest must hit the parse cache")
    graft.index.MetadataIndex.batch(dir, "t",
      add = Seq(graft.index.FileEntry(0, "b.1.parquet", 20, 2, 7, 7, 8)))
    val i3 = graft.index.MetadataIndex.load(dir, "t")
    assert(i3.entries.size == 2 && i3.walSequence == 2,
      "a write must invalidate the cached parse")
  }

  test("storeDataFrame ingests a typed DataFrame (firehose write path)") {
    val root = freshRoot()
    val (cat, w) = writer(root)
    import spark.implicits._
    w.storeDataFrame("default", "nd",
      Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score"))
    val df = GraftFileIndex.readTable(spark, cat, "default", "nd")
    assert(df.count() == 2)
    assert(cat.get("default", "nd").get.columns.map(_._1)
      .containsSlice(Seq("id", "name", "score")))
  }

  test("catalog: traversal keys are unknown tables; one corrupt spec never takes down all()") {
    val root = freshRoot()
    val cat = new TableCatalog(root.toString)
    cat.upsert(graft.catalog.TableSpec("db1", "good"))
    // a lookup key with path segments must NEVER become a filesystem
    // path — it reads as an unknown table (the handlers' 400), and
    // tableDir refuses it outright
    assert(cat.get("db1", "../db1/good").isEmpty)
    assert(cat.get("../x", "good").isEmpty)
    intercept[IllegalArgumentException](cat.tableDir("db1", "../escape"))
    // one truncated .table.json is SKIPPED with a log line, not a
    // MappingException that 500s every query + halts all compaction
    val badDir = root.resolve("db1").resolve("broken")
    java.nio.file.Files.createDirectories(badDir)
    java.nio.file.Files.writeString(badDir.resolve(".table.json"), "{trunc")
    val names = new TableCatalog(root.toString).all().map(_.name)
    assert(names.contains("good") && !names.contains("broken"), names.toString)
    // compaction-level parse: a foreign timestamp-shaped digit run must
    // read as the default level, not overflow Int and fail every tick
    assert(graft.index.ParquetLevels.levelOf("data.20260815123456789.parquet") == 1)
    assert(graft.index.ParquetLevels.levelOf("x.3.parquet") == 3)
  }

  test("reserved/duplicate column guards: nothing corrupting ever reaches the catalog") {
    val root = freshRoot()
    val (cat, w) = writer(root)
    import spark.implicits._
    // a client field named __timestamp once DOUBLE-ENTERED the catalog
    // (evolve appended the engine column to a list already carrying it),
    // permanently failing every later write with duplicate-column
    val e1 = intercept[IllegalArgumentException] {
      w.store(LineProtocolParser.parse("t1 __timestamp=5i,v=1i").next())
    }
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    assert(cat.get("default", "t1").isEmpty) // nothing persisted
    // evolve itself: duplicates collapse, in-batch conflicts throw
    cat.evolve("default", "t2", Seq("a" -> "INT64", "a" -> "INT64", "b" -> "STRING"))
    assert(cat.get("default", "t2").get.columns == Seq("a" -> "INT64", "b" -> "STRING"))
    val e2 = intercept[IllegalArgumentException] {
      cat.evolve("default", "t2", Seq("c" -> "INT64", "c" -> "FLOAT64"))
    }
    assert(e2.getMessage.contains("conflict"), e2.getMessage)
    // UINT64 is decimal(20,0) EXACTLY: any other decimal would write
    // files mergeSchema can never reconcile with the table's
    val e3 = intercept[IllegalArgumentException] {
      w.storeDataFrame("default", "t3", Seq(BigDecimal("1.5")).toDF("d")
        .select(col("d").cast(org.apache.spark.sql.types.DecimalType(38, 10))))
    }
    assert(e3.getMessage.contains("decimal(38,10)"), e3.getMessage)
    // a pre-set __timestamp must be the engine's epoch-ns long
    val e4 = intercept[IllegalArgumentException] {
      w.storeDataFrame("default", "t4", Seq(1.5).toDF("__timestamp"))
    }
    assert(e4.getMessage.contains("INT64"), e4.getMessage)
    // HiveMerge derives date/hour: a client column of that name would be
    // silently replaced + stripped into the dir name — acked data gone
    cat.upsert(graft.catalog.TableSpec("default", "t5", engine = "HiveMerge"))
    val e5 = intercept[IllegalArgumentException] {
      w.store(LineProtocolParser.parse("t5,date=monday v=1i").next())
    }
    assert(e5.getMessage.contains("reserved"), e5.getMessage)
    // the reject must land BEFORE evolve persists anything (review r15:
    // the old in-write() guard left 'date' in the spec forever — every
    // later write null-padded it and any client field of that name
    // failed evolve with a bogus type conflict)
    assert(!cat.get("default", "t5").get.columns.exists(_._1 == "date"),
      cat.get("default", "t5").get.columns)
    w.store(LineProtocolParser.parse("t5 v=2i").next()) // not poisoned
    // the storeDataFrame face guards pre-create too: a rejected first
    // write must not even create the table
    val e6 = intercept[IllegalArgumentException] {
      w.storeDataFrame("default", "t6", Seq(("x", 1L)).toDF("hour", "v"))
    }
    assert(e6.getMessage.contains("reserved"), e6.getMessage)
    assert(cat.get("default", "t6").isEmpty)
  }

  test("manifest batch: a path removed AND re-added in one batch stays live, never drop-queued") {
    val dir = Files.createTempDirectory("graft-batch-readd-")
    val e = graft.index.FileEntry(id = 0, path = "f.1.parquet", sizeBytes = 10,
      rowCount = 1, chunkTime = t0, minTime = t0, maxTime = t0 + 1)
    MetadataIndex.batch(dir, "t", add = Seq(e))
    // in-place replace: the add wins, so the file is LIVE — it must not
    // also ride the drop queue, or gc would unlink a manifest-listed file
    val upd = MetadataIndex.batch(dir, "t",
      add = Seq(e.copy(sizeBytes = 20)), remove = Seq("f.1.parquet"))
    assert(upd.entries("f.1.parquet").sizeBytes == 20)
    assert(upd.dropQueue.isEmpty, upd.dropQueue)
    Files.write(dir.resolve("f.1.parquet"), Array[Byte](1))
    MetadataIndex.gc(dir, "t", graceMs = 0)
    assert(Files.exists(dir.resolve("f.1.parquet")))
    // a plain remove (no re-add) still drop-queues as before
    val rem = MetadataIndex.batch(dir, "t", remove = Seq("f.1.parquet"))
    assert(rem.entries.isEmpty && rem.dropQueue.map(_.path) == Vector("f.1.parquet"))
  }
}
