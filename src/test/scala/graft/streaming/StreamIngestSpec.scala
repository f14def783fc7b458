package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.catalog.TableCatalog
import graft.ingest.IngestWriter
import graft.pruning.GraftFileIndex

class StreamIngestSpec extends SparkSpec {

  test("structured-streaming ingest: landing dir -> parsed -> partitioned parquet") {
    val landing = Files.createTempDirectory("graft-landing-")
    val root = Files.createTempDirectory("graft-stream-root-")
    val ckpt = Files.createTempDirectory("graft-ckpt-")
    val cat = new TableCatalog(root.toString)
    val writer = new IngestWriter(spark, root.toString, cat)

    Files.writeString(landing.resolve("batch1.lp"),
      """cpu,host=a usage=0.5 1700000000000000000
        |cpu,host=b usage=0.7 1700000003600000000
        |cpu,host=a usage=0.9 1700000007200000000""".stripMargin)

    val q = StreamIngest.start(spark, writer,
      StreamIngest.StreamSpec("default", "cpu",
        Seq("host" -> "STRING", "usage" -> "FLOAT64", "time" -> "INT64")),
      landing.toString,
      trigger = Trigger.AvailableNow(),
      checkpointDir = Some(ckpt.toString))
    q.awaitTermination(60000)

    val df = GraftFileIndex.readTable(spark, cat, "default", "cpu")
    assert(df.count() == 3)
    assert(df.columns.contains("__timestamp"))
    val hosts = df.select("host").collect().map(_.getString(0)).sorted.toSeq
    assert(hosts == Seq("a", "a", "b"))
  }

  test("replay marker is scoped to its checkpoint; a new query's batch 0 is not skipped (review r10)") {
    val root = Files.createTempDirectory("graft-marker-root-")
    val cat = new TableCatalog(root.toString)
    val writer = new IngestWriter(spark, root.toString, cat)
    val spec = StreamIngest.StreamSpec("default", "mk",
      Seq("v" -> "FLOAT64", "time" -> "INT64"))
    // query A (checkpoint ckA) committed batch 99; a NEW query (fresh
    // checkpoint — batchIds restart at 0) must NOT read 99 as its own
    // high-water mark, or its first 100 batches of new data are
    // silently dropped
    StreamIngest.recordCommitted(writer, spec, "ckA", 99L)
    assert(StreamIngest.lastCommitted(writer, spec, "ckA") == 99L)
    assert(StreamIngest.lastCommitted(writer, spec, "ckB") == -1L)
    // and the two guards persist independently
    StreamIngest.recordCommitted(writer, spec, "ckB", 3L)
    assert(StreamIngest.lastCommitted(writer, spec, "ckA") == 99L)
    assert(StreamIngest.lastCommitted(writer, spec, "ckB") == 3L)
  }

  test("a wiped-and-recreated checkpoint does not suppress new batches (review r15)") {
    val landing = Files.createTempDirectory("graft-wipe-landing-")
    val root = Files.createTempDirectory("graft-wipe-root-")
    val ckpt = Files.createTempDirectory("graft-wipe-ckpt-")
    val cat = new TableCatalog(root.toString)
    val writer = new IngestWriter(spark, root.toString, cat)
    val spec = StreamIngest.StreamSpec("default", "wp",
      Seq("v" -> "FLOAT64", "time" -> "INT64"))
    Files.writeString(landing.resolve("b1.lp"), "wp v=0.1 1700000000000000000")
    val q1 = StreamIngest.start(spark, writer, spec, landing.toString,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt.toString))
    q1.awaitTermination(60000)
    assert(GraftFileIndex.readTable(spark, cat, "default", "wp").count() == 1)
    // operator wipes the checkpoint to reprocess and restarts with the
    // SAME path: batchIds restart at 0, and the replay marker must not
    // outlive the wipe — a path-keyed marker would read the new batches
    // as already-committed (silent loss while the query runs green)
    Files.walk(ckpt).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    Files.writeString(landing.resolve("b2.lp"), "wp v=0.2 1700000003600000000")
    val q2 = StreamIngest.start(spark, writer, spec, landing.toString,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt.toString))
    q2.awaitTermination(60000)
    val vs = GraftFileIndex.readTable(spark, cat, "default", "wp")
      .select("v").collect().map(_.getDouble(0)).toSeq
    // the fresh checkpoint re-lists b1 (a duplicate is the documented
    // at-least-once direction); the NEW file's row must be present
    assert(vs.contains(0.2), vs)
  }

  test("one malformed line costs that line, not the stream (review r10)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("host",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("usage",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("time",
        org.apache.spark.sql.types.LongType)))
    val rows = StreamIngest.parsePartition(Iterator(
      "cpu,host=a usage=0.5 1700000000000000000",
      "cpu,host=b",                 // no fields: parser throws
      "not line protocol at all ,,,=,=,",
      "cpu,host=c usage=0.7 1700000000000000001"),
      schema, "default", "cpu").toVector
    assert(rows.map(_.getString(0)) == Vector("a", "c"))
  }

  test("parallel write path: a multi-partition batch writes one sorted file per task, not one total") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-par-root-")
    val cat = new TableCatalog(root.toString)
    cat.upsert(graft.catalog.TableSpec("default", "par", orderBy = Seq("time")))
    val writer = new IngestWriter(spark, root.toString, cat)

    // 4 executor slices, all inside ONE hour — the exact firehose shape
    // where repartition(date,hour) would collapse back to a single task
    val df = spark.range(4000).repartition(4).select(
      (col("id") % 7).as("seq"),
      (lit(1700000000000000000L) + col("id") * 1000L).as("time"))
    val uris = writer.storeDataFrame("default", "par", df)
    assert(uris.size == 4, s"expected one file per input task, got ${uris.size}")

    // every file individually honors the table's orderBy (time)
    uris.foreach { u =>
      val times = spark.read.parquet(u).select("time").collect().map(_.getLong(0)).toSeq
      assert(times == times.sorted, s"file $u not sorted by time")
    }
    // and the union is complete + readable through the pruned table path
    val all = GraftFileIndex.readTable(spark, cat, "default", "par")
    assert(all.count() == 4000)
  }

  test("manifest publish is batched: N files, ONE metadata.json rewrite, stats via Spark job") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft-batchpub-root-")
    val cat = new TableCatalog(root.toString)
    cat.upsert(graft.catalog.TableSpec("default", "bp", orderBy = Seq("time")))
    val writer = new IngestWriter(spark, root.toString, cat)

    // 8 slices > InlineStatsMax -> footer stats ride the distributed job
    val df = spark.range(8000).repartition(8).select(
      (col("id") % 5).as("seq"),
      (lit(1700000000000000000L) + col("id") * 1000L).as("time"))
    val uris = writer.storeDataFrame("default", "bp", df)
    assert(uris.size == 8)

    // single ingest timestamp -> exactly one (date, hour) partition dir
    val parts = graft.index.MetadataIndex.partitionDirs(cat.tableDir("default", "bp"))
    assert(parts.size == 1, s"expected one partition dir, got $parts")
    val idx = graft.index.MetadataIndex.load(parts.head, "bp")
    assert(idx.entries.size == 8)
    // no checksum sidecars leaked into the published partition dir
    assert(!Files.list(parts.head).iterator().asScala.exists(_.getFileName.toString.endsWith(".crc")),
      "crc sidecars leaked into the published partition dir")
    // the scale assertion: one read-modify-write of the partition index
    // per storeDataFrame call, NOT one per published file
    assert(idx.walSequence == 1L,
      s"expected ONE manifest commit for 8 files, got wal_sequence=${idx.walSequence}")
    // executor-gathered footer stats are real, not defaults
    assert(idx.rowCount == 8000)
    assert(idx.entries.values.forall(e => e.sizeBytes > 0 && e.rowCount > 0))
    val dmins = idx.entries.values.map(_.dataMinTime)
    assert(dmins.min == 1700000000000000000L)
  }

  test("routing: unprefixed lines adopt the stream's db; foreign lines drop") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("v", LongType), StructField("time", LongType)))
    val lines = Iterator(
      "cpu v=1i 1700000000000000000", // unprefixed -> belongs to metrics.cpu
      "metrics.cpu v=2i 1700000000000000001", // explicit match
      "other.cpu v=3i 1700000000000000002", // foreign db -> dropped
      "metrics.mem v=4i 1700000000000000003") // foreign table -> dropped
    val rows = StreamIngest.parsePartition(lines, schema, "metrics", "cpu").toSeq
    assert(rows.map(_.getLong(0)).sorted == Seq(1L, 2L))
  }

  test("one type-mismatched line costs one null cell, never the stream") {
    import org.apache.spark.sql.types._
    // declared FLOAT64 `v`: an int line (42i) widens, a string line nulls
    // — neither may fail Row serialization (a poisoned checkpoint replay
    // would crash-loop the whole firehose on one bad line)
    val schema = StructType(Seq(
      StructField("v", DoubleType), StructField("time", LongType)))
    val lines = Iterator(
      "cpu v=1.5 1700000000000000001",
      "cpu v=42i 1700000000000000002",   // I64 -> widened to 42.0
      "cpu v=\"oops\" 1700000000000000003") // STR -> null cell
    val rows = StreamIngest.parsePartition(lines, schema, "metrics", "cpu").toSeq
    assert(rows.map(r => if (r.isNullAt(0)) null else r.getDouble(0)) ==
      Seq(1.5, 42.0, null))
    // and the rows actually serialize under the declared encoder
    import org.apache.spark.sql.{Encoders, Row}
    val enc = Encoders.row(schema)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    assert(df.count() == 3 && df.filter(df("v").isNull).count() == 1)
  }

  test("coerce: exact kinds + safe widenings only; mismatches null") {
    import org.apache.spark.sql.types._
    import StreamIngest.coerce
    assert(coerce(java.lang.Long.valueOf(7L), DoubleType) == 7.0)
    assert(coerce(java.lang.Long.valueOf(7L), LongType) == 7L)
    assert(coerce("x", LongType) == null)
    assert(coerce(java.lang.Double.valueOf(1.5), LongType) == null)
    assert(coerce(java.lang.Boolean.TRUE, BooleanType) == true)
    assert(coerce(BigDecimal("184467440737095516150"), LongType) == null) // > Long.Max
    assert(coerce(BigDecimal(42), LongType) == 42L)
    assert(coerce(null, LongType) == null)
  }
}
