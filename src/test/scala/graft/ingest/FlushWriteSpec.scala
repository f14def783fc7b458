package graft.ingest

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.catalog.{TableCatalog, TableSpec}
import graft.compact.Compactor
import graft.index.MetadataIndex
import graft.lineproto.LineProtocolParser
import graft.lineproto.LineProtocolParser.{Batch, FieldType, Line}
import graft.pruning.GraftFileIndex
import graft.server.NdJsonParser

/** Pins the buffered line-protocol flush (IngestWriter.store): the batch
  * becomes UnsafeRows on the driver, in parallel chunks, and Spark's own
  * Parquet writer encodes them in the calling thread, with no Spark job.
  * A conversion or layout bug here is silent corruption of EVERY
  * ingested value, so each spec reads the written file back. */
class FlushWriteSpec extends SparkSpec {

  private val t0 = 1700000000000000000L // 2023-11-14 22:13:20 UTC

  private def writer(ts: Long = t0): (Path, TableCatalog, IngestWriter) = {
    val root = Files.createTempDirectory("graft-flush-")
    val cat = new TableCatalog(root.toString)
    (root, cat, new IngestWriter(spark, root.toString, cat, () => ts))
  }

  private def footer(uri: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(uri), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  /** The file's rows in file order (one small file reads as one split). */
  private def fileRows(uri: String): Array[Row] = spark.read.parquet(uri).collect()

  private def withSessionZone[T](zone: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try body finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("all five field types round-trip values and schema exactly") {
    val (_, _, w) = writer()
    val text =
      "m,tag=vé中 i=-9223372036854775808i,u=18446744073709551615u," +
        "f=2.5,s=\"café \\\"q\\\"\",b=true 1700000000000000001\n" +
        "m,tag=plain i=9223372036854775807i,u=0u,f=-0.125,s=\"\",b=false 1700000000000000002\n" +
        "m i=7i 1700000000000000003"
    val batches = LineProtocolParser.parse(text).toSeq
    val uris = batches.flatMap(w.store)
    assert(uris.nonEmpty)
    val df = spark.read.parquet(uris: _*)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq("tag" -> "string", "i" -> "bigint", "u" -> "decimal(20,0)",
        "f" -> "double", "s" -> "string", "b" -> "boolean", "time" -> "bigint",
        "__timestamp" -> "bigint"))

    val rows = df.orderBy("time").collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getString(0) == "vé中")
    assert(r0.getLong(1) == Long.MinValue)
    assert(r0.getDecimal(2).toBigInteger.toString == "18446744073709551615")
    assert(r0.getDouble(3) == 2.5)
    assert(r0.getString(4) == "café \"q\"")
    assert(r0.getBoolean(5))
    assert(r0.getLong(6) == 1700000000000000001L)
    assert(r0.getLong(7) == t0)
    val r1 = rows(1)
    assert(r1.getLong(1) == Long.MaxValue)
    assert(r1.getDecimal(2).toBigInteger.toString == "0")
    assert(r1.getString(4) == "")
    assert(!r1.getBoolean(5))
    // a line carrying only `i`: every other column is null, not a default
    val r2 = rows(2)
    assert(r2.getLong(1) == 7L && r2.getLong(6) == 1700000000000000003L)
    Seq(0, 2, 3, 4, 5).foreach(c => assert(r2.isNullAt(c), s"column $c"))
  }

  test("multi-chunk parallel build: every row lands once with its own values") {
    val (_, _, w) = writer()
    // enough rows for several fork-join chunks (> ConvertChunkRows each)
    val n = w.ConvertChunkRows * 3 + 17
    val schema = Vector("host" -> FieldType.Str, "seq" -> FieldType.I64,
      "time" -> FieldType.I64)
    val rows = Vector.tabulate(n) { i =>
      Line("default", "mc", Vector("host" -> s"h${i % 7}"),
        Vector(("seq", i.toLong, FieldType.I64)), t0 + i)
    }
    val uris = w.store(Batch("default", "mc", schema, rows))
    assert(uris.size == 1)
    // arrival order survives the chunked build: row i of the file is seq i
    val got = fileRows(uris.head)
    assert(got.length == n)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getString(0) == s"h${i % 7}" && r.getLong(1) == i && r.getLong(2) == t0 + i,
        s"row $i: $r")
    }
  }

  test("a later flush null-pads in catalog order after schema evolution") {
    val (_, cat, w) = writer()
    LineProtocolParser.parse("ev,a=x v=1i 1700000000000000001").foreach(w.store)
    val uris = LineProtocolParser.parse("ev,b=y w=2.5 1700000000000000002")
      .toSeq.flatMap(w.store)
    assert(cat.get("default", "ev").get.columns.map(_._1) ==
      Seq("a", "v", "time", "__timestamp", "b", "w"))
    val df = spark.read.parquet(uris.head)
    assert(df.columns.toSeq == Seq("a", "v", "time", "__timestamp", "b", "w"))
    val r = df.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getLong(2) == 1700000000000000002L && r.getLong(3) == t0)
    assert(r.getString(4) == "y" && r.getDouble(5) == 2.5)
  }

  test("date=/hour= dirs equal the Spark date_format expression in a non-UTC session zone") {
    // instants either side of local midnight and of a DST switch, in
    // zones with non-hour offsets
    val stamps = Seq(t0, 1700000000000000000L + 6300L * 1000000000L,
      1710054000000000000L, 1710057600000000000L, 1704067199999999999L,
      1704067200000000000L, 999L)
    Seq("Asia/Kathmandu", "America/St_Johns", "America/New_York", "UTC").foreach { zone =>
      withSessionZone(zone) {
        stamps.foreach { ts =>
          val r = spark.sql(s"SELECT date_format(timestamp_micros($ts DIV 1000), 'yyyy-MM-dd') AS d, " +
            s"date_format(timestamp_micros($ts DIV 1000), 'HH') AS h").collect().head
          assert(IngestWriter.partitionDir(ts, zone) == s"date=${r.getString(0)}/hour=${r.getString(1)}",
            s"$zone $ts")
        }
      }
    }
    // and the flush lands there: 22:13 UTC is 03:58 the next day in Kathmandu
    val (root, _, w) = writer()
    val uris = withSessionZone("Asia/Kathmandu") {
      LineProtocolParser.parse("tz v=1i 1700000000000000001").toSeq.flatMap(w.store)
    }
    assert(uris.size == 1)
    assert(uris.head.startsWith(root.resolve("default/tz/date=2023-11-15/hour=03").toString),
      uris.head)
  }

  test("a custom order_by table's flush file comes out sorted, nulls first") {
    val (_, cat, w) = writer()
    cat.upsert(TableSpec("default", "ob", orderBy = Seq("host", "v"),
      columns = Seq("host" -> "STRING", "v" -> "FLOAT64")))
    val rnd = new scala.util.Random(7)
    val lines = Vector.tabulate(3000) { i =>
      val host = if (i % 11 == 0) Vector.empty else Vector("host" -> s"h${rnd.nextInt(5)}")
      val v = if (i % 13 == 0) Vector.empty
        else Vector(("v", rnd.nextInt(100) - 50.5, FieldType.F64))
      val seq = Vector(("seq", i.toLong, FieldType.I64))
      Line("default", "ob", host, v ++ seq, t0 + i)
    }
    val schema = Vector("host" -> FieldType.Str, "v" -> FieldType.F64,
      "seq" -> FieldType.I64, "time" -> FieldType.I64)
    val uris = w.store(Batch("default", "ob", schema, lines))
    val got = fileRows(uris.head)
    assert(got.length == 3000)
    assert(got.map(_.getLong(2)).sorted.toSeq == (0L until 3000L))
    def key(r: Row) = (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    val keys = got.map(key).toSeq
    val ord = Ordering.Tuple2(Ordering.Option[String], Ordering.Option[Double](Ordering.Double.TotalOrdering))
    assert(keys == keys.sorted(ord))
    assert(keys.head._1.isEmpty) // the 273 host-less rows lead
  }

  test("a Merge-engine table's flush lands flat in the table dir, sorted and indexed") {
    val (root, cat, w) = writer()
    cat.upsert(TableSpec("default", "flat", engine = "Merge", orderBy = Seq("v"),
      columns = Seq("v" -> "INT64")))
    val uris = LineProtocolParser.parse(
      "flat v=3i 1700000000000000001\nflat v=1i 1700000000000000002\nflat v=2i 1700000000000000003")
      .toSeq.flatMap(w.store)
    val tableDir = root.resolve("default/flat")
    assert(uris.size == 1 && java.nio.file.Paths.get(uris.head).getParent == tableDir, uris)
    assert(fileRows(uris.head).map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val idx = graft.index.MetadataIndex.load(tableDir, "flat")
    assert(idx.entries.values.map(_.rowCount).toSeq == Seq(3L))
  }

  test("footer key-value metadata and parquet schema equal a storeDataFrame-written file") {
    val (_, _, w) = writer()
    val lp = w.store(LineProtocolParser.parse(
      "kv,host=a f=1.5,i=3i,u=4u,b=true,s=\"x\" 1700000000000000001").toSeq.head)
    val schema = StructType(Seq(StructField("host", StringType), StructField("f", DoubleType),
      StructField("i", LongType), StructField("u", DecimalType(20, 0)),
      StructField("b", BooleanType), StructField("s", StringType), StructField("time", LongType)))
    val df = spark.createDataFrame(java.util.List.of(Row("a", 1.5, 3L,
      new java.math.BigDecimal(4), true, "x", 1700000000000000001L)), schema)
    val sp = w.storeDataFrame("default", "kv2", df)
    val (a, b) = (footer(lp.head).getFileMetaData, footer(sp.head).getFileMetaData)
    assert(a.getKeyValueMetaData.asScala == b.getKeyValueMetaData.asScala)
    assert(a.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assert(a.getSchema == b.getSchema)
    def codecs(u: String) = footer(u).getBlocks.asScala.flatMap(_.getColumns.asScala)
      .map(c => c.getPath.toDotString -> c.getCodec).toMap
    assert(codecs(lp.head) == codecs(sp.head))
  }

  test("a failed flush write leaves no staging dir and publishes nothing") {
    val (root, cat, w) = writer()
    // an order_by key the table has never seen fails inside the write,
    // after staging was created
    cat.upsert(TableSpec("default", "bad", orderBy = Seq("nosuch")))
    // a merge whose plan names a source that is gone fails in its read;
    // it stages and commits through the same step as the flush
    LineProtocolParser.parse("m v=1i 1700000000000000001").foreach(w.store)
    // a commit bumps the table's version so cached query views re-list
    assert(cat.version("default", "m") == 1)
    val (mSpec, mDir) = (cat.get("default", "m").get, cat.tableDir("default", "m"))
    val part = MetadataIndex.partitionDirs(mDir).head
    val sources = Compactor.filesToMerge(spark, mSpec, mDir, part, 1).map(_._1) :+
      part.resolve("gone.1.parquet").toString
    Seq[(String, () => Any, String, Class[_ <: Exception])](
      ("bad", () => LineProtocolParser.parse("bad v=1i 1700000000000000001").foreach(w.store),
        "nosuch", classOf[IllegalArgumentException]),
      ("m", () => Compactor.executePlan(spark, mSpec, mDir, part,
        Compactor.Plan(sources, "merged.2.parquet", 1),
        () => cat.bumpVersion("default", "m")), "gone.1.parquet",
        classOf[org.apache.spark.sql.AnalysisException])
    ).foreach { case (table, fail, msg, cls) =>
      val tableDir = root.resolve(s"default/$table")
      def parquet() = Files.walk(tableDir).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSet
      def manifests() = MetadataIndex.partitionDirs(tableDir).map(MetadataIndex.load(_, table))
      val (parquet0, manifests0, v0) = (parquet(), manifests(), cat.version("default", table))
      val e = intercept[Exception](fail())
      assert(cls.isInstance(e), e)
      assert(e.getMessage.contains(msg), e.getMessage)
      val tmp = tableDir.resolve("tmp")
      assert(!Files.exists(tmp) || Files.list(tmp).count() == 0, table)
      assert(parquet() == parquet0, table)
      assert(manifests() == manifests0, table)
      assert(cat.version("default", table) == v0, table)
    }
  }

  test("the writer-built manifest entry equals the footer-read one on random batches") {
    val (_, cat, w) = writer()
    cat.upsert(TableSpec("default", "obe", orderBy = Seq("host", "v"),
      columns = Seq("host" -> "STRING", "v" -> "FLOAT64")))
    cat.upsert(TableSpec("default", "flate", engine = "Merge", orderBy = Seq("v"),
      columns = Seq("v" -> "FLOAT64")))
    val rnd = new scala.util.Random(11)
    val edges = Vector(Long.MinValue, Long.MaxValue, -1L, 0L, -t0)
    val hosts = Vector("a", "b", "c")
    // each table gets several flushes; round 2 adds columns b and s to
    // the default table, so its round-3 file null-pads them
    for {
      table <- Seq("evo", "obe", "flate")
      round <- 0 until 4
    } {
      val extra =
        if (table == "evo" && round == 2) Vector("b" -> FieldType.Bool, "s" -> FieldType.Str)
        else Vector.empty
      val schema = Vector("host" -> FieldType.Str, "v" -> FieldType.F64) ++ extra :+
        ("time" -> FieldType.I64)
      // up to 5 chunks: each chunk tracks its own time range
      val n = 1 + rnd.nextInt(w.ConvertChunkRows * 5)
      val lines = Vector.tabulate(n) { i =>
        // out-of-order times around t0, about one negative or extreme a batch
        val time = if (rnd.nextInt(n) == 0) edges(rnd.nextInt(edges.size))
          else t0 - rnd.nextLong(4000000000000L) + 2000000000000L
        val fields = Vector(("v", rnd.nextInt(1000) - 500.25, FieldType.F64)) ++
          extra.map { case (k, t) => (k, if (t == FieldType.Bool) i % 2 == 0 else s"s$i", t) }
        Line("default", table, Vector("host" -> hosts(rnd.nextInt(hosts.size))), fields, time)
      }
      val uris = w.store(Batch("default", table, schema, lines))
      assert(uris.size == 1)
      val file = java.nio.file.Paths.get(uris.head)
      val name = file.getFileName.toString
      val written = graft.index.MetadataIndex.load(file.getParent, table).entries(name)
      val footer = ParquetStats.manifestEntry(
        spark.sparkContext.hadoopConfiguration, uris.head, name)
      assert(written.copy(id = 0) == footer, s"$table round $round")
      assert(written.rowCount == n && written.dataMinTime == lines.map(_.timeNs).min &&
        written.dataMaxTime == lines.map(_.timeNs).max)
    }
    assert(cat.get("default", "evo").get.columns.map(_._1) ==
      Seq("host", "v", "time", "__timestamp", "b", "s"))
  }

  test("a SparkListener sees zero jobs during store(batch)") {
    val sc = spark.sparkContext
    val key = "graft.flushWriteSpec"
    val tag = "flush-write-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger(0)
    val markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerEnd = new AtomicReference[CountDownLatch]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case p if p == tag + "-marker" => markerIds.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.remove(e.jobId)) markerEnd.get.countDown()
    }
    /** Jobs this thread starts inside `body`: the listener bus delivers
      * in order, so once a later marker job's end arrives every earlier
      * job start has been counted. */
    def jobsDuring(body: => Unit): Int = {
      jobs.set(0)
      markerEnd.set(new CountDownLatch(1))
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, tag + "-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      assert(markerEnd.get.await(60, TimeUnit.SECONDS), "marker job end never arrived")
      jobs.get()
    }
    sc.addSparkListener(listener)
    try {
      val (_, cat, w) = writer()
      cat.upsert(TableSpec("default", "sorted", orderBy = Seq("host"),
        columns = Seq("host" -> "STRING")))
      val n = jobsDuring {
        LineProtocolParser.parse(
          "plain,host=a v=1i 1700000000000000001\nsorted,host=b v=2i 1700000000000000002\n" +
            "sorted,host=a v=3i 1700000000000000003").foreach(w.store)
      }
      assert(n == 0, s"$n Spark job(s) ran during store(batch)")
      // an NDJSON body is a Batch on the same flush
      assert(jobsDuring(w.store(NdJsonParser.parse(
        "{\"host\":\"a\",\"v\":1.5}\n{\"host\":\"b\",\"ok\":true}", "default", "ndjobs"))) == 0)
      // the probe does see jobs: the DataFrame path keeps its Spark write
      import spark.implicits._
      assert(jobsDuring(w.storeDataFrame("default", "viadf",
        Seq(("a", 1L)).toDF("host", "time"))) > 0)
    } finally sc.removeSparkListener(listener)
  }

  test("NDJSON bodies on BufferedIngest land the schema and rows the DataFrame write did") {
    val (_, cat, w) = writer()
    val buffer = new BufferedIngest(w, saveTimeoutMs = 50L)
    // heterogeneous keys across lines, an F64 column widening a later
    // integral value, `time` present in one body and absent in the other
    val withTime =
      """{"host":"a","v":1,"time":1700000000000000001,"ratio":0.5}
        |{"host":"b","ratio":2,"ok":true,"time":1700000000000000003}
        |{"v":3,"time":1700000000000000002,"note":"x"}""".stripMargin
    val noTime =
      """{"sensor":"s1","temp":20.5}
        |{"sensor":"s2","temp":21,"count":7}
        |{"count":8,"flag":false}""".stripMargin
    try Seq("withtime" -> withTime, "notime" -> noTime).map { case (t, body) =>
      buffer.store(NdJsonParser.parse(body, "nd", t, () => t0))
    }.foreach(Await.result(_, 1.minute))
    finally buffer.close()
    def rows(t: String): Seq[String] = {
      val cols = cat.get("nd", t).get.columns.map(_._1).filterNot(_ == "__timestamp")
      GraftFileIndex.readTable(spark, cat, "nd", t)
        .select(cols.map(org.apache.spark.sql.functions.col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    }
    // expected values: the parent's NdJsonParser.toDataFrame +
    // storeDataFrame run on the same bodies
    assert(cat.get("nd", "withtime").get.columns == Seq("host" -> "STRING", "v" -> "INT64",
      "time" -> "INT64", "ratio" -> "FLOAT64", "ok" -> "BOOL", "note" -> "STRING",
      "__timestamp" -> "INT64"))
    assert(rows("withtime") == Seq("a|1|1700000000000000001|0.5|null|null",
      "b|null|1700000000000000003|2.0|true|null", "null|3|1700000000000000002|null|null|x"))
    // the one difference: a body without `time` gets the arrival time in
    // a trailing `time` column, as a line-protocol line without a stamp
    assert(cat.get("nd", "notime").get.columns == Seq("sensor" -> "STRING",
      "temp" -> "FLOAT64", "count" -> "INT64", "flag" -> "BOOL", "time" -> "INT64",
      "__timestamp" -> "INT64"))
    assert(rows("notime") == Seq(s"null|null|8|false|$t0", s"s1|20.5|null|null|$t0",
      s"s2|21.0|7|null|$t0"))
  }
}
