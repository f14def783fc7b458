package graft.ingest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.{TableCatalog, TableSpec}
import graft.index.FileEntry
import graft.ingest.IngestWriter.RowChunk
import graft.lineproto.LineProtocolParser.{Batch, FieldType}

/** The schema-on-write ingest path (reference write pipeline §3.1):
  * schema evolution → `__timestamp` injection → date/hour partition
  * derivation → sorted parquet in
  * `{root}/{db}/{table}/date=YYYY-MM-DD/hour=HH/{uuid}.1.parquet` →
  * metadata.json index update.
  *
  * The batch flush, the firehose DataFrame write and compaction share
  * one staging, publish and manifest-commit step ([[Publish.staged]]);
  * each only writes its parquet into the staging dir. A buffered flush
  * (`store`: every HTTP body, line protocol or NDJSON) holds its rows in
  * driver memory and carries one arrival stamp, so one partition dir:
  * its rows become UnsafeRows on the driver and Spark's Parquet writer
  * encodes them in the flush thread, with no Spark job. A DataFrame
  * (`storeDataFrame`: StreamIngest) keeps the Spark write, whose tasks
  * read and partition the data where it lives.
  *
  * Differences from the reference, by design (SURVEY §2.1 quirks):
  *  - date AND hour derive per-row from `__timestamp` (the reference
  *    buckets by day but labels with the first row's hour);
  *  - bool fields are stored (BooleanType);
  *  - UInt64 → Decimal(20,0).
  *
  * Scale path: this writer handles the reference-style driver-buffered
  * micro-batches. For sustained 100 TB/day firehose ingest the same
  * transform chain runs under Structured Streaming
  * (graft.streaming.StreamIngest) where parallel parse happens in
  * executors, not the driver.
  */
final class IngestWriter(spark: SparkSession, root: String, catalog: TableCatalog,
                         nowNs: () => Long = () => System.currentTimeMillis() * 1000000L) {

  /** Reference type names per FieldType (data_types.go:26-51). */
  private def typeName(t: FieldType): String = t match {
    case FieldType.I64 => "INT64"
    case FieldType.U64 => "UINT64"
    case FieldType.F64 => "FLOAT64"
    case FieldType.Str => "STRING"
    case FieldType.Bool => "BOOL"
  }

  def sparkType(name: String): DataType = graft.catalog.GraftTypes.sparkType(name)

  /** The table's directory (for callers like StreamIngest that persist
    * per-table sidecar state next to the data). */
  def tableDirOf(db: String, table: String): java.nio.file.Path =
    catalog.tableDir(db, table)

  /** Chunk size for the driver-parallel UnsafeRow build: below one
    * chunk the fork-join fan-out costs more than it saves. */
  private[ingest] val ConvertChunkRows = 8192

  /** The table's data columns in catalog order, as the parquet file
    * stores them: `__timestamp` never null (REQUIRED, as the Spark
    * write's literal column leaves it), every other column nullable. */
  private def tableSchema(spec: TableSpec): StructType =
    StructType(spec.columns.map { case (n, t) =>
      StructField(n, sparkType(t), nullable = n != "__timestamp")
    })

  /** Line-proto batch → flat UnsafeRow chunks in `schema`, the table's
    * full catalog column order: columns the batch lacks stay null and
    * `__timestamp` is the flush's one arrival stamp. Each chunk carries
    * its `time` range for the manifest entry. The flush thread's
    * idle cores build the chunks in parallel (fork-join over disjoint
    * row ranges, one codegen'd UnsafeProjection per chunk — instances
    * are not thread-safe, the generated class is cached). */
  private def toRowChunks(batch: Batch, schema: StructType, tsNs: Long): Array[RowChunk] = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String

    val byName = schema.fieldNames.zipWithIndex.toMap
    val timeIdx = byName("time")
    val tsIdx = byName("__timestamp")
    val width = schema.length
    val rows = batch.rows
    val n = rows.length

    def convertChunk(lo: Int, hi: Int): RowChunk = {
      val proj = UnsafeProjection.create(schema)
      val scratch = new GenericInternalRow(width)
      var bytes = new Array[Byte](math.max(64, (hi - lo) * 64))
      val offsets = new Array[Int](hi - lo + 1)
      var tMin = Long.MaxValue
      var tMax = Long.MinValue
      var pos = 0
      var i = lo
      while (i < hi) {
        val line = rows(i)
        var j = 0
        while (j < width) { scratch.update(j, null); j += 1 }
        line.tags.foreach { case (k, v) =>
          scratch.update(byName(k), UTF8String.fromString(v))
        }
        line.fields.foreach { case (k, v, t) =>
          scratch.update(byName(k), t match {
            case FieldType.U64 =>
              org.apache.spark.sql.types.Decimal(v.asInstanceOf[BigDecimal], 20, 0)
            case FieldType.Str => UTF8String.fromString(v.asInstanceOf[String])
            case _ => v // I64: java.lang.Long, F64: Double, Bool: Boolean
          })
        }
        scratch.update(timeIdx, line.timeNs)
        tMin = math.min(tMin, line.timeNs)
        tMax = math.max(tMax, line.timeNs)
        scratch.update(tsIdx, tsNs)
        val r = proj(scratch)
        val sz = r.getSizeInBytes
        if (pos + sz > bytes.length)
          bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, pos + sz))
        r.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + pos)
        pos += sz
        offsets(i - lo + 1) = pos
        i += 1
      }
      RowChunk(offsets, if (pos == bytes.length) bytes else java.util.Arrays.copyOf(bytes, pos),
        tMin, tMax)
    }

    val chunks = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      n / ConvertChunkRows))
    val built = new Array[RowChunk](chunks)
    if (chunks == 1) built(0) = convertChunk(0, n)
    else java.util.stream.IntStream.range(0, chunks).parallel().forEach { c =>
      built(c) = convertChunk((n.toLong * c / chunks).toInt, (n.toLong * (c + 1) / chunks).toInt)
    }
    built
  }

  /** The chunks' rows in file order. A default table (order_by is
    * `__timestamp`, one literal per flush) keeps arrival order and
    * re-points one UnsafeRow per chunk. A custom order_by sorts row
    * pointers on a generated ordering — ascending, nulls first, as
    * `sortWithinPartitions` orders them; the buffer caps a flush near
    * 1 M rows, so the pointer array stays small. No row is copied. */
  private def fileRows(spec: TableSpec, schema: StructType,
                       chunks: Array[RowChunk]): Iterator[InternalRow] = {
    val width = schema.length
    val keys = spec.orderBy.filterNot(_ == "__timestamp")
    if (keys.isEmpty) chunks.iterator.flatMap { ch =>
      val r = new UnsafeRow(width)
      Iterator.range(0, ch.count).map(ch.point(r, _))
    } else {
      import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, SortOrder}
      import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
      val ordering = GenerateOrdering.generate(keys.map { k =>
        val i = schema.fieldNames.indexOf(k)
        if (i < 0) throw new IllegalArgumentException(
          s"order_by column '$k' is not a column of ${spec.database}.${spec.name}")
        SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)
      })
      val ptrs = chunks.flatMap(ch => Array.tabulate(ch.count)(ch.point(new UnsafeRow(width), _)))
      java.util.Arrays.sort[UnsafeRow](ptrs, ordering)
      ptrs.iterator
    }
  }

  /** Encode `rows` into ONE parquet file under `dir`, in this thread,
    * with the OutputWriterFactory Spark's file-source write builds:
    * the same ParquetWriteSupport, session codec, parquet confs and
    * footer key-value metadata, without the job around it. */
  private def writeParquet(dir: HPath, schema: StructType,
                           rows: Iterator[InternalRow]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val out = factory.newInstance(
      new HPath(dir, "part-0" + factory.getFileExtension(ctx)).toString, schema, ctx)
    try rows.foreach(out.write)
    catch {
      case NonFatal(e) =>
        try out.close() catch { case NonFatal(s) => e.addSuppressed(s) }
        throw e
    }
    out.close()
  }

  /** Names and client columns the engine refuses, rejected before
    * catalog.evolve persists anything (and, on `/write`, before anything
    * is enqueued). A db or table name outside `TableCatalog.NameRe`
    * would fail only in the flush, as the engine's fault; a reserved
    * column in the spec would poison every later write.
    * `__timestamp` is the arrival stamp: a client column of that name
    * would lose its values to the stamp, or forge it. On HiveMerge tables
    * `date`/`hour` are derived partition columns: the write would replace
    * a client column of that name and strip it into the dir name — acked
    * data destroyed invisibly. A table not yet in the catalog gets
    * evolve's default engine (HiveMerge). `catalog.get` is memory-first:
    * no I/O on a known table. */
  private[graft] def rejectReserved(db: String, table: String, names: Seq[String]): Unit = {
    require(TableCatalog.NameRe.matches(db), s"invalid database name: $db")
    require(TableCatalog.NameRe.matches(table), s"invalid table name: $table")
    if (names.contains("__timestamp"))
      throw new IllegalArgumentException(
        "column '__timestamp' is reserved (engine arrival time); " +
          "use the line-protocol timestamp token for event time")
    val engine = catalog.get(db, table).map(_.engine).getOrElse("HiveMerge")
    if (engine == "HiveMerge") IngestWriter.PartitionPatterns.foreach { case (c, _) =>
      if (names.contains(c)) throw new IllegalArgumentException(
        s"column '$c' is reserved on HiveMerge tables (derived partition)")
    }
  }

  /** Store one parsed batch: evolve schema (first-type-wins), stamp
    * `__timestamp`, write the flush's one sorted file in this thread,
    * index. The manifest entry comes from what the flush already holds
    * (row count, the one stamp, the chunks' `time` ranges), not from
    * re-reading the file's footer. Returns URIs written. */
  def store(batch: Batch): Seq[String] = {
    rejectReserved(batch.database, batch.table, batch.schema.map(_._1))
    val mark = phaseClock()
    val spec = catalog.evolve(batch.database, batch.table,
      batch.schema.map { case (n, t) => (n, typeName(t)) } :+ ("__timestamp" -> "INT64"))
    val schema = tableSchema(spec)
    val tsNs = nowNs()
    val chunks = toRowChunks(batch, schema, tsNs)
    mark("convert")
    // the stats a footer read of this file returns
    val stats = ParquetStats.Stats(batch.size.toLong, tsNs, tsNs,
      Map("time" -> (chunks.map(_.minTime).min, chunks.map(_.maxTime).max)))
    publish(spec, mark, Some(stats)) { staging =>
      val dir = if (spec.engine != "HiveMerge") staging
        else new HPath(staging, IngestWriter.partitionDir(tsNs,
          spark.sessionState.conf.sessionLocalTimeZone))
      writeParquet(dir, schema, fileRows(spec, schema, chunks))
    }
  }

  /** Store a DataFrame with the Spark write (the StreamIngest firehose;
    * types must be line-proto-compatible). It keeps the DataFrame's
    * executor partitioning — no shuffle, no single-task bottleneck: each
    * task sorts its slice by (partition cols ++ orderBy) and writes its
    * own sorted file per (date, hour); the L1→L2 compactor merges the
    * extra files, which is exactly what it exists for. (Repartitioning on
    * (date, hour) would NOT scale here: at firehose rates nearly all rows
    * share the current hour, so that key hashes the whole batch back into
    * one task.) A caller that needs one file passes `df.coalesce(1)`. */
  def storeDataFrame(db: String, table: String, df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "INT64"
        // UINT64 IS decimal(20,0): any other precision/scale would write
        // parquet files that neither the catalog-typed table read nor the
        // Compactor's mergeSchema read can reconcile with decimal(20,0)
        case d: DecimalType if d.precision == 20 && d.scale == 0 => "UINT64"
        case d: DecimalType => throw new IllegalArgumentException(
          s"decimal(${d.precision},${d.scale}) unsupported for column " +
            s"${f.name}: UINT64 is decimal(20,0) exactly")
        case DoubleType => "FLOAT64"
        case StringType => "STRING"
        case BooleanType => "BOOL"
        case other => throw new IllegalArgumentException(
          s"unsupported ingest type ${other.simpleString} for column ${f.name}")
      }
      (f.name, t)
    }
    // a pre-set __timestamp (the StreamIngest firehose contract) must
    // already be the engine's epoch-ns model, not a lookalike type
    val presetTs = df.columns.contains("__timestamp")
    if (presetTs && df.schema("__timestamp").dataType != LongType)
      throw new IllegalArgumentException(
        s"__timestamp must be INT64 epoch-ns, got " +
          df.schema("__timestamp").dataType.simpleString)
    rejectReserved(db, table, df.columns.toSeq.filterNot(_ == "__timestamp"))
    val spec = catalog.evolve(db, table, cols.toSeq :+ ("__timestamp" -> "INT64"))
    val withTs = if (presetTs) df else df.withColumn("__timestamp", lit(nowNs()))
    // null-pad to the table's full first-seen schema (reference
    // data_store.go:109-141 back-fill)
    val padded = spec.columns.foldLeft(withTs) { case (d, (n, t)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, lit(null).cast(sparkType(t)))
    }.select(spec.columns.map(c => col(c._1)): _*)
    val hive = spec.engine == "HiveMerge"
    val tsUs = expr("__timestamp DIV 1000")
    val partitioned =
      if (!hive) padded
      else IngestWriter.PartitionPatterns.foldLeft(padded) { case (d, (c, p)) =>
        d.withColumn(c, date_format(timestamp_micros(tsUs), p))
      }
    publish(spec, phaseClock()) { staging =>
      // each task sorts its slice with the hive partition cols leading,
      // so every file is ordered within its dir. Only when WE injected
      // the single-literal arrival stamp does it drop out of the sort:
      // rows all-equal on a key ARE sorted by it (a caller-provided
      // __timestamp varies per row and must keep sorting)
      val keys = (if (hive) IngestWriter.PartitionPatterns.map(_._1) else Nil) ++
        spec.orderBy.filterNot(k => k == "__timestamp" && !presetTs)
      val sorted =
        if (keys.isEmpty) partitioned
        else partitioned.sortWithinPartitions(keys.distinct.map(col): _*)
      val writer = sorted.write.mode("append")
      (if (hive) writer.partitionBy(IngestWriter.PartitionPatterns.map(_._1): _*) else writer)
        .parquet(staging.toString)
    }
  }

  /** [[Publish.staged]] into this catalog's table dir; each commit bumps
    * the table's version so cached query views re-list. */
  private def publish(spec: TableSpec, mark: String => Unit,
                      known: Option[ParquetStats.Stats] = None)
                     (stage: HPath => Unit): Seq[String] =
    Publish.staged(spark, spec, catalog.tableDir(spec.database, spec.name),
      () => catalog.bumpVersion(spec.database, spec.name), mark, known)(stage)

  /** Per-phase wall clock under GRAFT_FLUSH_DEBUG: each `mark(phase)`
    * prints the time since the previous mark. */
  private def phaseClock(): String => Unit =
    if (!sys.env.contains("GRAFT_FLUSH_DEBUG")) _ => ()
    else {
      var t = System.nanoTime()
      phase => { val now = System.nanoTime(); println(f"[wdbg] $phase=${(now - t) / 1e9}%.3f"); t = now }
    }
}

object IngestWriter {
  /** One driver-built conversion chunk: `count` UnsafeRows concatenated
    * in `bytes`, row i spanning [offsets(i), offsets(i+1)), and the
    * min/max of their `time`. */
  private[ingest] final case class RowChunk(offsets: Array[Int], bytes: Array[Byte],
                                            minTime: Long, maxTime: Long) {
    def count: Int = offsets.length - 1
    def point(r: UnsafeRow, i: Int): UnsafeRow = {
      r.pointTo(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offsets(i),
        offsets(i + 1) - offsets(i))
      r
    }
  }

  /** The hive partition columns and their `date_format` patterns over
    * `__timestamp` — the one spelling of the `date=/hour=` layout, which
    * the Spark write evaluates per row and the in-process flush once. */
  private[ingest] val PartitionPatterns = Seq("date" -> "yyyy-MM-dd", "hour" -> "HH")

  /** `date=…/hour=…` of one `__timestamp` (epoch ns) in the session
    * time zone `zone`: the formatter `date_format(timestamp_micros(
    * __timestamp DIV 1000), p)` evaluates, on the same truncating DIV. */
  private[ingest] def partitionDir(tsNs: Long, zone: String): String = {
    import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
    val zoneId = DateTimeUtils.getZoneId(zone)
    PartitionPatterns.map { case (c, p) =>
      val f = TimestampFormatter(p, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false)
      s"$c=${f.format(tsNs / 1000)}"
    }.mkString("/")
  }
}

/** Footer-level stats for one parquet file (no data scan). */
object ParquetStats {
  final case class Stats(rowCount: Long, minTime: Long, maxTime: Long,
                         colRanges: Map[String, (Long, Long)] = Map.empty)

  /** Manifest entry for a published file, from its footer. `entry` is
    * the ONE place encoding the stats invariants (min_time/max_time =
    * server __timestamp arrival stats; data_min/max_time = client `time`
    * stats, unbounded when the column is absent), used by ingest and
    * compaction alike so the two can never drift. */
  def manifestEntry(conf: Configuration, uri: String, name: String): FileEntry = {
    val p = new HPath(uri)
    entry(name, p.getFileSystem(conf).getFileStatus(p).getLen,
      read(conf, uri, "__timestamp", extraCols = Seq("time")))
  }

  /** The entry of a `sizeBytes` file named `name` whose `__timestamp`
    * stats and `time` range are `stats`: a footer read's, or the ones
    * the buffered flush already holds (IngestWriter.store). */
  def entry(name: String, sizeBytes: Long, stats: Stats): FileEntry = {
    val (dmin, dmax) = stats.colRanges.getOrElse("time", (Long.MinValue, Long.MaxValue))
    FileEntry(
      id = 0, path = name, sizeBytes = sizeBytes,
      rowCount = stats.rowCount,
      chunkTime = stats.minTime,
      minTime = stats.minTime, maxTime = stats.maxTime,
      dataMinTime = dmin, dataMaxTime = dmax)
  }

  /** Threshold below which footer stats are read inline on the driver:
    * a small stream micro-batch (or a spec's DataFrame) publishes 1-2
    * files and a Spark job's scheduling round-trip would only add latency.
    * Above it (the streaming firehose path: T tasks × P hour-partitions
    * files) stats
    * are gathered by ONE Spark job with the footer opens running in
    * executors — the driver never does a per-file loop. */
  private val InlineStatsMax = 4

  /** Manifest entries for many staged files: `(stagedUri, finalName)` →
    * name-keyed entries. Stats come from the staged bytes (publish is a
    * rename/copy, never a rewrite). */
  def manifestEntries(spark: SparkSession,
                      files: Seq[(String, String)]): Map[String, FileEntry] = {
    if (files.isEmpty) return Map.empty
    if (files.size <= InlineStatsMax) {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map { case (uri, name) => name -> manifestEntry(conf, uri, name) }.toMap
    } else {
      import org.apache.spark.util.GraftHadoopConf
      val bc = confBroadcast(spark)
      spark.sparkContext
        .parallelize(files, math.min(files.size, 64))
        .map { case (uri, name) => name -> manifestEntry(GraftHadoopConf.value(bc), uri, name) }
        // metadata-only collect: one small FileEntry per published file,
        // bounded by the batch's file count — the driver owns the
        // manifest and must write these; no table data moves
        .collect().toMap
    }
  }

  /** One Hadoop-conf broadcast per SparkContext, not per micro-batch:
    * the firehose path calls manifestEntries every few seconds, and a
    * fresh broadcast each time churns the block manager between GCs.
    * Staleness is a non-issue for THIS broadcast: stats jobs read staged
    * files on the table root's FS, whose access needs no late-bound
    * credentials (object-store creds only matter for published keys,
    * which this job never touches). */
  private val confBcRef = new java.util.concurrent.atomic.AtomicReference[
    (org.apache.spark.SparkContext,
     org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])]()
  private def confBroadcast(spark: SparkSession) = {
    val sc = spark.sparkContext
    val cur = confBcRef.get()
    if (cur != null && (cur._1 eq sc)) cur._2
    else {
      val bc = org.apache.spark.util.GraftHadoopConf.broadcast(sc)
      confBcRef.set((sc, bc))
      bc
    }
  }

  /** Row count + min/max of `timeCol`, plus ranges of any `extraCols`
    * that are present with int64 stats (absent → not in the map →
    * callers must treat as unknown/unbounded). */
  def read(conf: Configuration, file: String, timeCol: String,
           extraCols: Seq[String] = Nil): Stats = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      var rows = 0L
      val mins = scala.collection.mutable.Map.empty[String, Long]
      val maxs = scala.collection.mutable.Map.empty[String, Long]
      val wanted = (timeCol +: extraCols).toSet
      blocks.foreach { b =>
        rows += b.getRowCount
        b.getColumns.asScala.filter(c => wanted(c.getPath.toDotString)).foreach { c =>
          val name = c.getPath.toDotString
          val st = c.getStatistics
          if (st != null && st.hasNonNullValue) {
            st.genericGetMin match {
              case l: java.lang.Long =>
                mins(name) = math.min(mins.getOrElse(name, Long.MaxValue), l)
                maxs(name) = math.max(maxs.getOrElse(name, Long.MinValue),
                  st.genericGetMax.asInstanceOf[java.lang.Long])
              case _ =>
            }
          }
        }
      }
      val ranges = mins.keys.map(k => k -> (mins(k), maxs(k))).toMap
      // missing/statless timeCol → UNBOUNDED, exactly like extraCols:
      // (0, 0) would make the file prunable by any lower-bound > 0 query
      // (silent missing rows) and retention-expirable (maxTime 0 < any
      // cutoff → data loss) — conservative unknown is the only safe stat
      val (minT, maxT) = ranges.getOrElse(timeCol, (Long.MinValue, Long.MaxValue))
      Stats(rows, minT, maxT, ranges - timeCol)
    } finally reader.close()
  }
}
