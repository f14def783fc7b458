package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.ingest.IngestWriter
import graft.lineproto.LineProtocolParser
import graft.lineproto.LineProtocolParser.{FieldType, Precision}

/** The 100 TB ingest path: Structured Streaming over a landing directory
  * of line-protocol text, parsed *in executors* (the parser is pure Scala
  * with no driver state), micro-batched by the trigger exactly like the
  * reference's 1 s flush ticker (reference merge_tree_service.go:201-213
  * — its "streaming" IS micro-batched buffered ingest, SURVEY §2.5; no
  * watermarks/event-time state exist in the reference surface).
  *
  * Unlike the driver-buffered BufferedIngest (reference-shaped), parsing,
  * row materialization AND the sorted parquet write here scale with
  * executor count: each micro-batch keeps its executor partitioning and
  * every task writes its own sorted file (IngestWriter.storeDataFrame);
  * only the manifest commit is driver-coordinated.
  */
object StreamIngest {

  /** Declared stream schema: (name, reference type name) pairs — a
    * production firehose has a fixed measurement schema; dynamic-schema
    * streams go through the HTTP path.
    *
    * Contract: each stream OWNS its landing directory. Unprefixed lines
    * in it belong to this stream's (db, table); `db.table`-prefixed
    * lines for anything else are dropped. Pointing two streams with
    * different specs at one landing dir double-claims unprefixed
    * traffic — give each stream its own dir (the reference equivalently
    * scopes its WAL per table). */
  final case class StreamSpec(db: String, table: String,
                              columns: Seq[(String, String)])

  def sparkField(nameType: (String, String)): StructField =
    StructField(nameType._1, graft.catalog.GraftTypes.sparkType(nameType._2))

  /** Parse a partition of raw lines into rows of the declared schema —
    * runs inside executors via mapPartitions. Lines addressed to a
    * different (db, table) than the stream's spec are dropped, not
    * silently coerced into the target table (a stray measurement in the
    * landing dir must not corrupt the stream's table). */
  /** Coerce one parsed value onto the DECLARED column type: exact kind
    * matches plus safe widenings (int→double, uint→decimal/exact-long);
    * anything else degrades to null FOR THAT CELL. Without this, a
    * single line whose field type disagrees with the declared schema
    * (e.g. `v=42i` against FLOAT64) would fail Row serialization, kill
    * the task maxFailures times, terminate the query, and — because the
    * checkpoint replays the same landing file on restart — crash-loop
    * the whole firehose on one bad line. One producer's bad line must
    * cost one cell, never the stream. */
  private[streaming] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => s
    case (l: java.lang.Long, LongType) => l
    case (l: java.lang.Long, DoubleType) => l.doubleValue()
    case (d: java.lang.Double, DoubleType) => d
    case (b: java.lang.Boolean, BooleanType) => b
    case (bd: BigDecimal, _: DecimalType) => bd.bigDecimal
    case (bd: BigDecimal, LongType) =>
      try bd.bigDecimal.longValueExact()
      catch { case _: ArithmeticException => null }
    case (bd: BigDecimal, DoubleType) => bd.bigDecimal.doubleValue()
    case (l: java.lang.Long, _: DecimalType) => java.math.BigDecimal.valueOf(l)
    case _ => null
  }

  private[streaming] def parsePartition(lines: Iterator[String],
                                        schema: StructType,
                                        db: String, table: String): Iterator[Row] = {
    val byName = schema.fieldNames.zipWithIndex.toMap
    lines.flatMap { text =>
      // parse with the stream's db as default so UNPREFIXED lines route to
      // this stream's database; only genuinely foreign (db.table-prefixed
      // for someone else) lines are dropped. One producer's MALFORMED
      // line must cost that line, never the stream (review r10: an
      // uncaught ParseException fails the task, the query terminates,
      // and checkpoint replay re-delivers the same file — a permanent
      // crash-loop on one bad line; the coerce() discipline, extended
      // from cell level to line level).
      // `text` is one landing line (the .text() source is
      // row-per-line), so the vector is one batch
      (try LineProtocolParser.parse(text, defaultDb = db).toVector
       catch { case scala.util.control.NonFatal(_) => Vector.empty })
        .filter(b => b.database == db && b.table == table)
        .flatMap(_.rows.iterator.map { line =>
        val arr = new Array[Any](schema.length)
        line.tags.foreach { case (k, v) =>
          byName.get(k).foreach(i => arr(i) = coerce(v, schema(i).dataType)) }
        line.fields.foreach { case (k, v, _) =>
          byName.get(k).foreach(i => arr(i) = coerce(v, schema(i).dataType))
        }
        byName.get("time").foreach(i => arr(i) = coerce(line.timeNs, schema(i).dataType))
        Row.fromSeq(arr.toIndexedSeq)
      })
    }
  }

  /** Start the stream: landing dir of text files → parsed typed rows →
    * per-micro-batch durable ingest (partitioned parquet + index). */
  def start(spark: SparkSession, writer: IngestWriter, spec: StreamSpec,
            landingDir: String, trigger: Trigger = Trigger.ProcessingTime("1 second"),
            checkpointDir: Option[String] = None): StreamingQuery = {
    val schema = StructType(spec.columns.map(sparkField))
    val enc = Encoders.row(schema)
    val parsed = spark.readStream
      .text(landingDir)
      .select("value").as(Encoders.STRING)
      .mapPartitions(it => parsePartition(it, schema, spec.db, spec.table))(enc)
    // Replay-guard identity (review r10, tightened r15): a batchId only
    // means anything within ONE checkpoint's LIFETIME — not one
    // checkpoint PATH. A path-keyed marker outlived a wiped-and-
    // recreated checkpoint dir: batchIds restart at 0, so every new
    // batch up to the old high-water mark read as already-committed —
    // silent loss while the query ran green. The key therefore appends
    // the checkpoint's metadata query id (minted when Spark CREATES the
    // checkpoint dir, fresh after a wipe); checkpoint-less runs get a
    // fresh key per start(). Lazy: the metadata file exists only after
    // q.start(), and the first foreachBatch call is after that.
    lazy val guardKey = checkpointDir match {
      case Some(d) => d + "#" + checkpointId(spark, d)
      case None => "ephemeral-" + java.util.UUID.randomUUID()
    }
    val q = parsed.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        // foreachBatch is at-least-once: a crash after the manifest commit
        // but before the CHECKPOINT commit replays the batch on restart,
        // and storeDataFrame would duplicate every row under fresh UUIDs.
        // A per-(table, checkpoint) marker of the last committed batchId
        // makes the replay a no-op. (Residual window: a crash between
        // manifest commit and marker write still duplicates that one
        // batch — true exactly-once needs the batchId inside the
        // manifest transaction.) The batchId guard runs FIRST: it is one
        // local file read, while df.isEmpty launches a Spark job that
        // re-parses the landing files — replayed batches skip for free.
        if (batchId > lastCommitted(writer, spec, guardKey) && !df.isEmpty) {
          // each executor task sorts and writes its own slice (no
          // coalesce(1) bottleneck) — the write scales with cores and the
          // compactor merges the per-task files
          writer.storeDataFrame(spec.db, spec.table, df)
          recordCommitted(writer, spec, guardKey, batchId)
        }
      }
    checkpointDir.foreach(d => q.option("checkpointLocation", d))
    q.start()
  }

  /** The checkpoint's query id from `<dir>/metadata` (written by Spark
    * when the checkpoint dir is created) — it IS the checkpoint's
    * lifetime: a wiped-and-recreated dir at the same path gets a fresh
    * id. Read over the Hadoop FS API (checkpoints may live on any
    * shared FS). Missing/unreadable metadata degrades to a fresh UUID —
    * the at-least-once direction (a restart may re-commit the one
    * replayed batch) rather than the silent-loss direction a stale
    * path-keyed marker gives. */
  private[streaming] def checkpointId(spark: SparkSession, dir: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(dir, "metadata")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
      """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
        .getOrElse("unreadable-" + java.util.UUID.randomUUID())
    } catch { case scala.util.control.NonFatal(_) =>
      "unreadable-" + java.util.UUID.randomUUID() }

  private def markerPath(writer: IngestWriter, spec: StreamSpec,
                         guardKey: String) = {
    // FULL digest in the filename: a truncated hash lets two guards on
    // one table collide and silently cross-suppress each other's
    // commits (review r15 — the 4-byte form had a 2^-32 per-pair
    // collision class whose failure mode is permanent silent loss)
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(guardKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = d.map(b => f"${b & 0xff}%02x").mkString
    writer.tableDirOf(spec.db, spec.table).resolve(s".stream_last_batch.$h")
  }

  private[streaming] def lastCommitted(writer: IngestWriter, spec: StreamSpec,
                                       guardKey: String): Long =
    try {
      val p = markerPath(writer, spec, guardKey)
      if (java.nio.file.Files.exists(p))
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
      else -1L
    } catch { case _: Exception => -1L }

  private[streaming] def recordCommitted(writer: IngestWriter, spec: StreamSpec,
                                         guardKey: String, batchId: Long): Unit = {
    val p = markerPath(writer, spec, guardKey)
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, batchId.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}
