package graft.index

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/** Per-partition-directory `metadata.json` min/max file index — the same
  * JSON shape the reference writes (reference merge/index/json_index.go:
  * 16-47 entry fields, 312-416 document fields), so its querier could read
  * ours: {type, parquet_size_bytes, row_count, min_time, max_time,
  * wal_sequence, drop_queue[], files[{id, path, size_bytes, row_count,
  * chunk_time, min_time, max_time, range, type}]}.
  *
  * This file-level zone map is what query-time pruning reads
  * (graft.pruning) — at 100 TB it prunes whole files before Spark ever
  * lists them, complementing parquet row-group stats inside each file.
  *
  * Updates are read-modify-write + atomic rename (reference flush(),
  * json_index.go:405-416). One index per partition dir; callers
  * synchronize per-partition (the ingest writer and compactor do).
  *
  * Deployment contract (same as the reference, which is single-node):
  * the index is DRIVER-owned — one writer process mutates manifests,
  * executors never touch them. Data files may live elsewhere (the
  * object-store path keeps bytes remote with the manifest as the commit,
  * ObjectStore.scala); the manifest tree itself lives on the driver's
  * root, which on a cluster is a shared/persistent mount. Spark-written
  * DATA paths all go through the Hadoop FS API (IngestWriter/Compactor);
  * java.nio here is fine because manifests are by contract local to the
  * single writer.
  */
final case class FileEntry(
    id: Long,
    path: String, // filename within the partition dir
    sizeBytes: Long,
    rowCount: Long,
    chunkTime: Long,
    minTime: Long, // server-assigned __timestamp stats (reference min_time)
    maxTime: Long,
    range: String = "",
    ftype: String = "parquet",
    // client-assigned `time` column stats — extra keys beyond the
    // reference shape; unbounded when unknown so pruning on `time`
    // predicates stays sound (a file with no stats can never be skipped)
    dataMinTime: Long = Long.MinValue,
    dataMaxTime: Long = Long.MaxValue)

/** A to-be-deleted file: kept on disk until the grace period elapses so
  * in-flight readers holding the old file list don't hit FileNotFound
  * (reference merge_service_fs.go:241-252, 30 s grace). */
final case class DropEntry(path: String, enqueuedAtMs: Long)

final case class PartitionIndex(
    tableName: String,
    entries: Map[String, FileEntry],
    dropQueue: Vector[DropEntry],
    // monotone rewrite counter, bumped on every persisted mutation —
    // the reference tracks it per WAL flush (json_index.go); querier
    // JSON parity plus a cheap staleness signal for external readers
    walSequence: Long = 0L) {
  def parquetSizeBytes: Long = entries.values.map(_.sizeBytes).sum
  def rowCount: Long = entries.values.map(_.rowCount).sum
  def minTime: Long = if (entries.isEmpty) 0L else entries.values.map(_.minTime).min
  def maxTime: Long = if (entries.isEmpty) 0L else entries.values.map(_.maxTime).max
}

// LOCKING NOTE: batch/gc serialize on THIS object's monitor, and
// RetentionEnforcer.sweep holds the same monitor externally to exclude
// manifest commits during empty-dir pruning — if this lock is ever
// striped per-partition, sweep must move to an index-owned prune
// operation or its commit-exclusion silently vanishes.
object MetadataIndex {
  val FileName = "metadata.json"

  /** Parse cache keyed by (mtime, size): every GraftFileIndex snapshot
    * and compaction tick calls `load` for EVERY partition dir, but only
    * partitions written since the last call changed. At 10k
    * hour-partitions and 1 s flush cadence this turns each refresh from
    * 10k JSON parses into 10k stats + ~1 parse.
    *
    * (mtime, size) is only APPROXIMATE content identity — two persists
    * inside the filesystem's mtime granularity can produce equal-size
    * files — so the cache serves READERS only; the mutating
    * read-modify-write paths (batch/gc) parse fresh under their monitor
    * (a stale read there would silently drop the intervening commit),
    * and every persist refreshes the cache with the index it just
    * wrote, which keeps readers exact for same-JVM writes. */
  private val parseCache =
    new java.util.concurrent.ConcurrentHashMap[Path, (java.nio.file.attribute.FileTime, Long, PartitionIndex)]()
  private val ParseCacheMax = 100000

  def load(partitionDir: Path, tableName: String): PartitionIndex =
    load(partitionDir, tableName, useCache = true)

  private def load(partitionDir: Path, tableName: String,
                   useCache: Boolean): PartitionIndex = {
    val f = partitionDir.resolve(FileName)
    if (!Files.exists(f)) return PartitionIndex(tableName, Map.empty, Vector.empty)
    val key = f.toAbsolutePath
    val attrs =
      try Some(Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes]))
      catch { case _: java.io.IOException => None } // raced with a rename: parse fresh
    val cached =
      if (useCache) attrs.flatMap { a =>
        Option(parseCache.get(key)).collect {
          case (m, s, idx) if m == a.lastModifiedTime() && s == a.size() => idx
        }
      } else None
    cached.getOrElse {
      // the manifest can VANISH between the exists check and the read —
      // planning racing RetentionEnforcer's drained-partition sweep
      // (review r10; partitionDirs documents exactly this tolerance but
      // the read step lacked it). A vanished partition is an empty one.
      val idx =
        try parse(f, tableName)
        catch {
          case _: java.nio.file.NoSuchFileException |
               _: java.io.FileNotFoundException =>
            return PartitionIndex(tableName, Map.empty, Vector.empty)
        }
      attrs.foreach { a =>
        if (parseCache.size() > ParseCacheMax) parseCache.clear()
        parseCache.put(key, (a.lastModifiedTime(), a.size(), idx))
      }
      idx
    }
  }

  private def parse(f: Path, tableName: String): PartitionIndex = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(f))
    val files = (j \ "files") match {
      case JArray(items) => items.map { e =>
        val fe = FileEntry(
          id = (e \ "id").extract[Long],
          path = (e \ "path").extract[String],
          sizeBytes = (e \ "size_bytes").extract[Long],
          rowCount = (e \ "row_count").extract[Long],
          chunkTime = (e \ "chunk_time").extract[Long],
          minTime = (e \ "min_time").extract[Long],
          maxTime = (e \ "max_time").extract[Long],
          range = (e \ "range").extractOrElse[String](""),
          ftype = (e \ "type").extractOrElse[String]("parquet"),
          dataMinTime = (e \ "data_min_time").extractOrElse[Long](Long.MinValue),
          dataMaxTime = (e \ "data_max_time").extractOrElse[Long](Long.MaxValue))
        fe.path -> fe
      }.toMap
      case _ => Map.empty[String, FileEntry]
    }
    // drop_queue stays a reference-shaped string array; enqueue times live
    // in the auxiliary drop_queue_at map (absent => 0 => GC-eligible now)
    val dropAt = (j \ "drop_queue_at") match {
      case JObject(kvs) => kvs.collect { case (k, JInt(v)) => k -> v.toLong
                                         case (k, JLong(v)) => k -> v }.toMap
      case _ => Map.empty[String, Long]
    }
    val drops = (j \ "drop_queue") match {
      case JArray(items) => items.map(_.extract[String]).toVector
        .map(p => DropEntry(p, dropAt.getOrElse(p, 0L)))
      case _ => Vector.empty[DropEntry]
    }
    PartitionIndex((j \ "type").extractOrElse[String](tableName), files, drops,
      walSequence = (j \ "wal_sequence").extractOrElse[Long](0L))
  }

  /** Atomically apply add/remove and persist (removed files go to the
    * drop queue for deferred deletion — reference merge_service_fs.go:
    * 241-252 GC with grace period). */
  def batch(partitionDir: Path, tableName: String,
            add: Seq[FileEntry] = Nil, remove: Seq[String] = Nil,
            nowMs: Long = System.currentTimeMillis()): PartitionIndex =
    synchronized {
      val cur = load(partitionDir, tableName, useCache = false)
      val nextId = (cur.entries.values.map(_.id) ++ Seq(0L)).max + 1
      val added = add.zipWithIndex.map { case (e, i) =>
        val withId = if (e.id == 0) e.copy(id = nextId + i) else e
        withId.path -> withId
      }
      val entries = (cur.entries -- remove) ++ added
      // a path both removed AND re-added in one batch stays LIVE (the
      // add wins above) — it must not also be drop-queued, or gc would
      // unlink a file the manifest still lists. No current caller does
      // this (compaction/ingest use fresh UUID names), but the API must
      // not hand later callers a delete-a-live-file landmine.
      val addedPaths = added.map(_._1).toSet
      val updated = PartitionIndex(tableName, entries,
        cur.dropQueue ++ remove.filter(p =>
          cur.entries.contains(p) && !addedPaths.contains(p))
          .map(DropEntry(_, nowMs)),
        walSequence = cur.walSequence + 1)
      persist(partitionDir, updated)
      updated
    }

  val DropGraceMs: Long = 30000L // reference merge_service_fs.go:241-252

  /** Delete drop-queued files whose grace period has elapsed; younger
    * entries stay queued (and on disk) for in-flight readers. `delete`
    * overrides the local-FS unlink for object-store-resident data. */
  def gc(partitionDir: Path, tableName: String,
         graceMs: Long = DropGraceMs,
         nowMs: Long = System.currentTimeMillis(),
         delete: Option[String => Unit] = None): Unit = {
    // snapshot the due entries under the monitor, but run the deletes
    // OUTSIDE it: object-store deletes are remote round-trips, and this
    // monitor is the same one every ingest manifest commit (batch) needs
    // — holding it across S3 DELETEs would stall every flush ack for the
    // duration of a compaction tick's GC
    val due = synchronized {
      val cur = load(partitionDir, tableName, useCache = false)
      cur.dropQueue.filter(d => nowMs - d.enqueuedAtMs >= graceMs)
    }
    if (due.isEmpty) return
    val del = delete.getOrElse((p: String) =>
      Files.deleteIfExists(partitionDir.resolve(p)): Unit)
    due.foreach(d => del(d.path)) // idempotent; a throw leaves the rest queued
    synchronized {
      // re-load: a concurrent batch() may have enqueued new drops between
      // the two critical sections — remove only what was deleted
      val cur = load(partitionDir, tableName, useCache = false)
      val deleted = due.map(_.path).toSet
      persist(partitionDir, cur.copy(
        dropQueue = cur.dropQueue.filterNot(d => deleted(d.path)),
        walSequence = cur.walSequence + 1))
    }
  }

  def persist(partitionDir: Path, idx: PartitionIndex): Unit = {
    Files.createDirectories(partitionDir)
    val json: JValue = JObject(
      "type" -> JString(idx.tableName),
      "parquet_size_bytes" -> JLong(idx.parquetSizeBytes),
      "row_count" -> JLong(idx.rowCount),
      "min_time" -> JLong(idx.minTime),
      "max_time" -> JLong(idx.maxTime),
      "wal_sequence" -> JLong(idx.walSequence),
      "drop_queue" -> JArray(idx.dropQueue.map(d => JString(d.path)).toList),
      "drop_queue_at" -> JObject(idx.dropQueue.map(d =>
        d.path -> (JLong(d.enqueuedAtMs): JValue)).toList),
      "files" -> JArray(idx.entries.values.toList.sortBy(_.id).map { e =>
        val base = List[(String, JValue)](
          "id" -> JLong(e.id),
          "path" -> JString(e.path),
          "size_bytes" -> JLong(e.sizeBytes),
          "row_count" -> JLong(e.rowCount),
          "chunk_time" -> JLong(e.chunkTime),
          "min_time" -> JLong(e.minTime),
          "max_time" -> JLong(e.maxTime),
          "range" -> JString(e.range),
          "type" -> JString(e.ftype))
        val extra =
          if (e.dataMinTime == Long.MinValue && e.dataMaxTime == Long.MaxValue) Nil
          else List[(String, JValue)](
            "data_min_time" -> JLong(e.dataMinTime),
            "data_max_time" -> JLong(e.dataMaxTime))
        JObject(base ++ extra)
      }))
    val tmp = partitionDir.resolve(FileName + ".bak")
    Files.writeString(tmp, compact(render(json)))
    val dest = partitionDir.resolve(FileName)
    Files.move(tmp, dest,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // refresh the reader cache with the index just written, so same-JVM
    // readers are exact regardless of mtime granularity
    try {
      val a = Files.readAttributes(dest, classOf[java.nio.file.attribute.BasicFileAttributes])
      parseCache.put(dest.toAbsolutePath, (a.lastModifiedTime(), a.size(), idx))
    } catch { case _: java.io.IOException => () }
  }

  /** All partition dirs (dirs containing metadata.json) under a table.
    *
    * Hand-rolled walk instead of `Files.walk`: the table root is walked
    * WHILE writers commit (atomic-rename staging creates and removes
    * transient `.bak`/tmp files), and `Files.walk`'s FileTreeIterator
    * throws UncheckedIOException(NoSuchFileException) when an entry it
    * listed vanishes before it stats it — planning must tolerate
    * concurrently-vanishing entries, not crash on them (a vanished
    * transient is by definition not a metadata.json we needed). ONLY
    * the vanished-entry races are swallowed: a genuine I/O failure
    * (AccessDenied, transient read error) rethrows — silently
    * excluding partitions there would return partial query results.
    * Symlinked partition dirs ARE followed (an archive layout may
    * assemble a table from links), but a visited-realpath set bounds
    * link cycles — termination without dropping symlink support. Each
    * directory stream is closed explicitly (open fds). */
  /** Partition trees are date=/hour= (≤ ~4 levels); 16 caps a stray
    * symlink into a deep foreign tree without touching real layouts. */
  val MaxWalkDepth = 16

  def partitionDirs(tableRoot: Path): Seq[Path] = {
    if (!Files.isDirectory(tableRoot)) return Nil
    val out = scala.collection.mutable.ListBuffer.empty[Path]
    val seen = scala.collection.mutable.HashSet.empty[Path]
    def walk(dir: Path, depth: Int): Unit = {
      if (depth > MaxWalkDepth) return // stray deep link: bounded, not crawled
      val real =
        try dir.toRealPath()
        // ONLY a vanished entry / dangling link; AccessDenied etc. must
        // rethrow — silent exclusion would return partial results
        catch { case _: java.nio.file.NoSuchFileException => return }
      if (!seen.add(real)) return // link cycle or diamond: already walked
      val ds =
        try Files.newDirectoryStream(dir)
        catch {
          // dir vanished mid-walk (compaction GC'd it); anything else
          // is a real failure the planner must surface
          case _: java.nio.file.NoSuchFileException => return
          case _: java.nio.file.NotDirectoryException => return
        }
      try {
        val it = ds.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isDirectory(p)) walk(p, depth + 1)
          else if (p.getFileName.toString == FileName) out += p.getParent
        }
      } catch {
        // an entry vanished between readdir batches — keep what we
        // have; other causes (wrapped real I/O errors) rethrow
        case e: java.nio.file.DirectoryIteratorException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => ()
      } finally ds.close()
    }
    walk(tableRoot, 0)
    out.toList
  }
}
