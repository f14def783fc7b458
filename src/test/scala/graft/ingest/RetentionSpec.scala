package graft.ingest

import java.nio.file.{Files, Path}

import graft.compact.RetentionEnforcer
import graft.index.{FileEntry, MetadataIndex}
import org.scalatest.funsuite.AnyFunSuite

/** Partition-TTL retention over the manifest machinery: expire → drop
  * queue → grace GC → drained-dir pruning. */
class RetentionSpec extends AnyFunSuite {

  private def mkPartition(root: Path, rel: String, minNs: Long, maxNs: Long): Path = {
    val dir = root.resolve(rel)
    Files.createDirectories(dir)
    Files.write(dir.resolve("a.1.parquet"), Array[Byte](1, 2, 3))
    MetadataIndex.batch(dir, "t",
      add = Seq(FileEntry(0, "a.1.parquet", 3, 1, minNs, minNs, maxNs)))
    dir
  }

  /** The drop-queue GC the scheduler's compactTable runs before sweep. */
  private def gcAll(root: Path, graceMs: Long, nowMs: Long = System.currentTimeMillis(),
                    delete: Path => Option[String => Unit] = _ => None): Unit =
    MetadataIndex.partitionDirs(root).foreach(d =>
      MetadataIndex.gc(d, "t", graceMs, nowMs, delete = delete(d)))

  test("enforce queues only fully-expired partitions; sweep deletes after grace and prunes dirs") {
    val root = Files.createTempDirectory("graft-ttl")
    val nowNs = 1000L * 1000000000L
    val old = mkPartition(root, "date=2024-01-01/hour=00", 1L, 100L * 1000000000L)
    val straddle = mkPartition(root, "date=2024-01-02/hour=00",
      400L * 1000000000L, 600L * 1000000000L)
    val fresh = mkPartition(root, "date=2024-01-03/hour=00",
      900L * 1000000000L, 990L * 1000000000L)

    // TTL 500 s: cutoff 500 s — only `old` (max 100 s) is fully below
    val expired = RetentionEnforcer.enforce(root, "t",
      maxAgeNs = 500L * 1000000000L, nowNs = nowNs)
    assert(expired == Seq(old), expired)
    val oldIdx = MetadataIndex.load(old, "t")
    assert(oldIdx.entries.isEmpty && oldIdx.dropQueue.map(_.path) == Vector("a.1.parquet"))
    // expiry is reader-safe: the file still exists during the grace window
    assert(Files.exists(old.resolve("a.1.parquet")))
    assert(MetadataIndex.load(straddle, "t").entries.nonEmpty)
    assert(MetadataIndex.load(fresh, "t").entries.nonEmpty)

    // before grace: gc + sweep must delete nothing
    gcAll(root, graceMs = 30000L)
    RetentionEnforcer.sweep(root, "t")
    assert(Files.exists(old.resolve("a.1.parquet")))

    // after grace: file deleted, drained dir + empty date= parent pruned
    gcAll(root, graceMs = 0L, nowMs = System.currentTimeMillis() + 1)
    RetentionEnforcer.sweep(root, "t")
    assert(!Files.exists(old), "drained partition dir should be pruned")
    assert(!Files.exists(root.resolve("date=2024-01-01")), "empty date dir pruned")
    assert(Files.exists(straddle.resolve("a.1.parquet")))
    assert(Files.exists(fresh.resolve("a.1.parquet")))

    // idempotent: a second pass is a no-op
    assert(RetentionEnforcer.enforce(root, "t", 500L * 1000000000L, nowNs).isEmpty)
    gcAll(root, graceMs = 0L)
    RetentionEnforcer.sweep(root, "t")
    assert(Files.exists(straddle) && Files.exists(fresh))
  }

  test("MergeScheduler tick enforces a table's TTL through the normal beat") {
    val root = Files.createTempDirectory("graft-ttl3")
    val catalog = new graft.catalog.TableCatalog(root.toString)
    catalog.upsert(graft.catalog.TableSpec("db", "m"))
    val tdir = catalog.tableDir("db", "m")
    // ancient partition (1970): any sane TTL expires it
    mkPartition(tdir, "date=1970-01-01/hour=00", 1L, 2L)
    val sched = new graft.compact.MergeScheduler(
      graft.SparkSpec.session, catalog, graceMs = 0L,
      retentionNs = (_, _) => Some(86400L * 1000000000L))
    try {
      val v0 = catalog.version("db", "m")
      sched.tick() // enforce queues the drop; compactTable GCs at grace 0
      sched.tick() // second beat prunes the drained dir
      assert(!Files.exists(tdir.resolve("date=1970-01-01/hour=00")))
      // expiry must invalidate cached query views, like ingest/compaction
      assert(catalog.version("db", "m") > v0)
    } finally sched.close()
  }

  test("sweep routes deletes through the object-store hook when given one") {
    val root = Files.createTempDirectory("graft-ttl4")
    // object-store shape: manifest local, data bytes remote (no local file)
    val dir = root.resolve("date=1970-01-01/hour=00")
    Files.createDirectories(dir)
    MetadataIndex.batch(dir, "t", add = Seq(FileEntry(0, "a.1.parquet", 3, 1, 1, 1, 2)))
    RetentionEnforcer.enforce(root, "t", maxAgeNs = 1L, nowNs = 1000L * 1000000000L)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    gcAll(root, graceMs = 0L, nowMs = System.currentTimeMillis() + 1,
      delete = d => Some(p => { deleted += s"${d.getFileName}/$p"; () }))
    RetentionEnforcer.sweep(root, "t")
    assert(deleted == Seq("hour=00/a.1.parquet"), deleted)
    assert(!Files.exists(dir), "drained dir pruned after remote delete")
  }

  test("a straddling partition ages out on a later pass, whole") {
    val root = Files.createTempDirectory("graft-ttl2")
    val p = mkPartition(root, "date=2024-01-02/hour=00",
      400L * 1000000000L, 600L * 1000000000L)
    val ttl = 500L * 1000000000L
    assert(RetentionEnforcer.enforce(root, "t", ttl, nowNs = 1000L * 1000000000L).isEmpty)
    // time passes: now the whole partition is below the cutoff
    val later = RetentionEnforcer.enforce(root, "t", ttl, nowNs = 1200L * 1000000000L)
    assert(later == Seq(p))
  }
}
