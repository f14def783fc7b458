package graft.compact

import java.nio.file.{Files, Path}

import graft.index.MetadataIndex

import scala.jdk.CollectionConverters._

/** Partition-TTL retention: expire whole hive partitions whose data has
  * aged past a max-age policy — the operational loop every metrics
  * lakehouse runs next to compaction (the reference has no TTL; this is
  * an extension its InfluxDB-shaped users expect, built entirely on the
  * existing manifest machinery).
  *
  * Expiry is PARTITION-granular and reader-safe: a partition expires
  * only when its manifest max_time is entirely below the cutoff (a
  * straddling partition is kept whole and ages out on a later pass),
  * and expiry just moves the partition's live files onto the existing
  * drop queue — the same 30 s-grace GC that protects in-flight readers
  * from compaction deletes protects them from retention deletes.
  * Once that GC has deleted the files, `sweep` prunes drained partition
  * dirs (manifest last) so the `date=/hour=` tree shrinks as data ages
  * out.
  *
  * At 100 TB: enforcement reads only manifests (no data IO) — one
  * metadata.json per partition, pruned by the same cached parses the
  * query path uses; deletes are per-partition and idempotent, so a
  * scheduler can run this at any cadence, concurrent with ingest into
  * NEWER partitions (per-partition manifest synchronization is the
  * existing writer contract). */
object RetentionEnforcer {

  /** Queue every fully-expired partition's live files for deletion.
    * `nowNs` against the manifest's server-assigned `__timestamp` stats
    * (min_time/max_time, the reference's partitioning clock). Returns
    * the partition dirs expired this pass. */
  def enforce(tableRoot: Path, tableName: String, maxAgeNs: Long,
              nowNs: Long = System.currentTimeMillis() * 1000000L): Seq[Path] = {
    val cutoff = nowNs - maxAgeNs
    MetadataIndex.partitionDirs(tableRoot).flatMap { dir =>
      val idx = MetadataIndex.load(dir, tableName)
      if (idx.entries.nonEmpty && idx.maxTime < cutoff) {
        MetadataIndex.batch(dir, tableName, remove = idx.entries.keys.toSeq)
        Some(dir)
      } else None
    }
  }

  /** Remove partition dirs that are fully drained (no live files, no
    * queued deletes, nothing on disk but the manifest) and any empty
    * `date=` parents. Deleting due drop-queue files is
    * `MetadataIndex.gc`'s job (compactTable runs it every tick, with
    * the object-store deleter). */
  def sweep(tableRoot: Path, tableName: String): Unit = {
    MetadataIndex.partitionDirs(tableRoot).foreach { dir =>
      // prune INSIDE the manifest monitor: batch/gc hold the same lock,
      // so a concurrent ingest commit can't land between the emptiness
      // re-check and the manifest delete (it would either commit first —
      // and the re-check sees it — or block until the dir is gone and
      // recreate it from scratch). Outside the lock this silently
      // destroyed a just-committed entry (object-store data is remote,
      // so the residue check alone can never protect it).
      MetadataIndex.synchronized {
        val idx = MetadataIndex.load(dir, tableName)
        if (idx.entries.isEmpty && idx.dropQueue.isEmpty &&
            listDir(dir).forall(_.getFileName.toString == MetadataIndex.FileName)) {
          // manifest last: a dir with a manifest is always a valid
          // (possibly empty) partition to any concurrent reader.
          // DATA-file publishes happen OUTSIDE this monitor (only
          // manifest commits share it), so a parquet can still land
          // between the emptiness check and the dir delete — that race
          // is benign as long as it doesn't ABORT the sweep: the dir
          // simply survives until the next sweep (its manifest is
          // recreated by the commit that races us)
          Files.deleteIfExists(dir.resolve(MetadataIndex.FileName))
          try Files.deleteIfExists(dir)
          catch { case _: java.nio.file.DirectoryNotEmptyException => () }
          val parent = dir.getParent
          if (parent != null && parent != tableRoot &&
              Files.isDirectory(parent) && listDir(parent).isEmpty)
            try Files.deleteIfExists(parent)
            catch { case _: java.nio.file.DirectoryNotEmptyException => () }
        }
      }
    }
  }

  /** Files.list with the stream CLOSED (the returned stream holds an
    * open directory fd; iterator exhaustion does not release it). */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }
}
