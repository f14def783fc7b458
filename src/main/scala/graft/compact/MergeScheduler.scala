package graft.compact

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.catalog.TableCatalog
import graft.index.MetadataIndex

/** Background merge scheduler (reference RunMerge, registry.go:29,42-62):
  * a ticker walks the table registry and compacts. The reference ticks
  * every 10 s and runs level L only every cadenceFor(L) ticks (1, 10,
  * 100, 420 — merge_tree_service.go:336-344), so small L1 merges are
  * frequent and the big L3 merges rare.
  *
  * Without this, 1 s-flush files accumulate unboundedly and reads degrade
  * — the exact failure the LSM design exists to prevent. Each tick's
  * plans are bounded independent Spark jobs (≤ 4 GB input, ≤ 10 wide), so
  * at cluster scale the ticker is cheap driver-side planning.
  */
final class MergeScheduler(spark: SparkSession, catalog: TableCatalog,
                           baseIntervalMs: Long = 10000L,
                           graceMs: Long = MetadataIndex.DropGraceMs,
                           // optional per-table TTL (max data age in ns):
                           // expired partitions ride the same drop-queue +
                           // grace GC as compaction deletes (RetentionEnforcer)
                           retentionNs: (String, String) => Option[Long] =
                             (_, _) => None)
  extends AutoCloseable {

  private val ticks = new AtomicLong(0L)
  private val scheduler = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-merge-scheduler"); t.setDaemon(true); t
  })

  def start(): MergeScheduler = {
    // the outer guard matters: tick()'s per-table try does not cover
    // catalog.all() (per-tick disk listing + JSON parse), and ONE
    // uncaught throw makes scheduleWithFixedDelay cancel the task
    // FOREVER with no output — compaction and retention silently halt,
    // the exact failure this scheduler exists to prevent
    scheduler.scheduleWithFixedDelay(() => {
      try { tick(): Unit }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[merge-scheduler] tick failed: ${e.getMessage}") }
    }, baseIntervalMs, baseIntervalMs, TimeUnit.MILLISECONDS)
    this
  }

  /** One scheduler beat: compact every table at each level whose cadence
    * divides the tick count. Visible for deterministic tests. */
  def tick(): Int = {
    val n = ticks.incrementAndGet()
    val due = (1 to Compactor.MaxLevel).filter(l => n % Compactor.cadenceFor(l) == 0)
    if (due.isEmpty) 0
    else catalog.all().map { spec =>
      try {
        retentionNs(spec.database, spec.name).foreach { ttl =>
          val root = catalog.tableDir(spec.database, spec.name)
          // version bump on expiry: cached query views must re-list, or
          // they'd keep referencing dropped files past the GC grace —
          // same contract as ingest (IngestWriter) and compaction
          if (RetentionEnforcer.enforce(root, spec.name, ttl).nonEmpty)
            catalog.bumpVersion(spec.database, spec.name)
        }
        val merged = Compactor.compactTable(spark, catalog, spec.database,
          spec.name, levels = due, graceMs = graceMs)
        // sweep AFTER compactTable: its gc pass (which owns the
        // object-store deleter) already drained due drop-queue entries
        if (retentionNs(spec.database, spec.name).isDefined)
          RetentionEnforcer.sweep(catalog.tableDir(spec.database, spec.name), spec.name)
        merged
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[merge-scheduler] ${spec.database}.${spec.name}: ${e.getMessage}")
          0
      }
    }.sum
  }

  /** Stop ticking and wait for an in-flight tick, so no merge or gc runs
    * after close returns. The wait is bounded (30 s) under the 60 s
    * perfbench gives a server to exit after SIGTERM. Safe to repeat. */
  override def close(): Unit = {
    scheduler.shutdown()
    scheduler.awaitTermination(30, TimeUnit.SECONDS): Unit
  }
}
