package graft.compact

import java.nio.file.Path
import java.util.UUID
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.catalog.{TableCatalog, TableSpec}
import graft.index.{MetadataIndex, ParquetLevels}
import graft.ingest.Publish
import graft.sources.ObjectStore

/** LSM-style leveled compaction (reference N15-N18): per partition dir,
  * per level L∈{1..4}, greedily bin-pack `*.L.parquet` files (size-desc)
  * into plans capped at the level's target size, then merge each plan into
  * one sorted `{uuid}.{L+1}.parquet`.
  *
  * Same constants as the reference (merge_tree_service.go:336-344):
  * caps 100 MB / 400 MB / 4 GB / 4 GB at cadence t, 10t, 100t, 420t.
  *
  * The merge itself is Spark: read(mergeSchema) → sort(orderBy) →
  * one sorted file, staged under `{table}/tmp/`; the step every flush
  * also runs ([[graft.ingest.Publish.staged]]) publishes and commits
  * it. Spark's external sort replaces both the reference's
  * DuckDB `ORDER BY` copy (L1) and its chsql `read_parquet_mergetree`
  * k-way merge (L≥2) — reference merge_service_fs.go:202-278.
  *
  * Scale note: each plan is an independent bounded job (≤4 GB input), so a
  * scheduler can run many plans concurrently across a cluster; no driver
  * state beyond the plan list. Sorted output keeps parquet row-group
  * min/max tight, which is what makes scan-time pruning work at 100 TB.
  */
object Compactor {
  /** `from` are data URIs (local paths or object-store keys). */
  final case class Plan(from: Seq[String], to: String, level: Int)

  val MaxLevel = 4 // reference MERGE_ITERATIONS
  /** level (1-based) → max merged-output bytes (reference getMergeConfigurations). */
  def maxSizeFor(level: Int): Long = level match {
    case 1 => 100L * 1024 * 1024
    case 2 => 400L * 1024 * 1024
    case _ => 4000L * 1024 * 1024
  }
  /** level → cadence multiplier over the base timeout (reference: 1,10,100,420). */
  def cadenceFor(level: Int): Long = level match {
    case 1 => 1; case 2 => 10; case 3 => 100; case _ => 420
  }

  /** Files eligible at `level` in one partition dir: `*.{level}.parquet`
    * present in the index (reference GetFilesToMerge), size-descending.
    * URIs resolve through the table's data residency (local or remote). */
  def filesToMerge(spark: SparkSession, spec: TableSpec, tableDir: Path,
                   partDir: Path, level: Int): Seq[(String, Long)] = {
    val idx = MetadataIndex.load(partDir, spec.name)
    // resolve the remote root ONCE per call, not per manifest entry —
    // the per-file dataUri form re-parses the S3 URL and re-applies ~6
    // process-global hadoopConfiguration keys per entry per 10 s tick,
    // concurrent with query threads reading that same Configuration
    // (the GraftFileIndex r10 fix, applied to the compaction listing)
    val remoteRoot = ObjectStore.tableRemoteRoot(spark, spec)
    idx.entries.values.toSeq
      .filter(e => ParquetLevels.levelOf(e.path) == level)
      .map(e => (ObjectStore.dataUriFrom(remoteRoot, tableDir, partDir, e.path), e.sizeBytes))
      // local: one cheap stat guards out-of-band deletions (the original
      // Files.exists defense). Remote: the manifest commit protocol IS
      // the existence guarantee — a per-file HEAD here would cost one
      // serial driver S3 round-trip per live file per 10 s tick; an
      // out-of-band S3 deletion surfaces as one failed, logged merge of
      // that partition instead of a permanent per-tick tax on all of them
      .filter { case (p, _) => spec.dataUrl.isDefined || ObjectStore.exists(spark, p) }
      .sortBy(-_._2)
  }

  /** Greedy size-desc bin packing — same algorithm as the reference
    * PlanMerge (merge_service_fs.go:81-106), including its cut-after-
    * overflow behavior. */
  def planMerge(files: Seq[(String, Long)], maxResSize: Long, level: Int): Seq[Plan] = {
    var plans = Vector.empty[Plan]
    var from = Vector.empty[String]
    var acc = 0L
    files.foreach { case (p, sz) =>
      acc += sz
      from :+= p
      if (acc > maxResSize) {
        plans :+= Plan(from, s"${UUID.randomUUID()}.${level + 1}.parquet", level)
        from = Vector.empty
        acc = 0L
      }
    }
    if (from.nonEmpty)
      plans :+= Plan(from, s"${UUID.randomUUID()}.${level + 1}.parquet", level)
    plans
  }

  /** Max concurrently-executing merge plans (reference errgroup weighted
    * semaphore, merge_service_fs.go:361-380). */
  val MaxConcurrentPlans = 10

  /** Compact every partition of a table once at the given levels.
    * Plans are independent bounded jobs and run ≤ MaxConcurrentPlans wide
    * (each is a separate Spark job; fine from multiple threads).
    * Returns the number of merge plans executed. */
  def compactTable(spark: SparkSession, catalog: TableCatalog,
                   db: String, table: String, gcDropQueue: Boolean = true,
                   // 1 TO MaxLevel: the reference runs MERGE_ITERATIONS=4
                   // iterations (cadences 1,10,100,420 — BASELINE.md's
                   // "4200 s / 4 GB 4th iteration"), so level-4 files DO
                   // merge (into terminal .5.parquet); `until` left L4
                   // accumulating unbounded small files forever
                   levels: Seq[Int] = 1 to MaxLevel,
                   graceMs: Long = MetadataIndex.DropGraceMs): Int = {
    val spec = catalog.get(db, table).getOrElse(return 0)
    val dirs = {
      val root = catalog.tableDir(db, table)
      val parts = MetadataIndex.partitionDirs(root)
      if (parts.nonEmpty) parts else Seq(root)
    }
    val tableDir = catalog.tableDir(db, table)
    val plans = for {
      dir <- dirs
      _ = if (gcDropQueue)
        MetadataIndex.gc(dir, table, graceMs,
          delete = spec.dataUrl.map(_ => (p: String) =>
            ObjectStore.delete(spark,
              ObjectStore.dataUri(spark, spec, tableDir, dir, p)): Unit))
      level <- levels
      plan <- planMerge(filesToMerge(spark, spec, tableDir, dir, level),
        maxSizeFor(level), level)
      if plan.from.size > 1 // 1-file plans: nothing to gain at rest
    } yield (dir, plan)
    if (plans.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(MaxConcurrentPlans, plans.size))
      val results =
        try {
          val fs = plans.map { case (dir, p) =>
            pool.submit(new java.util.concurrent.Callable[String] {
              def call(): String = executePlan(spark, spec, tableDir, dir, p,
                () => catalog.bumpVersion(db, table))
            })
          }
          fs.map(f => scala.util.Try(f.get()))
        } finally pool.shutdown()
      results.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    }
    plans.size
  }

  /** The merge's in-file row order. Default: lexicographic on the
    * table's ORDER BY keys (the mergetree contract). With the spec's
    * opt-in `zorder` flag (exactly two numeric keys, validated at
    * create), rows cluster on the Morton curve of the two keys'
    * min/max-normalized 2048-bucket values instead
    * ([[graft.ops.LayoutOps]]): row-group zone maps inside the merged
    * file get tight on BOTH dimensions, so parquet row-group pruning
    * serves time x series predicates — the OPTIMIZE ZORDER analog on
    * the compaction path. The min/max probe runs on the PRE-coalesce
    * frame — a parallel, column-pruned scan of just the two key
    * columns, not a single-task re-read of the whole plan; NaN and
    * ±Inf are excluded from the probe (non-finite lo/hi would make
    * every row's normalization NaN → an ANSI cast error failing the
    * merge forever) and handled per-row: NaN buckets to 0, ±Inf pins
    * to the curve's ends, and the clamp runs in double space before
    * the long cast. A constant or empty dimension falls back to bucket 0,
    * and the first ORDER BY key breaks z-ties so output order is
    * deterministic. Returns the coalesce(1)'d sorted frame (coalesce,
    * not repartition: no round-robin exchange before the sort). */
  private[compact] def clusterSort(df: DataFrame, spec: TableSpec): DataFrame =
    if (!spec.zorder || spec.orderBy.size != 2)
      df.coalesce(1).sortWithinPartitions(spec.orderBy.map(col): _*)
    else {
      import org.apache.spark.sql.functions._
      val Seq(c1, c2) = spec.orderBy
      def finite(c: String): Column = {
        val d = col(c).cast("double")
        // NULL (excluded by min/max) unless finite: NaN sorts greatest in
        // Spark SQL and ±Inf falls outside [-Max, Max], so one between()
        // excludes all three — an Inf lo/hi would make the normalization
        // below NaN (Inf/Inf) and fail the merge forever under ANSI
        when(d.between(lit(Double.MinValue), lit(Double.MaxValue)), d)
      }
      val r = df.agg(
        min(finite(c1)), max(finite(c1)),
        min(finite(c2)), max(finite(c2))).collect()(0)
      def bucket(c: String, loIdx: Int): Column =
        if (r.isNullAt(loIdx) || r.isNullAt(loIdx + 1) ||
            r.getDouble(loIdx + 1) <= r.getDouble(loIdx)) lit(0L)
        else {
          val (lo, hi) = (r.getDouble(loIdx), r.getDouble(loIdx + 1))
          val d = col(c).cast("double")
          // ROW values may still be non-finite even though lo/hi are
          // finite-filtered: ±Inf pins to the curve's ends, and the
          // normalization is clamped in DOUBLE space (then nanvl'd for
          // the (d-lo)=Inf ∧ (hi-lo)=Inf corner near ±1.7e308) BEFORE
          // the long cast, so no non-finite value ever reaches the ANSI
          // cast that would poison every future merge of the table
          val norm = nanvl(((d - lit(lo)) / lit(hi - lo)) * 2047.0, lit(0.0))
          when(d.isNull || isnan(d), lit(0L))
            .when(d === lit(Double.PositiveInfinity), lit(2047L))
            .when(d === lit(Double.NegativeInfinity), lit(0L))
            .otherwise(
              least(lit(2047.0), greatest(lit(0.0), norm)).cast("long"))
        }
      df.coalesce(1).sortWithinPartitions(
        graft.ops.LayoutOps.zorder2(bucket(c1, 0), bucket(c2, 2)),
        col(c1), col(c2))
    }

  /** Merge one plan into one sorted file named `plan.to`: the merge's
    * own part is the mergeSchema read plus [[clusterSort]], written into
    * the staging dir [[graft.ingest.Publish.staged]] hands it (under the
    * partition's path relative to the table). That step publishes the
    * file and commits it with the sources as the manifest's removes;
    * `onCommit` runs once it landed. A staging dir that a failed cleanup
    * leaves stays under `{table}/tmp/`. */
  def executePlan(spark: SparkSession, spec: TableSpec, tableDir: Path,
                  partDir: Path, plan: Plan, onCommit: () => Unit = () => ()): String =
    Publish.staged(spark, spec, tableDir, onCommit, name = Some(plan.to),
      // normalize separators before taking the basename (review r10,
      // the ObjectStore.dataUri convention): on a platform-native
      // local path lastIndexOf('/') would return the WHOLE path,
      // the manifest remove would silently no-op, and every tick
      // would re-merge the same still-live sources
      remove = plan.from.map { u =>
        val n = u.replace('\\', '/'); n.substring(n.lastIndexOf('/') + 1)
      }) { staging =>
      val rel = tableDir.relativize(partDir).toString.replace('\\', '/')
      clusterSort(spark.read
        .option("mergeSchema", "true")
        .parquet(plan.from: _*), spec)
        .write.mode("overwrite")
        .parquet((if (rel.isEmpty) staging else new HPath(staging, rel)).toString)
    }.head
}
