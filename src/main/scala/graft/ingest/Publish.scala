package graft.ingest

import java.nio.file.Path
import java.util.UUID
import scala.util.control.NonFatal
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import graft.catalog.TableSpec
import graft.index.{FileEntry, MetadataIndex}
import graft.sources.ObjectStore

/** The one commit protocol for every file a manifest lists: [[staged]]. */
object Publish {

  /** Run `stage` into a fresh `{tableDir}/tmp/{uuid}` staging dir, then
    * publish every parquet file it staged and commit the manifests, so a
    * flush and a merge become visible the same way: as in the reference,
    * the bytes go to their final name or object key first
    * (save_service_s3.go:55-88, merge_service_s3.go:73-144), then one
    * manifest batch per partition dir adds and removes entries
    * (json_index.go:312-416). A file staged under `date=…/hour=…`
    * (relative to the staging dir) lands in that partition dir of the
    * table.
    *
    * Local tables: atomic move. Object-store tables (spec.dataUrl): the
    * bytes are copied to their FINAL key and the metadata.json manifest
    * is the commit; no rename exists on S3. Staging runs on the Hadoop
    * FileSystem API, not java.nio, so a Spark write on a cluster can
    * stage on shared HDFS/s3a: only the table root URI changes.
    *
    * `known`, `name` and `remove` describe a stage that writes exactly
    * one file: its stats (else they come from the staged footers), its
    * published name (else `{uuid}.1.parquet`) and the entries it
    * replaces in its partition's manifest (a merge's sources).
    * `mark` times the encode, stats, publish and commit phases.
    * `onCommit` runs once when any manifest commit landed, even if a
    * later one failed; callers bump the table's catalog version there,
    * so cached query views re-list before a gc deletes what a merge
    * removed.
    *
    * A failure before the commit deletes what was published; after a
    * commit, a failed staging cleanup is only logged: the rows are
    * already visible. Returns the published URIs. */
  def staged(spark: SparkSession, spec: TableSpec, tableDir: Path, onCommit: () => Unit,
             mark: String => Unit = _ => (), known: Option[ParquetStats.Stats] = None,
             name: Option[String] = None, remove: Seq[String] = Nil)
            (stage: HPath => Unit): Seq[String] = {
    val tableUri = new HPath(tableDir.toUri)
    val fs = ObjectStore.publishFs(tableUri, spark.sparkContext.hadoopConfiguration)
    val staging = new HPath(new HPath(tableUri, "tmp"), UUID.randomUUID().toString)
    fs.mkdirs(staging)
    // published-but-not-yet-committed files: a failure before the
    // manifest commit would leak final-key objects no manifest or drop
    // queue can ever reclaim
    val uncommitted = scala.collection.mutable.LinkedHashSet.empty[HPath]
    var committed = false
    try {
      stage(staging)
      mark("encode")

      val stagingStr = staging.toString
      // listStatus, not listFiles: a LocatedFileStatus copies each entry's
      // permissions, which Hadoop's local FS without its native library
      // loads by running `ls -ld` per file and dir — a process spawn each
      def parquetUnder(dir: HPath): Vector[(HPath, Long)] =
        fs.listStatus(dir).toVector.flatMap { st =>
          if (st.isDirectory) parquetUnder(st.getPath)
          else if (st.getPath.getName.endsWith(".parquet")) Vector(st.getPath -> st.getLen)
          else Vector.empty
        }
      val written = parquetUnder(staging)
      if ((known.isDefined || name.isDefined || remove.nonEmpty) && written.size != 1)
        throw new IllegalStateException(s"${written.size} files staged in $staging, expected one")
      // (staged file, partition dir, final name)
      val planned = written.map { case (part, _) =>
        val rel = part.getParent.toString.stripPrefix(stagingStr)
          .stripPrefix("/") // "" or date=../hour=..
        (part, tableDir.resolve(rel), name.getOrElse(s"${UUID.randomUUID()}.1.parquet"))
      }
      // footer stats read the STAGED bytes (publish never rewrites
      // them), for all files at once
      val entries: Map[String, FileEntry] = known match {
        case Some(stats) =>
          Map(planned.head._3 -> ParquetStats.entry(planned.head._3, written.head._2, stats))
        case None => ParquetStats.manifestEntries(
          spark, planned.map { case (p, _, n) => (p.toString, n) })
      }
      mark("stats")

      // ONE spelling of the remote key layout (ObjectStore owns it): a
      // divergent reassembly here would publish to keys the dataUri-based
      // readers and the GC deleter could never find
      val remoteRoot = ObjectStore.tableRemoteRoot(spark, spec)
      val out = planned.map { case (part, dir, n) =>
        val (dest, uri) = remoteRoot match {
          case Some(_) =>
            val u = ObjectStore.dataUriFrom(remoteRoot, tableDir, dir, n)
            ObjectStore.copyPublish(spark, part, u)
            (new HPath(u), u)
          case None =>
            val d = new HPath(dir.resolve(n).toUri)
            fs.mkdirs(d.getParent)
            ObjectStore.publishRename(fs, part, d)
            (d, d.toUri.getPath)
        }
        uncommitted += dest
        (dir, n, uri, dest)
      }
      mark("publish")

      // ONE manifest commit per partition dir: N files into a partition
      // is one read-modify-write of its metadata.json, not N. For remote
      // tables this manifest write IS what makes the files visible.
      out.groupBy(_._1).foreach { case (dir, group) =>
        MetadataIndex.batch(dir, spec.name, add = group.map(g => entries(g._2)), remove = remove)
        committed = true
        uncommitted --= group.map(_._4)
      }
      mark("commit")
      out.map(_._3)
    } catch {
      case NonFatal(e) =>
        uncommitted.foreach { p =>
          try ObjectStore.delete(spark, p.toString): Unit
          catch { case NonFatal(_) => () }
        }
        throw e
    } finally {
      if (committed) onCommit()
      // a failed write must not leak partial parquet at a 1 s flush
      // cadence; but a committed write must not turn into a failure
      // here: the client would get an error for rows it can already
      // query, and a retry would write them twice. A leaked staging dir
      // stays under {table}/tmp/, invisible to manifest-driven reads.
      try fs.delete(staging, true): Unit
      catch {
        case NonFatal(e) if committed =>
          System.err.println(s"[graft] staging cleanup failed, left in $staging: $e")
      }
    }
  }
}
