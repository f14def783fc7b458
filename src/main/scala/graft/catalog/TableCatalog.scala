package graft.catalog

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.JsonMethods.{compact, render}

/** Table registry: engine, ordering, partitioning, auto-timestamp, and the
  * first-seen (schema-on-write) column types.
  *
  * The reference keeps this in an in-memory map (its DuckDB persistence is
  * dead code — reference merge/repository/tables_repository.go:39-77,
  * SURVEY §2.1 N29); we persist one JSON per table at
  * `{root}/{db}/{table}/.table.json` so restarts keep schemas.
  *
  * Column types use the reference's 4+1 type names (reference
  * merge/data_types/data_types.go:26-51) plus BOOL (strict-superset:
  * the reference parses bools but cannot store them).
  */
final case class TableSpec(
    database: String,
    name: String,
    engine: String = "HiveMerge", // "Merge" = flat dir, "HiveMerge" = date/hour
    orderBy: Seq[String] = Seq("__timestamp"),
    autoTimestamp: Boolean = true,
    timestampField: Option[String] = None,
    timestampPrecision: String = "ns",
    // first-seen column types: name -> INT64|UINT64|FLOAT64|STRING|BOOL
    columns: Seq[(String, String)] = Nil,
    // object-store data residency (reference create_table.go s3_url):
    // reference s3:// grammar or any Hadoop scheme; data files live
    // there, metadata.json/catalog stay on the local root (manifest)
    dataUrl: Option[String] = None,
    // opt-in z-order compaction (beyond-reference, LayoutOps p88):
    // merges cluster rows on the Morton curve of the two order_by
    // keys' min/max-bucketed values instead of a lexicographic sort,
    // so row-group zone maps get tight on BOTH dimensions. Requires
    // exactly two numeric order_by keys (validated at create).
    zorder: Boolean = false) {
  require(TableCatalog.NameRe.matches(name), s"invalid table name: $name")
  require(TableCatalog.NameRe.matches(database), s"invalid database name: $database")
}

final class TableCatalog(root: String) {
  import TableCatalog._
  private val tables = scala.collection.concurrent.TrieMap.empty[(String, String), TableSpec]
  // monotonically increasing per-table data version, bumped on every
  // write/compaction — lets query-side view caches invalidate cheaply
  private val versions =
    scala.collection.concurrent.TrieMap.empty[(String, String), java.util.concurrent.atomic.AtomicLong]

  def version(db: String, table: String): Long =
    versions.get((db, table)).map(_.get()).getOrElse(0L)

  def bumpVersion(db: String, table: String): Unit =
    versions.getOrElseUpdate((db, table),
      new java.util.concurrent.atomic.AtomicLong(0L)).incrementAndGet(): Unit

  def tableDir(db: String, table: String): Path = {
    // names become FILESYSTEM path segments here: a lookup key like
    // "../otherdb/t" from an HTTP body would escape root and load (or
    // create) a spec outside it — TableSpec's own require only guards
    // the parsed JSON's fields, not the lookup key
    require(TableCatalog.NameRe.matches(db), s"invalid database name: $db")
    require(TableCatalog.NameRe.matches(table), s"invalid table name: $table")
    Paths.get(root, db, table)
  }

  def get(db: String, table: String): Option[TableSpec] =
    // invalid names are simply UNKNOWN tables on the read path (the
    // handlers' 'unknown table' 400), never a path lookup
    if (!TableCatalog.NameRe.matches(db) || !TableCatalog.NameRe.matches(table)) None
    else tables.get((db, table)).orElse(loadFromDisk(db, table))

  def all(): Seq[TableSpec] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return tables.values.toSeq
    // close the list streams: each holds a directory fd that iterator
    // exhaustion does not release, and all() runs every scheduler tick
    def subdirs(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
      finally s.close()
    }
    val onDisk = for {
      db <- subdirs(r)
      t <- subdirs(db)
      // memory-first, like get(): re-parsing a cached table's JSON every
      // scheduler tick is wasted I/O AND opens the stale-clobber race
      // loadFromDisk guards against
      if !tables.contains((db.getFileName.toString, t.getFileName.toString))
      if Files.exists(t.resolve(".table.json"))
      // per-table isolation: ONE truncated/hand-edited .table.json must
      // not 500 every query and halt compaction for every healthy table
      spec <- (try loadFromDisk(db.getFileName.toString, t.getFileName.toString)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[catalog] skipping unparseable " +
            s"${t.resolve(".table.json")}: ${e.getMessage}")
          None
        })
    } yield spec
    (tables.values.toSeq ++ onDisk).distinctBy(s => (s.database, s.name))
  }

  /** Register or evolve (synchronized: single writer per table, like the
    * reference's registry mutex — reference registry.go:65-84). */
  def upsert(spec: TableSpec): TableSpec = synchronized {
    tables((spec.database, spec.name)) = spec
    persist(spec)
    spec
  }

  /** First-type-wins schema merge: new columns append, existing columns
    * must keep their first-seen type (reference data_store.go:94-141,
    * hive_merge_tree_service.go:309-329). */
  def evolve(db: String, table: String, incoming: Seq[(String, String)]): TableSpec =
    synchronized {
      // conflicts WITHIN one batch throw like cross-batch ones, and
      // same-name duplicates collapse to one entry — an appended column
      // list must never enter the persisted spec twice (a duplicated
      // name makes every later write's select() fail permanently)
      incoming.groupBy(_._1).foreach { case (n, ts) =>
        val distinctTypes = ts.map(_._2).distinct
        if (distinctTypes.size > 1)
          throw new IllegalArgumentException(
            s"column '$n' type conflict within one batch: " +
              distinctTypes.mkString(" vs "))
      }
      val deduped = incoming.distinct
      val existing = get(db, table)
      val cur = existing.getOrElse(TableSpec(db, table))
      val known = cur.columns.toMap
      deduped.foreach { case (n, t) =>
        known.get(n).foreach { prev =>
          if (prev != t)
            throw new IllegalArgumentException(
              s"column '$n' type conflict: table has $prev, batch has $t")
        }
      }
      val added = deduped.filterNot { case (n, _) => known.contains(n) }
      // nothing added to a known table: it is registered and persisted
      // already — rewriting .table.json on every flush would cost a
      // write plus an atomic move for no change
      if (added.isEmpty && existing.isDefined) cur
      else upsert(cur.copy(columns = cur.columns ++ added))
    }

  private def persist(spec: TableSpec): Unit = {
    val dir = tableDir(spec.database, spec.name)
    Files.createDirectories(dir)
    val json: JValue = JObject(
      "database" -> JString(spec.database),
      "name" -> JString(spec.name),
      "engine" -> JString(spec.engine),
      "order_by" -> JArray(spec.orderBy.map(JString(_)).toList),
      "auto_timestamp" -> JBool(spec.autoTimestamp),
      "timestamp_field" -> spec.timestampField.map(JString(_)).getOrElse(JNull),
      "timestamp_precision" -> JString(spec.timestampPrecision),
      "data_url" -> spec.dataUrl.map(JString(_)).getOrElse(JNull),
      "zorder" -> JBool(spec.zorder),
      "columns" -> JArray(spec.columns.map { case (n, t) =>
        JObject("name" -> JString(n), "type" -> JString(t))
      }.toList))
    val tmp = dir.resolve(".table.json.bak")
    Files.writeString(tmp, compact(render(json)))
    Files.move(tmp, dir.resolve(".table.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def loadFromDisk(db: String, table: String): Option[TableSpec] = {
    val f = tableDir(db, table).resolve(".table.json")
    if (!Files.exists(f)) return None
    val j = JsonMethods.parse(Files.readString(f))
    implicit val fmts: Formats = DefaultFormats
    val spec = TableSpec(
      database = (j \ "database").extract[String],
      name = (j \ "name").extract[String],
      engine = (j \ "engine").extract[String],
      orderBy = (j \ "order_by").extract[List[String]],
      autoTimestamp = (j \ "auto_timestamp").extract[Boolean],
      timestampField = (j \ "timestamp_field").extractOpt[String],
      timestampPrecision = (j \ "timestamp_precision").extract[String],
      dataUrl = (j \ "data_url").extractOpt[String],
      zorder = (j \ "zorder").extractOpt[Boolean].getOrElse(false),
      columns = (j \ "columns").extract[List[JObject]].map(o =>
        ((o \ "name").extract[String], (o \ "type").extract[String])))
    // never clobber a concurrent in-memory update with what was read from
    // disk: a scheduler-thread load racing an evolve() could assign the
    // PRE-evolution spec after the evolve committed, and the next write()
    // would project the new column away — silently dropping acked data.
    // synchronized + re-check: the freshest of (memory, disk) wins.
    synchronized {
      tables.get((db, table)) match {
        case Some(cur) => Some(cur)
        case None =>
          tables((db, table)) = spec
          Some(spec)
      }
    }
  }
}

object TableCatalog {
  val NameRe = "^[a-zA-Z0-9_]+$".r // reference registry.go:64,161-163
}
