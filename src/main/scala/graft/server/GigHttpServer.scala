package graft.server

import java.io.InputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.zip.GZIPInputStream
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.catalog.{TableCatalog, TableSpec}
import graft.compact.MergeScheduler
import graft.index.MetadataIndex
import graft.ingest.{BufferedIngest, IngestWriter}
import graft.lineproto.LineProtocolParser
import graft.lineproto.LineProtocolParser.Precision
import graft.pruning.{GraftFileIndex, QueryViews}

/** HTTP front-end — the reference's API surface (reference
  * merge/merge.go:44-101, handlers/insert_into.go, handlers/create_table.go,
  * querier README.md:114-133):
  *
  *  - POST /write, /gigapi/write[/{db}], /api/v2/write, /api/v3/write_lp,
  *    /gigapi/insert — line protocol (?db=, ?precision=, gzip) → 204 after
  *    durable flush
  *  - POST /query?db=… {"query": SQL} → {"results":[…]} (int64s rendered
  *    as strings for JS safety, like the reference README.md:131-133)
  *  - POST /gigapi/create — create-table DDL (JSON, or the reference's
  *    YAML shape — F8 subset)
  *  - POST /gigapi/artifacts?db=… {"kind": "cluster_map"|"ivf"|"pq"|
  *    "bloom"|"bpe"|"unigram"|"nb"|"ppl"|"bm25"|"cms"|"hdr"|"bt", "table": …} — train a
  *    pipeline artifact over an ingested table IN THE BACKGROUND
  *    (202 + {"job": id}; GET /gigapi/artifacts/{id} polls; {"sync":
  *    true} builds inline for tests) and publish it onto the SQL
  *    surface: parquet-backed temp views (`<table>_cluster_map`,
  *    `<table>_ivf_centroids`/`_assigned`, `<table>_pq_codes`/`_books`,
  *    `<table>_bpe_merges`, `<table>_unigram_pieces`,
  *    `<table>_cms_counters`, `<table>_hdr_hist`) joinable from any
  *    /query SQL, plus artifact-BOUND scalar functions: `ivf_probe(vec,
  *    nprobe)`, `bloom_hit(shingle)`, `bpe_encode(text)`,
  *    `unigram_encode(text)`, `nb_quality(text)`, `ppl_bits(text)`,
  *    `match_bm25(text, 'query terms')`, `cms_count(term)`,
  *    `hdr_quantile(q_permille)` —
  *    each also under its `<table>_`-prefixed name. Publications
  *    REBIND at boot from the job ledger + saved parquet, so a
  *    restart serves every completed build. Beyond reference
  *    parity (its query story is "POST SQL"; this makes the Scala-only
  *    trained artifacts reachable from it).
  *  - GET /health, GET /ping
  *
  * The server is driver-side protocol plumbing only; all data work is
  * Spark jobs. maxRows caps /query result collection (the reference
  * collects unboundedly — documented deviation).
  */
final class GigHttpServer(spark: SparkSession, root: String,
                          port: Int = 7971,
                          saveTimeoutMs: Long = 1000L,
                          maxRows: Int = 100000,
                          mergeIntervalMs: Long = 10000L,
                          dropGraceMs: Long = MetadataIndex.DropGraceMs,
                          host: String = "0.0.0.0",
                          noMerges: Boolean = false,
                          retentionNs: Option[Long] = None)
  extends AutoCloseable {

  val catalog = new TableCatalog(root)
  val writer = new IngestWriter(spark, root, catalog)
  val buffer = new BufferedIngest(writer, saveTimeoutMs)
  private val views = new QueryViews(spark, catalog)
  // background LSM merges (reference RunMerge 10 s ticker, registry.go:42-62)
  // + the optional TTL policy riding the same beat (RetentionEnforcer)
  val merger = new MergeScheduler(spark, catalog, mergeIntervalMs, dropGraceMs,
    retentionNs = (_, _) => retentionNs)
  // background artifact builds: POST /gigapi/artifacts enqueues here and
  // returns a job id; builds never hold an HTTP handler thread. The job
  // ledger persists under the lakehouse root so ids survive restarts.
  val artifacts = new ArtifactJobs(Some(new java.io.File(root, ".artifacts")))
  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)

  private val httpPool = Executors.newFixedThreadPool(8)

  def start(): GigHttpServer = {
    if (!noMerges) merger.start() // GIGAPI_NO_MERGES (configuration.go:18)
    server.setExecutor(httpPool)
    Seq("/write", "/gigapi/write", "/gigapi/insert", "/api/v2/write",
      "/api/v3/write_lp").foreach(p => server.createContext(p, handle(handleWrite)))
    server.createContext("/query", handle(handleQuery))
    server.createContext("/gigapi/create", handle(handleCreate))
    server.createContext("/gigapi/artifacts", handle(handleArtifacts))
    server.createContext("/health", handle { ex =>
      respond(ex, 200, """{"status":"ok"}""", "application/json")
    })
    server.createContext("/ping", handle(ex => respond(ex, 204, "", null)))
    // completed builds' views/functions must resolve again before the
    // first /query — the ledger's `done` answers would otherwise name
    // publications this process never made
    rebindArtifacts()
    server.start()
    this
  }

  def boundPort: Int = server.getAddress.getPort

  override def close(): Unit = {
    merger.close()
    artifacts.close()
    // stop accepting HTTP writes BEFORE the final buffer drain — a /write
    // landing after buffer.close()'s flush would otherwise enqueue into a
    // dead buffer (no ticker left to ever complete its ack). stop(1), not
    // stop(0): the delay is what waits for IN-FLIGHT handlers, so a
    // mid-flight store() finishes enqueueing before the final flush runs
    server.stop(1)
    buffer.close()
    // the handler pool is caller-supplied, so HttpServer.stop does NOT
    // shut it down: 8 non-daemon threads would keep the JVM alive forever
    httpPool.shutdown()
  }

  // ---- handlers ----

  private def handle(f: HttpExchange => Unit)(ex: HttpExchange): Unit =
    try f(ex)
    catch {
      case e: BodyTooLarge =>
        respond(ex, 413, JsonOut.obj("error" -> JsonOut.str(e.getMessage)),
          "application/json")
      // request-shape errors are the CALLER's to see on the request
      // (ADVICE r7): 400, distinguishable from server faults. Only the
      // dedicated BadRequest type maps here (ADVICE r8) — Spark throws
      // IllegalArgumentException subclasses while EXECUTING /query SQL,
      // and those engine-side faults stay 500, as the reference
      // surfaces its engine errors.
      case e: BadRequest =>
        respond(ex, 400, JsonOut.obj("error" -> JsonOut.str(e.getMessage)),
          "application/json")
      // a body that is not JSON at all (jackson) or whose fields can't
      // map to the request shape (json4s extract) is the caller's 400;
      // both exception types arise only while parsing REQUEST bodies —
      // engine-side JSON work (from_json etc.) never throws them to
      // the handler
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        respond(ex, 400, JsonOut.obj("error" -> JsonOut.str(
          s"malformed JSON body: ${e.getOriginalMessage}")), "application/json")
      case e: org.json4s.MappingException =>
        respond(ex, 400, JsonOut.obj("error" -> JsonOut.str(
          s"malformed request body: ${e.getMessage}")), "application/json")
      case e: ArtifactJobs#DuplicateJob =>
        respond(ex, 409, JsonOut.obj("error" -> JsonOut.str(e.getMessage),
          "job" -> JsonOut.str(e.existingId)), "application/json")
      case NonFatal(e) =>
        respond(ex, 500, JsonOut.obj("error" -> JsonOut.str(e.getMessage)),
          "application/json")
    } finally ex.close()

  /** db resolution: ?db= param, then path suffix, then `db.table` in the
    * measurement (resolved per batch by the parser — the reference's
    * first-batch bug fixed, SURVEY §2.1). Body format dispatches on
    * Content-Type through the parser registry (reference parsers.go:10-46;
    * its NDJSON parser is dead code — ours works, SURVEY N3/N4). */
  private def handleWrite(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val pathDb = ex.getRequestURI.getPath match {
      case p if p.startsWith("/gigapi/write/") => Some(p.stripPrefix("/gigapi/write/"))
      case _ => None
    }
    val db = validDb(
      params.get("db").orElse(pathDb).filter(_.nonEmpty).getOrElse("default"))
    val precision = BadRequest.relabel(
      Precision.of(params.getOrElse("precision", "ns")))
    val contentType = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val text = new String(readBody(ex), UTF_8)
    // parse and check strictly BEFORE store: a malformed body or a
    // reserved column is the caller's 400 and enqueues nothing; a failed
    // durable write stays the engine's 500
    val batches = BadRequest.relabel {
      val parsed = BodyParsers.dispatch(contentType) match {
        case BodyParsers.LineProtocol =>
          LineProtocolParser.parse(text, precision, defaultDb = db).toVector
        case BodyParsers.NdJson =>
          Vector(NdJsonParser.parse(text, db, params.getOrElse("table",
            throw new BadRequest("NDJSON writes require ?table="))))
      }
      parsed.foreach(b => writer.rejectReserved(b.database, b.table, b.schema.map(_._1)))
      parsed
    }
    val futures = batches.map(buffer.store)
    futures.foreach(Await.result(_, 5.minutes)) // 204 only after durable write
    respond(ex, 204, "", null)
  }

  private def handleQuery(ex: HttpExchange): Unit = {
    val body = new String(readBody(ex), UTF_8)
    val raw = JsonMethods.parse(body) \ "query" match {
      case JString(s) => s
      case _ => throw new BadRequest("""body must be {"query": "..."}""")
    }
    graft.Tables.init(spark)
    // querier-style explicit ?from=/?to= range; ranges written in the SQL
    // itself need no extraction — the GraftFileIndex views prune from the
    // query's own pushed-down predicates during Catalyst planning
    val params = queryParams(ex)
    // malformed ?from=/?to= is the caller's 400 (NumberFormatException
    // is an IAE subclass — without the relabel it would 500 under the
    // narrowed BadRequest mapping)
    val explicit = BadRequest.relabel((params.get("from"), params.get("to")) match {
      case (Some(f), Some(t)) => Some((f.toLong, t.toLong))
      case (Some(f), None) => Some((f.toLong, Long.MaxValue))
      case (None, Some(t)) => Some((Long.MinValue, t.toLong))
      case _ => None
    })
    // ?db= scopes bare table names, like the reference querier
    val bareDb = params.get("db").filter(_.nonEmpty)
    // DuckDB statement-LIST acceptance (VERDICT r8 #4 — the reference's
    // published benchmark body is `LOAD parquet; SELECT …`,
    // BENCHMARK.md:11): extension management no-ops, CREATE SECRET maps
    // to fs.s3a.* conf (VERDICT r8 #6), everything else runs through
    // the DuckDB-dialect rewrite (reference README.md:115-133 promises
    // DuckDB SQL here) — the LAST executed statement's rows answer.
    var last: Option[org.apache.spark.sql.DataFrame] = None
    DuckDialect.splitStatements(raw).foreach { stmt =>
      if (DuckDialect.isExtensionNoOp(stmt)) ()
      else BadRequest.relabel(DuckDialect.parseSecret(stmt)) match {
        case Some(confs) =>
          // hadoopConfiguration is process-global — the scope a DuckDB
          // secret has in the reference's single-process server. Same
          // conflict guard as ObjectStore.applyTo (ADVICE r9): an
          // unauthenticated POST must not silently swap an
          // already-configured bucket's credentials/endpoint
          BadRequest.relabel(
            graft.sources.ObjectStore.applySecretConfs(spark, confs))
        case None =>
          // two-phase rewrite (ADVICE r8): dry rewrite (no fetch) →
          // parse-validate → only then download any remote parquet, so
          // SQL that fails to parse triggers no outbound I/O
          val dry = DuckDialect.rewriteInfo(stmt, fetchRemote = false)
          val fin = if (dry.remoteUrls.isEmpty) dry
            else {
              spark.sessionState.sqlParser.parsePlan(dry.sql)
              DuckDialect.rewriteInfo(stmt, fetchRemote = true)
            }
          // read_csv views materialize on the GLOBAL temp catalog so
          // the snapshot/child session sqlFor executes on can see them
          BadRequest.relabel(graft.sources.CsvReads.ensure(spark, fin.csvViews))
          last = Some(dialectGapRelabel(
            views.sqlFor(fin.sql, explicit, bareDb, fin.confs)))
      }
    }
    last match {
      case Some(df) =>
        respond(ex, 200, JsonOut.results(df, maxRows), "application/json")
      case None => // only no-ops/secrets: ack with an empty result set
        respond(ex, 200, """{"results":[]}""", "application/json")
    }
  }

  /** An UNRESOLVED_ROUTINE for a name on the reference's chsql/DuckDB
    * /query surface is a DIALECT GAP, not a user typo (VERDICT r9 #5):
    * answer 400 naming the surface so confusion turns into a bug
    * report. Unknown names keep Spark's own analyzer error (with its
    * did-you-mean suggestions). */
  private def dialectGapRelabel[T](body: => T): T =
    try body catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNRESOLVED_ROUTINE" ||
            e.getCondition == "UNRESOLVABLE_TABLE_VALUED_FUNCTION" =>
        // scalar names arrive as routineName, table functions (read_csv,
        // generate_series) as name — both backticked
        val name = Option(e.getMessageParameters.get("routineName"))
          .orElse(Option(e.getMessageParameters.get("name"))).getOrElse("?")
        DuckDialect.dialectGap(name) match {
          case Some(surface) => throw new BadRequest(
            s"function $name is ${surface} surface not yet mapped by " +
              "graft (the registered compat names cover the documented " +
              "reference usage; see SURVEY §2.3) — please report this gap")
          case None => throw e
        }
    }

  /** Create-table request (reference create_table.go:15-81 + F8):
    * accepts the reference's YAML shape or the same structure as JSON. */
  private def handleCreate(ex: HttpExchange): Unit = {
    val body = new String(readBody(ex), UTF_8).trim
    val req = BadRequest.relabel(
      if (body.startsWith("{")) CreateRequest.fromJson(body)
      else CreateRequest.fromYaml(body))
    val db = validDb(queryParams(ex).getOrElse("db", "default"))
    BadRequest.relabel(req.validate())
    // HiveMerge derives date/hour partition columns at write time — a
    // declared field of that name would be silently clobbered on every
    // ingest (the IngestWriter guard would then fail every write; fail
    // the CREATE instead, where the caller can fix the schema)
    if (req.engine.contains("HiveMerge"))
      Seq("date", "hour").foreach { c =>
        if (req.fields.exists(_._1 == c)) throw new BadRequest(
          s"field '$c' is reserved on HiveMerge tables (derived partition)")
      }
    catalog.upsert(TableSpec(
      database = db,
      name = req.name,
      engine = req.engine.getOrElse("Merge"),
      orderBy = if (req.orderBy.nonEmpty) req.orderBy else Seq("__timestamp"),
      autoTimestamp = true,
      timestampField = req.tsField,
      timestampPrecision = req.tsPrecision.getOrElse("ns"),
      columns = req.fields,
      dataUrl = req.s3Url,
      zorder = req.zorder))
    respond(ex, 200, """{"status":"created"}""", "application/json")
  }

  /** Artifact kinds the endpoint can build (class doc). */
  private val ArtifactKinds = Set(
    "cluster_map", "ivf", "pq", "bloom", "bpe", "unigram", "nb", "ppl", "bm25",
    "cms", "hdr", "bt")

  /** POST: validate cheaply (kind, table existence), enqueue the build
    * on the background pool, answer 202 `{"job": id}` immediately —
    * training over a production corpus is minutes-to-hours of Spark
    * jobs and must not hold a handler thread (VERDICT r6 #1; the
    * MergeScheduler executor pattern). `{"sync": true}` keeps the
    * build-inline behavior for tests and tiny tables. GET
    * `/gigapi/artifacts/{id}`: pending/running/done/failed (+ the
    * publish result or error). */
  /** Shared JSON string-field extractor for the artifact request body
    * (ONE spelling — POST validation and build-time parsing must not
    * drift). */
  /** Literal-string argument of an artifact-bound SQL function (the
    * query text of match_bm25): validated at analysis with a clear
    * message, not an eval-time ClassCastException. Delegates to the
    * ONE extraction (GraftFunctions.literalString) after arity-checking. */
  private def literalStringArg(usage: String,
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      idx: Int): String = {
    if (es.length <= idx) throw new BadRequest(
      s"$usage: expected ${idx + 1} arguments, got ${es.length}")
    // the caller's SQL misused a bound function (column where a literal
    // query string must go) — a request error, thrown at analysis on
    // the handler thread, so relabel IAE -> 400
    BadRequest.relabel(
      graft.functions.GraftFunctions.literalString(usage, es(idx)))
  }

  private def jsonStr(j: JValue, f: String): Option[String] =
    j \ f match { case JString(s) => Some(s); case _ => None }

  /** Strict: a PRESENT but mistyped numeric param is the caller's 400,
    * not a silently ignored option (the zorder strictness precedent —
    * a silently defaulted "dims"/"n"/"merges" builds the wrong
    * artifact with a 200). Whole doubles are accepted because many
    * JSON serializers emit 8.0 for integer 8. */
  private def jsonInt(j: JValue, f: String): Option[Int] =
    j \ f match {
      case JInt(i) => Some(i.toInt)
      case JDouble(d) if d.isWhole => Some(d.toInt)
      case JNothing | JNull => None
      case other => throw new BadRequest(
        s""""$f" must be an integer, got ${JsonMethods.compact(other)}""")
    }

  /** cluster_map's threshold, one spelling for POST validation and the
    * build (strict like [[jsonInt]]: {"tau": "0.7"} must not silently
    * train at the 0.6 default). */
  private def jsonTau(j: JValue): Double = j \ "tau" match {
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JInt(i) => i.toDouble // {"tau": 1} must not silently default
    case JNothing | JNull => 0.6
    case other => throw new BadRequest(
      s""""tau" must be a number, got ${JsonMethods.compact(other)}""")
  }

  /** vec_cols extraction, ONE spelling for POST validation and
    * build-time vecsOf (the doc'd no-drift discipline). */
  private def jsonStrArray(j: JValue, f: String): Seq[String] =
    j \ f match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Nil
    }

  /** ?db= names reach TableSpec construction and filesystem paths:
    * reject non-identifier names as the caller's 400 up front —
    * TableSpec's own require would surface as a 500 engine fault. */
  private def validDb(db: String): String =
    if (graft.catalog.TableCatalog.NameRe.matches(db)) db
    else throw new BadRequest(s"invalid database name: $db")

  /** Arity gate for artifact-bound SQL functions: wrong-arity misuse in
    * caller SQL is a request error thrown at analysis (400, the
    * literalStringArg discipline), not an IndexOutOfBounds 500. */
  private def nArgs(usage: String, n: Int,
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
    : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    if (es.length != n) throw new BadRequest(
      s"$usage: expected $n argument(s), got ${es.length}")
    es
  }

  private def handleArtifacts(ex: HttpExchange): Unit = {
    // method routing (ADVICE r7): only GET (status/list) and POST-to-
    // the-collection (create) exist; a POST to a job URL used to fall
    // into the create path with the suffix silently ignored
    val suffix = ex.getRequestURI.getPath
      .stripPrefix("/gigapi/artifacts").stripPrefix("/")
    ex.getRequestMethod match {
      case "GET" => return handleArtifactStatus(ex)
      case "POST" if suffix.nonEmpty =>
        return respond(ex, 404, JsonOut.obj("error" -> JsonOut.str(
          s"job URLs are GET-only; POST builds to /gigapi/artifacts")),
          "application/json")
      case "POST" =>
      case m =>
        ex.getResponseHeaders.add("Allow", "GET, POST")
        return respond(ex, 405, JsonOut.obj("error" -> JsonOut.str(
          s"method $m not allowed on /gigapi/artifacts")), "application/json")
    }
    val j = JsonMethods.parse(new String(readBody(ex), UTF_8))
    val kind = jsonStr(j, "kind").getOrElse(throw new BadRequest(
      s"""body must be {"kind": <${ArtifactKinds.mkString("|")}>, "table": "..."}"""))
    if (!ArtifactKinds.contains(kind)) throw new BadRequest(
      s"unknown artifact kind '$kind' (${ArtifactKinds.mkString(" | ")})")
    val table = jsonStr(j, "table").getOrElse(
      throw new BadRequest(""""table" is required"""))
    val db = validDb(queryParams(ex).getOrElse("db", "default"))
    // REQUEST-SHAPE validation BEFORE accepting the job: an unknown
    // table or a malformed parameter is a client error the caller
    // should see on the POST, not a failed job discovered by polling.
    // (Data-dependent failures — an all-zero-vector table, a corpus
    // too small for PQ — necessarily surface via job status: deciding
    // them up front would cost the very Spark jobs the async contract
    // keeps off the handler thread.)
    val spec = catalog.get(db, table).getOrElse(throw new BadRequest(
      s"unknown table $db.$table"))
    // mistyped numeric params 400 HERE (jsonInt/jsonTau are strict),
    // not as a failed async job discovered by polling
    jsonInt(j, "n"); jsonInt(j, "merges"); jsonTau(j): Unit
    if (kind == "pq") {
      val vecCols = jsonStrArray(j, "vec_cols")
      jsonInt(j, "dims").orElse(Some(vecCols.size).filter(_ > 0)).foreach { d =>
        if (d <= 0 || d % graft.ops.PqOps.M != 0)
          throw new BadRequest(
            s"PQ needs dims divisible by ${graft.ops.PqOps.M}, got $d")
      }
    }
    if (kind == "hdr") {
      // request-shape validation BEFORE accepting the job (ADVICE r9):
      // a mistyped {"column": ...} is the caller's 400 on the POST, not
      // a failed async build discovered by polling. The catalog spec's
      // declared columns are available here without any Spark job.
      // Backstops stay build-time for shapes the spec can't decide:
      // spec-less tables, and external-dataUrl tables whose parquet may
      // carry columns the declaration omits (review r10).
      val column = jsonStr(j, "column").getOrElse("value")
      val specCols = if (spec.dataUrl.isEmpty) spec.columns else Nil
      if (specCols.nonEmpty && !column.equalsIgnoreCase("__timestamp")) {
        specCols.find(_._1.equalsIgnoreCase(column)) match {
          case None => throw new BadRequest(
            s"""hdr: no column '$column' in $db.$table (pass {"column": "..."})""")
          case Some((_, t)) if !Set("INT64", "UINT64", "FLOAT64")(t) =>
            throw new BadRequest(
              s"hdr: column '$column' must be numeric, got $t")
          case _ =>
        }
      }
    }
    if (kind == "bt") {
      // same request-shape discipline as hdr: a mistyped {"by": ...}
      // is the caller's 400 on the POST (spec-declared columns decide
      // without a Spark job; spec-less/external tables backstop at
      // build time)
      val by = jsonStr(j, "by").getOrElse("source")
      val specCols = if (spec.dataUrl.isEmpty) spec.columns else Nil
      if (specCols.nonEmpty && !by.equalsIgnoreCase("__timestamp") &&
          !specCols.exists(_._1.equalsIgnoreCase(by)))
        throw new BadRequest(
          s"""bt: no column '$by' in $db.$table (pass {"by": "..."})""")
    }
    val sync = j \ "sync" match { case JBool(b) => b; case _ => false }
    if (sync) respond(ex, 200,
      artifacts.runSync(s"$kind:$db:$table")(() => buildArtifact(kind, db, table, j)),
      "application/json")
    else {
      val id = artifacts.submit(s"$kind:$db:$table",
        () => buildArtifact(kind, db, table, j))
      respond(ex, 202, JsonOut.obj(
        "job" -> JsonOut.str(id), "status" -> JsonOut.str("pending")),
        "application/json")
    }
  }

  private def handleArtifactStatus(ex: HttpExchange): Unit = {
    val id = ex.getRequestURI.getPath.stripPrefix("/gigapi/artifacts")
      .stripPrefix("/")
    if (id.isEmpty) {
      // bare GET: the job list (newest first) — how a caller that lost
      // its id (or a dashboard) finds in-flight builds
      val rows = artifacts.all().map { case (jid, s) =>
        s"""{"job":${JsonOut.str(jid)},"status":${JsonOut.str(s.name)}}"""
      }
      return respond(ex, 200, s"""{"jobs":[${rows.mkString(",")}]}""",
        "application/json")
    }
    artifacts.status(id) match {
      case None => respond(ex, 404, JsonOut.obj(
        "error" -> JsonOut.str(s"unknown job $id")), "application/json")
      case Some(s) =>
        val extra = s match {
          case artifacts.Done(result) => s""","result":$result"""
          case artifacts.Failed(err) => s""","error":${JsonOut.str(err)}"""
          case _ => ""
        }
        respond(ex, 200,
          s"""{"job":${JsonOut.str(id)},"status":${JsonOut.str(s.name)}$extra}""",
          "application/json")
    }
  }

  /** Build + publish one pipeline artifact over an ingested table (see
    * class doc). The artifact persists as parquet under the lakehouse
    * root (`.artifacts/`, a fresh dir per build — the immutable-
    * snapshot contract of SCALE.md), and the views/functions
    * re-register on every planning session, so they survive
    * catalog-version rebuilds. Returns the result JSON. */
  private def buildArtifact(kind: String, db: String, table: String,
                            j: JValue): String = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.GraftColumnBridge.{column => cc, toExpression => tx}
    import org.apache.spark.sql.catalyst.expressions.Expression
    def str(f: String): Option[String] = jsonStr(j, f)
    def intOf(f: String): Option[Int] = jsonInt(j, f)
    graft.Tables.init(spark)
    val base = GraftFileIndex.readTable(spark, catalog, db, table)
    val prefix = if (db == "default") table else s"${db}_$table"
    val outDir = java.nio.file.Paths.get(root, ".artifacts",
      s"$prefix-$kind-${java.util.UUID.randomUUID()}").toString

    /** id/text projection for the text-model kinds. */
    def docsOf: org.apache.spark.sql.DataFrame = {
      val id = str("id").getOrElse("doc_id")
      val text = str("text").getOrElse("text")
      base.select(col(id).cast("long").as("doc_id"), col(text).as("text"))
    }

    /** vec_id/embedding projection for the vector-index kinds (the
      * lakehouse type system is scalar, so ingested embeddings live as
      * wide float columns; "vec_cols" assembles them, "vec" names a
      * ready array column for external tables). */
    def vecsOf: (org.apache.spark.sql.DataFrame, Int) = {
      val id = str("id").getOrElse("vec_id")
      val vec = str("vec").getOrElse("embedding")
      val vecCols = jsonStrArray(j, "vec_cols")
      val embCol =
        if (vecCols.nonEmpty)
          org.apache.spark.sql.functions.array(
            vecCols.map(c => col(c).cast("double")): _*)
        else col(vec)
      val df = base.select(col(id).cast("long").as("vec_id"),
        embCol.as("embedding"))
      val dims = intOf("dims").orElse(Some(vecCols.size).filter(_ > 0))
        .getOrElse {
          // infer from a sampled non-null embedding; a table of only
          // null embeddings yields 0, which the PQ guard turns into
          // the clear 'pass {"dims": ...}' error, not an NPE
          val r = df.filter(col("embedding").isNotNull)
            .select(org.apache.spark.sql.functions.size(col("embedding")))
            .limit(1).collect()
          if (r.isEmpty || r(0).isNullAt(0)) 0 else r(0).getInt(0)
        }
      (df, dims)
    }

    /** Train + save done: publish by LOADING what was just saved —
      * the serving path always reads exactly what a restart would
      * rebind — and stamp the result with the artifact dir so
      * rebindArtifacts() can replay the publication at boot. */
    def finish(extra: (String, String)*): String =
      JsonOut.obj(bindArtifact(kind, db, table, outDir) ++ extra :+
        ("out" -> JsonOut.str(outDir)): _*)

    kind match {
      case "cluster_map" =>
        val labels = graft.ops.DedupOps.clusterLabels(docsOf, jsonTau(j))
        graft.ops.DedupOps.saveClusterLabels(labels, outDir)
        finish()

      case "ivf" =>
        val (df, _) = vecsOf
        // cap at the USABLE vector count — non-null, non-zero after
        // normalization — not the raw row count: ivfIndex drops
        // unusable vectors before the fit, so a table of mostly zero
        // vectors would otherwise reach MLlib with k > sample size and
        // fail with the raw stack this guard exists to avoid
        val rows = graft.ops.SimilarityOps.usableVectors(df)
        if (rows == 0) throw new IllegalArgumentException(
          s"table $db.$table has no indexable vectors " +
            "(no rows, or all embeddings null/zero)")
        val nlist = math.min(rows,
          graft.ops.SimilarityOps.adaptiveNlist(rows).toLong).toInt
        val (km, assigned) = graft.ops.SimilarityOps.ivfIndex(df, nlist)
        graft.ops.SimilarityOps.saveIvfIndex(km, assigned, outDir)
        finish("nlist" -> nlist.toString)

      case "pq" =>
        val (df, dims) = vecsOf
        if (dims <= 0 || dims % graft.ops.PqOps.M != 0)
          throw new IllegalArgumentException(
            s"PQ needs dims divisible by ${graft.ops.PqOps.M}, got $dims " +
              """(pass {"dims": ...} or "vec_cols")""")
        val idx = graft.ops.PqOps.pqIndex(df, dims)
        idx.codes.write.mode("overwrite").parquet(s"$outDir/codes")
        // codebooks as a queryable view too — the SHARED (j, c, cv)
        // schema (PqOps.booksDf), so p85's oracle-gated probe SQL runs
        // verbatim against the published view
        graft.ops.PqOps.booksDf(spark, idx.books)
          .write.mode("overwrite").parquet(s"$outDir/books")
        finish("m" -> graft.ops.PqOps.M.toString,
          "ksub" -> graft.ops.PqOps.Ksub.toString)

      case "bloom" =>
        val n = intOf("n").getOrElse(graft.ops.DedupOps.DecontamN)
        val bits = graft.ops.DedupOps.bloomBits(docsOf, n)
        locally {
          import spark.implicits._
          bits.toSeq.zipWithIndex.map { case (w, i) => (i, w) }
            .toDF("idx", "w").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/bits")
        }
        finish("n" -> n.toString,
          "bits" -> graft.ops.DedupOps.BloomBits.toString)

      case "bpe" =>
        val numMerges = intOf("merges").getOrElse(graft.ops.BpeOps.NumMerges)
        val merges = graft.ops.BpeOps.train(docsOf, numMerges)
        locally {
          import spark.implicits._
          spark.createDataset(merges).toDF()
            .select(col("step"), col("l"), col("r"), col("merged"), col("cnt"))
            .write.mode("overwrite").parquet(outDir)
        }
        finish("n_merges" -> merges.size.toString)

      case "unigram" =>
        val pieces = graft.ops.UnigramOps.train(docsOf)
        locally {
          import spark.implicits._
          spark.createDataset(pieces).toDF()
            .select(col("piece"), col("qcost"))
            .write.mode("overwrite").parquet(outDir)
        }
        finish("n_pieces" -> pieces.size.toString)

      case "nb" =>
        val model = graft.ops.ModelOps.nbModelOf(docsOf)
        locally {
          import spark.implicits._
          model.buckets.toSeq.map { case (b, (cp, cn)) => (b, cp, cn) }
            .toDF("b", "cp", "cn").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/buckets")
          Seq((model.np, model.nn)).toDF("np", "nn")
            .write.mode("overwrite").parquet(s"$outDir/priors")
        }
        finish("buckets" -> model.buckets.size.toString)

      case "ppl" =>
        val (m12, m1) = graft.ops.ModelOps.bigramLmMaps(docsOf)
        locally {
          import spark.implicits._
          m12.toSeq.toDF("b", "c").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/m12")
          m1.toSeq.toDF("b", "c").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/m1")
        }
        finish("m12" -> m12.size.toString, "m1" -> m1.size.toString)

      case "bm25" =>
        // the fts story's server face: corpus stats persist as views,
        // and match_bm25(text, 'query terms') scores any text against
        // them as one codegen'd fold (SearchOps.scoreCol). Deviation
        // from DuckDB fts spelled out: theirs scores AGAINST a built
        // index by row id; ours is the scalar-over-text form — the
        // shape a SQL pipeline composes with WHERE/ORDER BY directly.
        val (dfTable, totals) = graft.ops.SearchOps.corpusStats(docsOf)
        dfTable.write.mode("overwrite").parquet(s"$outDir/df")
        totals.write.mode("overwrite").parquet(s"$outDir/totals")
        finish()

      case "cms" =>
        // count-min counters over the table's word 3-grams: the
        // frequency service whose TOTAL state is d·w longs (2 MB) at
        // any corpus size; cms_count('term') answers point queries
        // without touching the corpus again
        graft.ops.SketchOps.cmsCounters(docsOf)
          .coalesce(1).write.mode("overwrite").parquet(outDir)
        // "n" documents the probe contract: counters count word
        // 3-grams, so cms_count expects 3-gram terms
        finish("depth" -> graft.ops.SketchOps.CmsDepth.toString,
          "width" -> graft.ops.SketchOps.CmsWidth.toString,
          "n" -> "3")

      case "hdr" =>
        // log-linear histogram of a numeric column (default "value"):
        // ≤1.5 k bucket rows at any corpus size; hdr_quantile(qpm)
        // answers sort-free percentiles against the bound histogram
        val column = str("column").getOrElse("value")
        // case-insensitive like Spark's own resolution, and the resolved
        // name goes through backticks so a field containing '.' is a
        // field reference, not a nested path
        val f = base.schema.fields.find(_.name.equalsIgnoreCase(column))
          .getOrElse(throw new IllegalArgumentException(
            s"hdr: no column '$column' in $db.$table " +
              """(pass {"column": "..."})"""))
        if (!f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
          throw new IllegalArgumentException(
            s"hdr: column '$column' must be numeric, got ${f.dataType.sql}")
        graft.ops.SketchOps.hdrHistogram(base,
            col(s"`${f.name}`").cast("double"))
          .coalesce(1).write.mode("overwrite").parquet(outDir)
        finish("column" -> JsonOut.str(column))

      case "bt" =>
        // Bradley–Terry strengths over synthesized source-vs-source
        // matches (p98's semantics): the arena-leaderboard artifact —
        // one integer-ppm strength row per item; the corpus is not
        // needed to serve the table once built
        val by = str("by").getOrElse("source")
        val f = base.schema.fields.find(_.name.equalsIgnoreCase(by))
          .getOrElse(throw new IllegalArgumentException(
            s"bt: no column '$by' in $db.$table (pass {\"by\": \"...\"})"))
        val id = str("id").getOrElse("doc_id")
        val text = str("text").getOrElse("text")
        val docs = base.select(col(id).cast("long").as("doc_id"),
          col(text).as("text"), col(s"`${f.name}`").cast("string").as("source"))
        graft.ops.PrefOps.bradleyTerry(graft.ops.PrefOps.syntheticMatches(docs))
          .coalesce(1).write.mode("overwrite").parquet(outDir)
        finish("by" -> JsonOut.str(by))

      case other => throw new IllegalArgumentException(
        s"unknown artifact kind '$other' (${ArtifactKinds.mkString(" | ")})")
    }
  }

  /** (Re-)publish a SAVED artifact's views + bound SQL functions from
    * its parquet dir. buildArtifact calls this right after saving — so
    * what serves after a build is exactly what a restart would reload —
    * and [[rebindArtifacts]] replays it at boot for every done job in
    * the ledger (code-review r8: a restarted server answered `done`
    * with result JSON naming views/functions that no longer resolved).
    * Returns the result fields describing the published names. */
  private def bindArtifact(kind: String, db: String, table: String,
                           outDir: String): Seq[(String, String)] = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.GraftColumnBridge.{column => cc, toExpression => tx}
    import org.apache.spark.sql.catalyst.expressions.Expression
    // NOTE: the underscore-joined prefix shares QueryViews' flat-name
    // ambiguity (db 'a_b' + table 'c' vs db 'a' + table 'b_c' — see
    // QueryViews.ambiguousFlatNames): two such tables' artifacts of one
    // kind would publish under one view name, latest-bind wins. The
    // published names are part of the served contract, so renaming the
    // convention is a compat break; the table-view side fails loudly on
    // the same collision, which makes the catalog shape itself an error
    // a deployment hits before artifacts compound it.
    val prefix = if (db == "default") table else s"${db}_$table"
    /** Per-table name AND the bare latest-binding alias (the ivf_probe
      * discipline: a second table's artifact must not silently rebind
      * the first's per-table name). */
    def publishFn(bare: String, builder: Seq[Expression] => Expression): String = {
      val fn = s"${prefix}_$bare"
      views.publishArtifactFunction(fn, builder)
      views.publishArtifactFunction(bare, builder)
      fn
    }
    kind match {
      case "cluster_map" =>
        views.publishArtifactView(s"${prefix}_cluster_map", outDir)
        Seq("view" -> JsonOut.str(s"${prefix}_cluster_map"))

      case "ivf" =>
        views.publishArtifactView(s"${prefix}_ivf_centroids", s"$outDir/centroids")
        views.publishArtifactView(s"${prefix}_ivf_assigned", s"$outDir/assigned")
        // (cell, cv, hn2) ordered by cell: centers(i) must be cell i
        val centers = spark.read.parquet(s"$outDir/centroids")
          .orderBy(col("cell")).collect()
          .map(_.getSeq[Double](1).toArray)
        val fn = publishFn("ivf_probe", es => {
          val a = nArgs("ivf_probe(vec, nprobe)", 2, es)
          graft.functions.IvfProbeCells(a(0), a(1), centers)
        })
        Seq("views" -> s"""["${prefix}_ivf_centroids","${prefix}_ivf_assigned"]""",
          "function" -> JsonOut.str(fn))

      case "pq" =>
        views.publishArtifactView(s"${prefix}_pq_codes", s"$outDir/codes")
        views.publishArtifactView(s"${prefix}_pq_books", s"$outDir/books")
        Seq("views" -> s"""["${prefix}_pq_codes","${prefix}_pq_books"]""")

      case "bloom" =>
        val bits = spark.read.parquet(s"$outDir/bits")
          .orderBy(col("idx")).collect().map(_.getLong(1))
        val fn = publishFn("bloom_hit", es => tx(graft.ops.DedupOps.bloomHit(
          bits, cc(nArgs("bloom_hit(shingle)", 1, es).head))))
        Seq("function" -> JsonOut.str(fn))

      case "bpe" =>
        views.publishArtifactView(s"${prefix}_bpe_merges", outDir)
        val merges = spark.read.parquet(outDir).orderBy(col("step")).collect()
          .map(r => graft.ops.BpeOps.Merge(r.getInt(0), r.getString(1),
            r.getString(2), r.getString(3), r.getLong(4))).toSeq
        val fn = publishFn("bpe_encode", es => tx(graft.ops.BpeOps
          .encodePiecesCol(cc(nArgs("bpe_encode(text)", 1, es).head), merges)))
        Seq("function" -> JsonOut.str(fn),
          "view" -> JsonOut.str(s"${prefix}_bpe_merges"))

      case "unigram" =>
        views.publishArtifactView(s"${prefix}_unigram_pieces", outDir)
        val costs = spark.read.parquet(outDir).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val fn = publishFn("unigram_encode", es => graft.functions
          .UnigramEncode(nArgs("unigram_encode(text)", 1, es).head, costs))
        Seq("function" -> JsonOut.str(fn),
          "view" -> JsonOut.str(s"${prefix}_unigram_pieces"))

      case "nb" =>
        val b = spark.read.parquet(s"$outDir/buckets").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val pr = spark.read.parquet(s"$outDir/priors").collect()(0)
        val model = graft.ops.ModelOps.NbModel(b,
          b.valuesIterator.map(_._1).sum, b.valuesIterator.map(_._2).sum,
          pr.getLong(0), pr.getLong(1))
        val fn = publishFn("nb_quality", es => tx(graft.ops.ModelOps
          .nbQualityCol(cc(nArgs("nb_quality(text)", 1, es).head), model)))
        Seq("function" -> JsonOut.str(fn))

      case "ppl" =>
        def m(p: String): Map[Long, Long] =
          spark.read.parquet(s"$outDir/$p").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val (m12, m1) = (m("m12"), m("m1"))
        val fn = publishFn("ppl_bits", es => tx(graft.ops.ModelOps
          .pplBitsCol(cc(nArgs("ppl_bits(text)", 1, es).head), m12, m1)))
        Seq("function" -> JsonOut.str(fn))

      case "bm25" =>
        views.publishArtifactView(s"${prefix}_bm25_df", s"$outDir/df")
        views.publishArtifactView(s"${prefix}_bm25_totals", s"$outDir/totals")
        val model = graft.ops.SearchOps.modelOf(
          spark.read.parquet(s"$outDir/df"),
          spark.read.parquet(s"$outDir/totals"))
        val fn = publishFn("match_bm25", es => {
          val a = nArgs("match_bm25(text, 'query terms')", 2, es)
          tx(graft.ops.SearchOps.scoreCol(cc(a(0)),
            literalStringArg("match_bm25(text, 'query terms')", a, 1), model))
        })
        Seq("views" -> s"""["${prefix}_bm25_df","${prefix}_bm25_totals"]""",
          "function" -> JsonOut.str(fn),
          "vocab" -> model.df.size.toString, "n" -> model.n.toString)

      case "bt" =>
        views.publishArtifactView(s"${prefix}_bt_strengths", outDir)
        Seq("view" -> JsonOut.str(s"${prefix}_bt_strengths"))

      case "cms" =>
        views.publishArtifactView(s"${prefix}_cms_counters", outDir)
        // the FULL flattened sketch (d·w longs, 2 MB) — bounded by the
        // sketch's own constants, never by corpus size; unoccupied
        // slots stay 0 so absent terms read their honest CMS estimate
        val arr = new Array[Long](
          graft.ops.SketchOps.CmsDepth * graft.ops.SketchOps.CmsWidth)
        spark.read.parquet(outDir)
          .select(col("j").cast("int"), col("slot").cast("long"),
            col("c").cast("long"))
          .collect().foreach { r =>
            arr(r.getInt(0) * graft.ops.SketchOps.CmsWidth +
              r.getLong(1).toInt) = r.getLong(2) }
        val fn = publishFn("cms_count", es => graft.functions.CmsCount(
          nArgs("cms_count(term)", 1, es).head, arr))
        Seq("function" -> JsonOut.str(fn),
          "view" -> JsonOut.str(s"${prefix}_cms_counters"))

      case "hdr" =>
        views.publishArtifactView(s"${prefix}_hdr_hist", outDir)
        val rows = spark.read.parquet(outDir)
          .select(col("idx").cast("long"), col("cnt").cast("long"))
          .orderBy(col("idx")).collect()
        val idxs = rows.map(_.getLong(0))
        var run = 0L
        val cums = rows.map { r => run += r.getLong(1); run }
        val fn = publishFn("hdr_quantile", es => graft.functions.HdrQuantile(
          nArgs("hdr_quantile(q_permille)", 1, es).head, idxs, cums))
        Seq("function" -> JsonOut.str(fn),
          "view" -> JsonOut.str(s"${prefix}_hdr_hist"))

      case other => throw new IllegalArgumentException(
        s"unknown artifact kind '$other'")
    }
  }

  /** Replay the publications of completed artifact builds in the
    * ledger — ONE bind per (kind, db, table) key, the newest done
    * build (ADVICE r8: every bind does parquet reads + driver collects
    * — bloom bits, vocab maps up to 1 M rows — so replaying superseded
    * same-key builds made boot latency grow with build history, each
    * redone only to be overwritten). Replay order is each key's NEWEST
    * build's ledger position (remove-and-reinsert on update) — NOT the
    * key's first-build position, which would let an older key's bare
    * latest-binding alias (match_bm25, bloom_hit, …) publish after a
    * newer rebuild of another key and steal it on restart. Failures
    * skip that artifact with a stderr note — a deleted .artifacts dir
    * must not take the server down. */
  private def rebindArtifacts(): Unit = {
    val newestPerKey =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    artifacts.completedOldestFirst().foreach { case (key, result) =>
      newestPerKey.remove(key)
      newestPerKey(key) = result }
    newestPerKey.foreach { case (key, result) =>
      try key.split(":", 3) match {
        case Array(kind, db, table) =>
          val out = JsonMethods.parse(result) \ "out" match {
            case JString(s) => s
            case _ => "" // pre-ledger-v2 result without an out stamp
          }
          if (out.nonEmpty && new java.io.File(out).exists())
            bindArtifact(kind, db, table, out)
        case _ => ()
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[graft] artifact rebind failed for $key: $e")
      }
    }
  }

  // ---- plumbing ----

  /** Max accepted request body AFTER gzip inflation. The whole body is
    * buffered on the driver heap (×8 handler threads), so an unbounded
    * read — a 10 MB gzip bomb inflating to GBs — would OOM the server.
    * Oversize requests fail with BodyTooLarge → 413. */
  val MaxBodyBytes: Long = 512L * 1024 * 1024

  private[server] final class BodyTooLarge
    extends RuntimeException(s"request body exceeds $MaxBodyBytes bytes")

  /** The request body, inflated when gzip-encoded. A plain body whose
    * declared `Content-Length` is over the limit is refused before any
    * of it is read. */
  private def readBody(ex: HttpExchange): Array[Byte] = {
    val headers = ex.getRequestHeaders
    val raw: InputStream =
      if (Option(headers.getFirst("Content-Encoding")).exists(_.toLowerCase.contains("gzip")))
        new GZIPInputStream(ex.getRequestBody)
      else if (Option(headers.getFirst("Content-Length"))
          .flatMap(_.trim.toLongOption).exists(_ > MaxBodyBytes))
        throw new BodyTooLarge
      else ex.getRequestBody
    val body = raw.readNBytes(MaxBodyBytes.toInt + 1)
    if (body.length > MaxBodyBytes) throw new BodyTooLarge
    body
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    // malformed %-escapes (URLDecoder's IAE) are the caller's 400
    BadRequest.relabel(
      Option(ex.getRequestURI.getRawQuery).map(_.split('&').flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(java.net.URLDecoder.decode(k, UTF_8) ->
            java.net.URLDecoder.decode(v, UTF_8))
          case Array(k) => Some(java.net.URLDecoder.decode(k, UTF_8) -> "")
          case _ => None
        }
      }.toMap).getOrElse(Map.empty))

  private def respond(ex: HttpExchange, code: Int, body: String,
                      contentType: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    if (contentType != null)
      ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }
}

/** Create-table request body (reference create_table.go + FIXTURES.md F8). */
final case class CreateRequest(
    name: String,
    fields: Seq[(String, String)],
    engine: Option[String],
    orderBy: Seq[String],
    tsField: Option[String],
    tsPrecision: Option[String],
    s3Url: Option[String] = None,
    zorder: Boolean = false) {

  def validate(): Unit = {
    require(TableCatalog.NameRe.matches(name), s"invalid table name: $name")
    val names = fields.map(_._1).toSet
    orderBy.foreach(c => require(names.contains(c), s"order_by field '$c' not in fields"))
    tsField.foreach(c => require(names.contains(c), s"timestamp field '$c' not in fields"))
    // the Morton curve interleaves exactly two dimensions; a silent
    // fallback would accept the option and not deliver the layout
    if (zorder) {
      require(orderBy.size == 2,
        s"zorder requires exactly two order_by keys, got ${orderBy.size}")
      // numeric-only: clusterSort min/max-normalizes the keys, and under
      // ANSI mode a string key would fail EVERY merge of the table at
      // compaction time instead of this create call
      val types = fields.toMap
      orderBy.foreach { c =>
        val t = types.getOrElse(c, "")
        require(Set("INT64", "UINT64", "FLOAT64")(t),
          s"zorder order_by key '$c' must be numeric, got $t")
      }
    }
  }
}

object CreateRequest {
  /** Reference/DuckDB type aliases → our type names (SURVEY §1). */
  def normType(t: String): String = t.trim.toUpperCase match {
    case "INT8" | "BIGINT" | "LONG" | "INT64" => "INT64"
    case "UBIGINT" | "UINT64" => "UINT64"
    case "FLOAT8" | "DOUBLE" | "FLOAT64" => "FLOAT64"
    case "VARCHAR" | "STRING" | "CHAR" | "BPCHAR" | "TEXT" => "STRING"
    case "BOOL" | "BOOLEAN" => "BOOL"
    case other => throw new IllegalArgumentException(s"unsupported type $other")
  }

  def fromJson(body: String): CreateRequest = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parse(body)
    CreateRequest(
      name = (j \ "create_table").extract[String],
      fields = (j \ "fields") match {
        case JObject(fs) => fs.map { case (k, v) => (k, normType(v.extract[String])) }
        case _ => Nil
      },
      engine = (j \ "engine").extractOpt[String],
      orderBy = (j \ "order_by").extractOrElse[List[String]](Nil),
      tsField = (j \ "timestamp" \ "field").extractOpt[String],
      tsPrecision = (j \ "timestamp" \ "precision").extractOpt[String],
      s3Url = (j \ "s3_url").extractOpt[String], // reference create_table.go
      // strict: a mistyped value (e.g. the string "true") must 400, not
      // silently create the table without the layout the caller asked for
      zorder = (j \ "zorder") match {
        case JBool(b) => b
        case JNothing | JNull => false
        case other => throw new BadRequest(
          s"zorder must be a JSON boolean, got ${JsonMethods.compact(other)}")
      })
  }

  /** Minimal YAML subset for the reference's documented create shape (F8):
    * top-level `key: value`, a `fields:` block of `  name: TYPE` lines or
    * inline `{a: T, b: T}`, `order_by` as inline `[a, b]` list. */
  def fromYaml(body: String): CreateRequest = {
    var name = ""
    var engine: Option[String] = None
    var orderBy: Seq[String] = Nil
    var tsField: Option[String] = None
    var tsPrecision: Option[String] = None
    var s3Url: Option[String] = None
    var zorder = false
    val fields = Vector.newBuilder[(String, String)]
    var inFields = false
    var inTimestamp = false
    body.linesIterator.foreach { raw =>
      val line = raw.replaceAll("#.*$", "")
      if (line.trim.nonEmpty) {
        val indented = line.startsWith(" ") || line.startsWith("\t")
        val Array(k, v @ _*) = line.split(":", 2).map(_.trim): @unchecked
        val value = v.headOption.getOrElse("")
        if (!indented) { inFields = false; inTimestamp = false }
        (k, indented) match {
          case ("create_table", false) => name = value
          case ("engine", false) => engine = Some(value)
          case ("s3_url", false) => s3Url = Some(value)
          case ("zorder", false) => zorder = value.toLowerCase match {
            case "true" => true
            case "false" => false
            case other => throw new BadRequest(
              s"zorder must be true or false, got '$other'")
          }
          case ("order_by", false) =>
            orderBy = value.stripPrefix("[").stripSuffix("]")
              .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
              .filter(_.nonEmpty).toSeq
          case ("fields", false) =>
            if (value.startsWith("{"))
              value.stripPrefix("{").stripSuffix("}").split(",").foreach { kv =>
                val Array(fk, fv) = kv.split(":", 2).map(_.trim): @unchecked
                fields += (fk -> normType(fv))
              }
            else inFields = true
          case ("timestamp", false) =>
            if (value.startsWith("{"))
              value.stripPrefix("{").stripSuffix("}").split(",").foreach { kv =>
                val Array(fk, fv) = kv.split(":", 2).map(_.trim): @unchecked
                if (fk == "field") tsField = Some(fv)
                if (fk == "precision") tsPrecision = Some(fv)
              }
            else inTimestamp = true
          case (fk, true) if inFields => fields += (fk -> normType(value))
          case ("field", true) if inTimestamp => tsField = Some(value)
          case ("precision", true) if inTimestamp => tsPrecision = Some(value)
          case _ =>
        }
      }
    }
    CreateRequest(name, fields.result(), engine, orderBy, tsField, tsPrecision, s3Url, zorder)
  }
}

object GigHttpServer {
  /** Boot a server from the reference-shaped config (GraftConfig):
    * root "" means current directory, save_timeout_s drives the flush
    * ticker, merge_timeout_s the LSM scheduler, no_merges disables it. */
  def fromConfig(spark: SparkSession, cfg: GraftConfig): GigHttpServer =
    new GigHttpServer(spark,
      root = if (cfg.root.isEmpty) "." else cfg.root,
      port = cfg.port,
      saveTimeoutMs = math.max(1L, (cfg.saveTimeoutS * 1000).toLong),
      // clamp like saveTimeoutMs: merge_timeout_s <= 0 would make
      // scheduleWithFixedDelay throw at start() and crash boot; treat it
      // as "don't merge" instead
      mergeIntervalMs = math.max(1L, cfg.mergeTimeoutS * 1000L),
      host = cfg.host,
      noMerges = cfg.noMerges || cfg.mergeTimeoutS <= 0,
      retentionNs = Some(cfg.retentionS * 1000000000L).filter(_ > 0))
}

/** {"results":[…]} serializer with the reference's bigint-as-string
  * convention (reference README.md:131-133). */
object JsonOut {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').result()
  }

  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    // int64 (and wider) as string — JS Number.MAX_SAFE_INTEGER parity
    case l: Long => "\"" + l + "\""
    case d: java.math.BigDecimal => "\"" + d.toPlainString + "\""
    case i: Int => i.toString
    case s: Short => s.toString
    case b: Byte => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
    case s: String => str(s)
    case t: java.sql.Timestamp => str(t.toString)
    case d: java.sql.Date => str(d.toString)
    case b: Array[Byte] => str(java.util.Base64.getEncoder.encodeToString(b))
    case seq: scala.collection.Seq[_] => seq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v2) => s"${str(k.toString)}:${value(v2)}" }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row =>
      r.schema.fieldNames.zip(r.toSeq).map { case (n, v2) => s"${str(n)}:${value(v2)}" }
        .mkString("{", ",", "}")
    case other => str(other.toString)
  }

  /** The reference collects unboundedly (its own flaw); we cap at
    * maxRows and SAY so — a fetch of maxRows+1 detects overflow and
    * emits `"truncated":true` instead of silently dropping rows. */
  def results(df: DataFrame, maxRows: Int): String = {
    val names = df.schema.fieldNames
    val fetched = df.take(maxRows + 1)
    val truncated = fetched.length > maxRows
    val rows = if (truncated) fetched.take(maxRows) else fetched
    val sb = new StringBuilder("""{"results":[""")
    var first = true
    rows.foreach { r =>
      if (!first) sb.append(',')
      first = false
      sb.append(names.zip(r.toSeq).map { case (n, v) => s"${str(n)}:${value(v)}" }
        .mkString("{", ",", "}"))
    }
    sb.append(']')
    if (truncated) sb.append(""","truncated":true""")
    sb.append('}').result()
  }
}
