package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import graft.SparkSpec

/** Real HTTP round-trips against the reference API surface (§3.1/§3.2). */
class GigHttpServerSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft-http-").toString
  private lazy val server =
    new GigHttpServer(spark, root, port = 0, saveTimeoutMs = 100).start()
  private lazy val base = s"http://localhost:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = { server.close(); super.afterAll() }

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("ping/health") {
    assert(get("/ping").statusCode() == 204)
    val h = get("/health")
    assert(h.statusCode() == 200 && h.body().contains("ok"))
  }

  test("write line protocol -> 204 after durable flush; query returns results (F1)") {
    val lines =
      """weather,location=us-midwest,season=summer temperature=82
        |weather,location=us-east,season=summer temperature=80
        |weather,location=us-west,season=summer temperature=99
        |weather,location=us-south,season=summer temperature=87.1""".stripMargin
    val w = post("/write?db=mydb", lines)
    assert(w.statusCode() == 204)

    val q = post("/query",
      """{"query": "SELECT count(*) AS c, avg(temperature) AS t FROM mydb_weather"}""")
    assert(q.statusCode() == 200)
    // reference renders bigints as strings (README.md:131-133)
    assert(q.body().contains(""""c":"4""""), q.body())
    assert(q.body().contains(""""t":87.025"""), q.body())

    // reference querier shape: ?db= scopes BARE table names (README.md:114-133)
    val scoped = post("/query?db=mydb",
      """{"query": "SELECT count(*) AS c FROM weather"}""")
    assert(scoped.statusCode() == 200, scoped.body())
    assert(scoped.body().contains(""""c":"4""""), scoped.body())
    // and the scope does NOT leak: without ?db=, the bare name is gone
    val unscoped = post("/query", """{"query": "SELECT count(*) FROM weather"}""")
    assert(unscoped.statusCode() == 500, unscoped.body())
  }

  test("?db= scoped queries see a write to the scope on the very next request") {
    def scopedCount() = {
      val r = post("/query?db=fresh", """{"query": "SELECT count(*) AS c FROM vis"}""")
      assert(r.statusCode() == 200, r.body())
      r.body()
    }
    assert(post("/write?db=fresh", "vis v=1 1700000000000000000").statusCode() == 204)
    assert(scopedCount().contains(""""c":"1""""))
    assert(scopedCount().contains(""""c":"1""""))
    assert(post("/write?db=fresh", "vis v=2 1700000000000000001").statusCode() == 204)
    assert(scopedCount().contains(""""c":"2""""))
  }

  test("a temp view or SET sent on /query does not leak into later requests") {
    assert(post("/write?db=leakdb", "lk v=1 1700000000000000000").statusCode() == 204)
    Seq("/query", "/query?db=leakdb").foreach { path =>
      def q(sql: String) = post(path, s"""{"query": "$sql"}""")
      val mk = q("CREATE TEMPORARY VIEW leak AS SELECT 42 AS x")
      assert(mk.statusCode() == 200, s"$path ${mk.body()}")
      val use = q("SELECT * FROM leak")
      assert(use.statusCode() != 200 && !use.body().contains(""""x":42"""),
        s"$path ${use.statusCode()} ${use.body()}")
      assert(q("SET spark.sql.session.timeZone=Asia/Tokyo").statusCode() == 200)
      val conf = q("SELECT current_timezone() AS tz")
      assert(conf.statusCode() == 200, s"$path ${conf.body()}")
      assert(!conf.body().contains("Tokyo"), s"$path ${conf.body()}")
    }
  }

  test("a /query command on the global temp database is refused and leaks nothing") {
    val mk = post("/query", """{"query": "CREATE GLOBAL TEMPORARY VIEW gleak AS SELECT 42 AS x"}""")
    assert(mk.statusCode() == 400, mk.body())
    val use = post("/query", """{"query": "SELECT * FROM global_temp.gleak"}""")
    assert(!use.body().contains(""""x":42"""), s"${use.statusCode()} ${use.body()}")
    Seq("CREATE OR REPLACE GLOBAL TEMP VIEW gleak AS SELECT 1 AS x",
      "CREATE OR REPLACE VIEW GLOBAL_TEMP.gleak AS SELECT 1 AS x",
      "ALTER VIEW global_temp.gleak AS SELECT 1 AS x",
      "ALTER VIEW global_temp.gleak RENAME TO global_temp.g2",
      "DROP VIEW IF EXISTS global_temp.gleak").foreach { sql =>
      Seq("/query", "/query?db=leakdb").foreach { path =>
        val r = post(path, s"""{"query": "$sql"}""")
        assert(r.statusCode() == 400, s"$path $sql: ${r.body()}")
      }
    }
    // a read_csv view lives in that catalog: a refused replace leaves it
    // serving the file
    val dir = Files.createTempDirectory("gcsv")
    Files.write(dir.resolve("t.csv"), "city,pop\nrome,2761632\noslo,709037\n".getBytes(UTF_8))
    val csvSql = s"SELECT city FROM read_csv_auto('${dir.resolve("t.csv")}') ORDER BY city"
    val before = post("/query", s"""{"query": "$csvSql"}""")
    assert(before.statusCode() == 200 && before.body().contains("oslo"), before.body())
    val csvViews = spark.catalog.listTables("global_temp").collect().map(_.name)
      .filter(_.startsWith("__graft_csv_"))
    assert(csvViews.nonEmpty)
    csvViews.foreach { v =>
      val r = post("/query",
        s"""{"query": "CREATE OR REPLACE GLOBAL TEMPORARY VIEW $v AS SELECT 'evil' AS city"}""")
      assert(r.statusCode() == 400, r.body())
    }
    val after = post("/query", s"""{"query": "$csvSql"}""")
    assert(after.statusCode() == 200, after.body())
    assert(after.body() == before.body() && !after.body().contains("evil"), after.body())
  }

  test("reference README's canonical DuckDB query runs VERBATIM (VERDICT r7 #2)") {
    // reference README.md:121 — the first query a porting user tries;
    // `::TIMESTAMP` is DuckDB postfix-cast syntax Spark rejects unshimmed.
    // One row before the 2025-04-24 cutoff, two after (explicit ns stamps).
    val lines =
      """weather temperature=61 1713916800000000000
        |weather temperature=82 1745539200000000000
        |weather temperature=99 1777075200000000000""".stripMargin
    assert(post("/write?db=ducky", lines).statusCode() == 204)
    val q = post("/query?db=ducky",
      """{"query": "SELECT time, temperature FROM weather WHERE time >= epoch_ns('2025-04-24T00:00:00'::TIMESTAMP)"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(""""temperature":82"""), q.body())
    assert(q.body().contains(""""temperature":99"""), q.body())
    assert(!q.body().contains(""""temperature":61"""), q.body())
  }

  test("/query accepts the reference's statement-list benchmark shape (VERDICT r8 #4)") {
    // reference BENCHMARK.md:11 spells its published query as a
    // statement LIST: `LOAD parquet; SELECT town, district, count() …
    // FROM read_parquet('…')` — the LOAD no-ops, the tail runs
    val dir = Files.createTempDirectory("bench-shape-").toString
    import spark.implicits._
    Seq(("london", "a", 100.0), ("london", "a", 200.0), ("leeds", "b", 50.0))
      .toDF("town", "district", "price").write.mode("overwrite").parquet(dir)
    val q = post("/query",
      s"""{"query": "LOAD parquet; SELECT town, district, count() AS c, round(avg(price)) AS price FROM read_parquet('$dir') GROUP BY town, district ORDER BY town LIMIT 10"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(""""town":"london""""), q.body())
    assert(q.body().contains(""""c":"2""""), q.body())
    // a body of ONLY no-ops acks with an empty result set, not an error
    val n = post("/query", """{"query": "INSTALL chsql; LOAD chsql;"}""")
    assert(n.statusCode() == 200 && n.body().contains("results"), n.body())
  }

  test("/query runs CH 3-arg dateAdd/dateSub through the token rewrite (r14)") {
    val q = post("/query",
      """{"query": "SELECT dateAdd(MONTH, 2, TIMESTAMP '2024-01-15 00:00:00') AS a, dateSub(DAY, 3, TIMESTAMP '2024-03-10 00:00:00') AS b"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains("2024-03-15"), q.body())
    assert(q.body().contains("2024-03-07"), q.body())
    // DuckDB's quoted-part date_sub is NOT the CH shape — it stays
    // unrewritten and reaches Spark's own 2-arg date_sub for a LOUD
    // arity error (500 WRONG_NUM_ARGS naming the function), never a
    // silent guess at which of the two semantics was meant
    val d = post("/query",
      """{"query": "SELECT date_sub('month', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-03-01 00:00:00') AS n"}""")
    assert(d.statusCode() >= 400, s"${d.statusCode()} ${d.body()}")
    assert(d.body().contains("date_sub"), d.body())
  }

  test("CREATE SECRET on /query maps to fs.s3a.* conf (VERDICT r8 #6)") {
    // reference merge_service_s3.go:94-118 configures S3 credentials
    // in-dialect; here the statement lands in Hadoop's s3a conf. The
    // actual object-store scan is driven hermetically over file:// in
    // ObjectStoreSpec — no s3 endpoint (or hadoop-aws jar) exists here.
    val q = post("/query",
      """{"query": "CREATE SECRET (TYPE S3, KEY_ID 'AKID', SECRET 'sec', ENDPOINT 'minio:9000', USE_SSL false, URL_STYLE 'path'); SELECT 1 AS ok"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(""""ok":1"""), q.body())
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.access.key") == "AKID")
    assert(hc.get("fs.s3a.secret.key") == "sec")
    assert(hc.get("fs.s3a.endpoint") == "minio:9000")
    assert(hc.get("fs.s3a.connection.ssl.enabled") == "false")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    // a scoped secret lands in the per-bucket namespace
    val s2 = post("/query",
      """{"query": "CREATE SECRET scoped (TYPE S3, KEY_ID 'BK', SECRET 'bs', SCOPE 's3://warm/data')"}""")
    assert(s2.statusCode() == 200, s2.body())
    assert(hc.get("fs.s3a.bucket.warm.access.key") == "BK")
    // an unmappable secret is the caller's 400
    assert(post("/query",
      """{"query": "CREATE SECRET (TYPE AZURE, KEY_ID 'x')"}""").statusCode() == 400)
  }

  test("DuckDB idioms GROUP BY ALL / EXCLUDE / QUALIFY run on /query (VERDICT r9 #4)") {
    val lines =
      """idm,loc=a v=1
        |idm,loc=a v=3
        |idm,loc=b v=2""".stripMargin
    assert(post("/write?db=idio", lines).statusCode() == 204)
    // GROUP BY ALL: Spark 4 parses it natively; pin the e2e path anyway
    val gba = post("/query?db=idio",
      """{"query": "SELECT loc, count(*) AS c FROM idm GROUP BY ALL ORDER BY loc"}""")
    assert(gba.statusCode() == 200, gba.body())
    assert(gba.body().contains(""""loc":"a","c":"2"""), gba.body())
    assert(gba.body().contains(""""loc":"b","c":"1"""), gba.body())
    // star EXCLUDE: the rewritten EXCEPT drops the column from the row
    val ex = post("/query?db=idio",
      """{"query": "SELECT * EXCLUDE (time, date, hour) FROM idm WHERE loc = 'b'"}""")
    assert(ex.statusCode() == 200, ex.body())
    assert(ex.body().contains(""""loc":"b""") && !ex.body().contains(""""time""""),
      ex.body())
    // QUALIFY: top-1 per group through the ranked-subquery rewrite
    val q = post("/query?db=idio",
      """{"query": "SELECT loc, v FROM idm QUALIFY row_number() OVER (PARTITION BY loc ORDER BY v DESC) = 1"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(""""v":3""") && q.body().contains(""""v":2"""),
      q.body())
    assert(!q.body().contains(""""v":1"""), q.body())
  }

  test("unmapped chsql/DuckDB name on /query is a 400 naming the gap (VERDICT r9 #5)") {
    // (formatDateTime/read_csv were the r10 exemplars here; the r12
    // tiers mapped them, so the deliberately-unmapped names stand in)
    // (sipHash64 was the r12 exemplar, sipHash128 the r13-r14 one;
    // r15 mapped the 128-bit pair, so farmHash64 — the one remaining
    // hash hold — stands in)
    val r = post("/query",
      """{"query": "SELECT farmHash64('x') AS x"}""")
    assert(r.statusCode() == 400, s"${r.statusCode()} ${r.body()}")
    assert(r.body().contains("farmHash64") &&
      r.body().contains("chsql"), r.body())
    // the freshly-mapped name answers 200 with the lowercase-hex value
    val m = post("/query", """{"query": "SELECT sipHash128('x') AS x"}""")
    assert(m.statusCode() == 200, s"${m.statusCode()} ${m.body()}")
    assert(m.body().contains(graft.functions.ChHash.hexLower(
      graft.functions.ChHash.sipHash128("x".getBytes("UTF-8"), ref = false))),
      m.body())
    // an unknown name that is NOT on the reference surface keeps
    // Spark's own analyzer error (with its did-you-mean), as a 500
    val u = post("/query", """{"query": "SELECT zorblefy(1) AS x"}""")
    assert(u.statusCode() == 500, s"${u.statusCode()} ${u.body()}")
    // table-valued gap names (a different analyzer error class) relabel
    // the same way (dim = 1 rewrites; only the dim != 1 bail reaches
    // the analyzer)
    val tv = post("/query",
      """{"query": "SELECT * FROM generate_subscripts(array(1, 2), 2)"}""")
    assert(tv.statusCode() == 400, s"${tv.statusCode()} ${tv.body()}")
    assert(tv.body().contains("generate_subscripts") && tv.body().contains("DuckDB"),
      tv.body())
  }

  test("CREATE SECRET conflict guard: swapped credentials are a 400 (ADVICE r9)") {
    val mk = (kid: String) =>
      s"""{"query": "CREATE SECRET (TYPE S3, KEY_ID '$kid', SECRET 's', ENDPOINT 'e1:9000', SCOPE 's3://guardbkt')"}"""
    assert(post("/query", mk("K1")).statusCode() == 200)
    // idempotent re-application of the SAME secret stays accepted (the
    // reference's merge path issues its secret per merge)
    assert(post("/query", mk("K1")).statusCode() == 200)
    // a DIFFERENT key for the already-configured bucket must not
    // silently swap the earlier table's credentials
    val c = post("/query", mk("K2"))
    assert(c.statusCode() == 400, s"${c.statusCode()} ${c.body()}")
    assert(c.body().contains("conflict"), c.body())
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.s3a.bucket.guardbkt.access.key") == "K1")
  }

  test("hdr artifact request validates the column BEFORE accepting the job (ADVICE r9)") {
    // a declared table exists from the create-table tests? use a fresh one
    val ct = post("/gigapi/create?db=hdrv",
      """{"create_table": "m", "fields": {"v": "FLOAT64", "s": "STRING"}}""")
    assert(ct.statusCode() == 200, ct.body())
    val bad = post("/gigapi/artifacts?db=hdrv",
      """{"kind": "hdr", "table": "m", "column": "nope"}""")
    assert(bad.statusCode() == 400, s"${bad.statusCode()} ${bad.body()}")
    assert(bad.body().contains("nope"), bad.body())
    val nonNum = post("/gigapi/artifacts?db=hdrv",
      """{"kind": "hdr", "table": "m", "column": "s"}""")
    assert(nonNum.statusCode() == 400, s"${nonNum.statusCode()} ${nonNum.body()}")
    assert(nonNum.body().contains("numeric"), nonNum.body())
  }

  test("one corrupt partition manifest does not take other tables down (review r10)") {
    assert(post("/write?db=isoa", "ka v=1 1700000000000000000").statusCode() == 204)
    assert(post("/write?db=isob", "kb v=2 1700000000000000000").statusCode() == 204)
    // garble isob's manifest: the catalog's corrupt-spec discipline
    // lifted to the manifest layer — isoa must keep serving
    val manifests = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(p => p.toString.contains("isob") &&
        p.getFileName.toString == "metadata.json")
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    assert(manifests.nonEmpty, "no isob manifest found")
    manifests.foreach(p => java.nio.file.Files.writeString(p, "{garbage"))
    val ok = post("/query?db=isoa", """{"query": "SELECT count(*) AS c FROM ka"}""")
    assert(ok.statusCode() == 200, s"${ok.statusCode()} ${ok.body()}")
    assert(ok.body().contains(""""c":"1""""), ok.body())
    // the corrupt table's own queries fail attributably (unresolved
    // view), not with a parser stack against every table
    val bad = post("/query?db=isob", """{"query": "SELECT count(*) FROM kb"}""")
    assert(bad.statusCode() == 500, s"${bad.statusCode()} ${bad.body()}")
  }

  test("request-shape errors are 400; engine-side IAE subclasses stay 500 (ADVICE r8)") {
    assert(post("/query", """{"notquery": 1}""").statusCode() == 400)
    // malformed ?from=/?to= is a request-shape 400 (regression guard:
    // the BadRequest narrowing briefly let NumberFormatException 500)
    assert(post("/query?from=abc",
      """{"query": "SELECT 1 AS x"}""").statusCode() == 400)
    // ANSI cast failure at EXECUTION throws a SparkNumberFormatException
    // (an IllegalArgumentException subclass) — an engine fault, not the
    // request's shape: it must surface as 500
    val e = post("/query", """{"query": "SELECT CAST('nope' AS INT) AS x"}""")
    assert(e.statusCode() == 500, s"${e.statusCode()} ${e.body()}")
    // a body that is not JSON at all is the caller's 400, not a jackson
    // stack trace behind a 500 (code-review r9)
    val mj = post("/query", """{bad""")
    assert(mj.statusCode() == 400 && mj.body().contains("malformed"), mj.body())
    assert(post("/gigapi/artifacts", """not json""").statusCode() == 400)
    // malformed %-escapes in params are a 400 somewhere in the stack
    // (the JDK server rejects most at the protocol layer; queryParams
    // relabels URLDecoder's IAE for anything that slips through) — the
    // pinned contract is 400-not-500, via a raw socket because the
    // test HttpClient's own URI parser would reject the escape first
    locally {
      val sock = new java.net.Socket("127.0.0.1", server.boundPort)
      try {
        val req = "POST /query?db=%zz HTTP/1.1\r\nHost: x\r\n" +
          "Content-Length: 2\r\nConnection: close\r\n\r\n{}"
        sock.getOutputStream.write(req.getBytes("UTF-8"))
        sock.getOutputStream.flush()
        val resp = new String(sock.getInputStream.readAllBytes(), "UTF-8")
        assert(resp.startsWith("HTTP/1.1 400"), resp.linesIterator.next())
      } finally sock.close()
    }
    val bd = post("/gigapi/create?db=my-db",
      """{"create_table": "t", "fields": {"v": "INT64"}}""")
    assert(bd.statusCode() == 400 && bd.body().contains("database"), bd.body())
    assert(post("/write?db=my-db", "m v=1i").statusCode() == 400)
  }

  test("pipeline text functions scrub ingested text via /query") {
    // a string FIELD carries free text with PII; /query scrubs + scores
    // it in plain SQL — the training-pipeline ops on the server surface
    val lines =
      """docs,src=a text="mail me at jo@ex.io today"
        |docs,src=b text="the and of to in is was for that it"""".stripMargin
    assert(post("/write?db=pii", lines).statusCode() == 204)
    val q = post("/query?db=pii",
      """{"query": "SELECT src, redact_pii(text) AS red, token_count(text) AS tc, lang_id(text) AS lang FROM docs ORDER BY src"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(""""red":"mail me at <EMAIL> today""""), q.body())
    assert(q.body().contains(""""lang":"en""""), q.body())
    // int32, not BIGINT: renders as a bare number (bigint-as-string is
    // reserved for 64-bit values, matching the reference)
    assert(q.body().contains(""""tc":10"""), q.body())

    // the p73/p76 kernels as SQL scalars: chunk-hash arrays + loop score
    val k = post("/query?db=pii",
      """{"query": "SELECT src, size(cdc_chunks(text)) AS nch, rep_milli(repeat('spam ', 10)) AS rm FROM docs ORDER BY src"}""")
    assert(k.statusCode() == 200, k.body())
    assert(k.body().contains(""""rm":"1000""""), k.body()) // perfect lag-1 loop
    assert(k.body().contains(""""nch":"""), k.body())
  }

  test("CH analytics aggregates run over ingested lakehouse data via /query") {
    // line-protocol timestamps in ns; three users at funnel levels 3/1/2
    val t0 = 1700000000000000000L
    val lines = Seq(
      s"""fun,user=1 stage="view" ${t0}""",
      s"""fun,user=1 stage="click" ${t0 + 5000000000L}""",
      s"""fun,user=1 stage="purchase" ${t0 + 9000000000L}""",
      s"""fun,user=2 stage="view" ${t0}""",
      s"""fun,user=3 stage="view" ${t0}""",
      s"""fun,user=3 stage="click" ${t0 + 60000000000L}""" // outside 10 s window
    ).mkString("\n")
    assert(post("/write?db=fdb", lines).statusCode() == 204)

    val q = post("/query?db=fdb",
      """{"query": "SELECT user, window_funnel(10000000000L, time, stage = 'view', stage = 'click', stage = 'purchase') AS lvl FROM fun GROUP BY user ORDER BY user"}""")
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(""""lvl":3"""), q.body())
    assert(q.body().contains(""""lvl":1"""), q.body())

    val r = post("/query?db=fdb",
      """{"query": "SELECT top_k(2, stage) AS tk FROM fun"}""")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("view"), r.body())
  }

  /** Poll GET /gigapi/artifacts/{id} to completion; returns the final
    * status body (fails the test on a failed job or timeout). */
  private def awaitJob(id: String, timeoutMs: Long = 120000): String = {
    val deadline = System.currentTimeMillis + timeoutMs
    var body = ""
    while (System.currentTimeMillis < deadline) {
      val r = get(s"/gigapi/artifacts/$id")
      assert(r.statusCode() == 200, r.body())
      body = r.body()
      if (body.contains("\"status\":\"done\"")) return body
      assert(!body.contains("\"status\":\"failed\""), body)
      Thread.sleep(100)
    }
    fail(s"job $id did not complete: $body")
  }

  private def jobIdOf(body: String): String =
    """"job":"([^"]+)"""".r.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(fail(s"no job id in $body"))

  test("artifacts endpoint: async build (202 + job id, GET polls), cluster map joins in /query SQL") {
    // the VERDICT r5 #5 flow through the r6 async contract: ingest a
    // corpus, POST /gigapi/artifacts (build runs on the background pool
    // — no handler thread held), poll the job to done, then JOIN the
    // published view from plain POSTed SQL
    val texts = Seq(
      0 -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      1 -> "alpha beta gamma delta epsilon zeta eta theta iota lambda", // near-dup of 0
      2 -> "one two three four five six seven eight nine ten",
      3 -> "red orange yellow green blue indigo violet black white gray",
      4 -> "one two three four five six seven eight nine eleven") // near-dup of 2
    val lines = texts.map { case (i, t) =>
      s"""corpus doc_id=${i}i,text="$t"""" }.mkString("\n")
    assert(post("/write?db=art", lines).statusCode() == 204)

    val a = post("/gigapi/artifacts?db=art",
      """{"kind": "cluster_map", "table": "corpus", "tau": 0.5}""")
    assert(a.statusCode() == 202, a.body())
    assert(a.body().contains(""""status":"pending""""), a.body())
    val done = awaitJob(jobIdOf(a.body()))
    assert(done.contains("art_corpus_cluster_map"), done)

    // bare GET lists accepted jobs (newest first); the completed build
    // is present as done
    val list = get("/gigapi/artifacts")
    assert(list.statusCode() == 200 && list.body().contains(""""status":"done""""),
      list.body())

    // unknown job id -> 404; unknown table -> 400 on the POST (ADVICE
    // r7: request-shape errors are the caller's, distinct from 500s)
    assert(get("/gigapi/artifacts/job-999999").statusCode() == 404)
    val bad = post("/gigapi/artifacts?db=art",
      """{"kind": "cluster_map", "table": "nope"}""")
    assert(bad.statusCode() == 400 && bad.body().contains("unknown table"),
      bad.body())

    // method routing (ADVICE r7): POST to a job URL must not create;
    // non-GET/POST methods are 405 with Allow
    val postToJob = post("/gigapi/artifacts/job-1",
      """{"kind": "cluster_map", "table": "corpus"}""")
    assert(postToJob.statusCode() == 404, postToJob.body())
    val del = client.send(HttpRequest.newBuilder(
      URI.create(s"$base/gigapi/artifacts")).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(del.statusCode() == 405 && del.headers().firstValue("Allow").isPresent,
      del.body())

    val q = post("/query?db=art",
      """{"query": "SELECT d.doc_id AS id, m.cluster_id AS cid, d.doc_id = m.cluster_id AS keeper FROM corpus d JOIN art_corpus_cluster_map m ON d.doc_id = m.doc_id ORDER BY id"}""")
    assert(q.statusCode() == 200, q.body())
    // near-dup pairs collapse to the min-id rep; doc 3 stands alone —
    // the same labels DedupOps.clusterLabels (the Scala API) assigns
    assert(q.body().contains(""""id":"0","cid":"0","keeper":true"""), q.body())
    assert(q.body().contains(""""id":"1","cid":"0","keeper":false"""), q.body())
    assert(q.body().contains(""""id":"2","cid":"2","keeper":true"""), q.body())
    assert(q.body().contains(""""id":"3","cid":"3","keeper":true"""), q.body())
    assert(q.body().contains(""""id":"4","cid":"2","keeper":false"""), q.body())
  }

  test("artifacts endpoint: IVF index over wide float columns probes via SQL") {
    // embeddings ingested as scalar float columns (the lakehouse type
    // system is scalar); the endpoint assembles vec_cols, trains the
    // quantizer, publishes centroid/assigned views + ivf_probe
    val rnd = new scala.util.Random(5)
    val lines = (0 until 24).map { i =>
      val c = i % 3
      val v = Array.tabulate(4)(d =>
        (if (d == c) 10.0 else 0.0) + rnd.nextDouble() * 0.3)
      s"vecs vec_id=${i}i,e0=${v(0)},e1=${v(1)},e2=${v(2)},e3=${v(3)}"
    }.mkString("\n")
    assert(post("/write?db=ann", lines).statusCode() == 204)

    // {"sync": true} keeps the build-inline path (tests, tiny tables)
    val a = post("/gigapi/artifacts?db=ann",
      """{"kind": "ivf", "table": "vecs", "vec_cols": ["e0","e1","e2","e3"], "sync": true}""")
    assert(a.statusCode() == 200, a.body())
    assert(a.body().contains("ivf_probe"), a.body())

    // centroid view is queryable; nlist capped at the adaptive size
    val c = post("/query?db=ann",
      """{"query": "SELECT count(*) AS n FROM ann_vecs_ivf_centroids"}""")
    assert(c.statusCode() == 200 && c.body().contains(""""n":"16""""), c.body())

    // the probe plan from POSTed SQL: explode probe cells, hash-join the
    // assigned view, rank by codegen'd dotf — top-1 of query 0 must be a
    // SAME-cluster vector (clusters are well separated)
    val q = post("/query?db=ann",
      """{"query": "SELECT c.vec_id AS nid FROM (SELECT qid, emb, cell FROM (SELECT vec_id AS qid, array(CAST(e0 AS DOUBLE), CAST(e1 AS DOUBLE), CAST(e2 AS DOUBLE), CAST(e3 AS DOUBLE)) AS emb FROM vecs WHERE vec_id = 0) b0 LATERAL VIEW explode(ivf_probe(emb, 4)) p AS cell) b JOIN ann_vecs_ivf_assigned c ON c.cell = b.cell AND c.vec_id != b.qid ORDER BY dotf(b.emb, c.nvec) DESC, c.vec_id LIMIT 1"}""")
    assert(q.statusCode() == 200, q.body())
    // nearest neighbor of vec 0 (cluster 0) is another cluster-0 vector:
    // ids ≡ 0 mod 3
    val nid = """"nid":"(\d+)"""".r.findFirstMatchIn(q.body()).map(_.group(1).toInt)
    assert(nid.exists(n => n % 3 == 0), s"top-1 neighbor $nid not cluster-0: ${q.body()}")
  }

  test("artifact kinds bloom/bpe/unigram/nb/ppl publish artifact-bound SQL functions") {
    // VERDICT r6 #2/#3: every trained text-model artifact gets a SQL
    // face, bound at publish time like ivf_probe — a /query-only user
    // can tokenize, quality-gate, and screen without the Scala API
    val docs = Seq(
      0 -> "the quick brown fox jumps over the lazy dog again and again",
      1 -> "the quick brown fox jumps over the lazy dog again and again",
      2 -> "pack my box with five dozen liquor jugs for the long trip",
      3 -> "sphinx of black quartz judge my vow said the old man")
    val lines = docs.map { case (i, t) =>
      s"""tdocs doc_id=${i}i,text="$t"""" }.mkString("\n")
    assert(post("/write?db=mod", lines).statusCode() == 204)

    // bloom over 2-gram shingles (sync: the async poll flow is covered
    // by the cluster-map test; the build logic is shared)
    val bl = post("/gigapi/artifacts?db=mod",
      """{"kind": "bloom", "table": "tdocs", "n": 2, "sync": true}""")
    assert(bl.statusCode() == 200 && bl.body().contains("mod_tdocs_bloom_hit"),
      bl.body())
    val bq = post("/query?db=mod",
      """{"query": "SELECT bloom_hit('quick brown') AS h1, bloom_hit('zzz qqq') AS h0"}""")
    assert(bq.body().contains(""""h1":true"""), bq.body())
    assert(bq.body().contains(""""h0":false"""), bq.body())

    // bpe: trained merges bound into bpe_encode(text) (array of
    // per-token piece arrays; flatten = the piece stream)
    val bp = post("/gigapi/artifacts?db=mod",
      """{"kind": "bpe", "table": "tdocs", "merges": 20, "sync": true}""")
    assert(bp.statusCode() == 200 && bp.body().contains("mod_tdocs_bpe_encode"),
      bp.body())
    val bpq = post("/query?db=mod",
      """{"query": "SELECT doc_id, size(bpe_encode(text)) AS n_tok, size(flatten(bpe_encode(text))) AS np FROM tdocs ORDER BY doc_id"}""")
    assert(bpq.statusCode() == 200, bpq.body())
    assert(bpq.body().contains(""""n_tok":12"""), bpq.body()) // doc 0: 12 tokens
    val mv = post("/query?db=mod",
      """{"query": "SELECT count(*) AS n FROM mod_tdocs_bpe_merges"}""")
    assert(mv.statusCode() == 200 && mv.body().contains(""""n":""""), mv.body())

    // unigram: the Viterbi rollup struct
    val un = post("/gigapi/artifacts?db=mod",
      """{"kind": "unigram", "table": "tdocs", "sync": true}""")
    assert(un.statusCode() == 200 && un.body().contains("mod_tdocs_unigram_encode"),
      un.body())
    val uq = post("/query?db=mod",
      """{"query": "SELECT doc_id, (unigram_encode(text)).n_words AS nw, (unigram_encode(text)).total_pieces AS tp FROM tdocs ORDER BY doc_id"}""")
    assert(uq.statusCode() == 200, uq.body())
    assert(uq.body().contains(""""nw":"12""""), uq.body())

    // nb + ppl: classifier / LM-bits structs
    val nb = post("/gigapi/artifacts?db=mod",
      """{"kind": "nb", "table": "tdocs", "sync": true}""")
    assert(nb.statusCode() == 200 && nb.body().contains("mod_tdocs_nb_quality"),
      nb.body())
    val pp = post("/gigapi/artifacts?db=mod",
      """{"kind": "ppl", "table": "tdocs", "sync": true}""")
    assert(pp.statusCode() == 200 && pp.body().contains("mod_tdocs_ppl_bits"),
      pp.body())
    val sq = post("/query?db=mod",
      """{"query": "SELECT doc_id, (nb_quality(text)).n_grams AS ng, (nb_quality(text)).agree AS ag, (ppl_bits(text)).n_big AS nbg, (ppl_bits(text)).bpt_milli AS bm FROM tdocs ORDER BY doc_id"}""")
    assert(sq.statusCode() == 200, sq.body())
    // doc 0: 12 tokens -> 12 unigrams + 11 bigrams = 23 grams; 12 LM positions
    assert(sq.body().contains(""""ng":"23""""), sq.body())
    assert(sq.body().contains(""""nbg":"12""""), sq.body())
  }

  test("gzip write body is accepted") {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write("gztable v=7i 1700000000000000000".getBytes(UTF_8)); gz.close()
    val req = HttpRequest.newBuilder(URI.create(s"$base/write"))
      .header("Content-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build()
    assert(client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 204)
    val q = post("/query", """{"query": "SELECT v FROM gztable"}""")
    assert(q.body().contains(""""v":"7""""), q.body())
  }

  test("a body that inflates past MaxBodyBytes answers 413") {
    // half a MB of gzip that inflates to one byte over the limit
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    val chunk = new Array[Byte](1 << 20)
    (0L until server.MaxBodyBytes / chunk.length).foreach(_ => gz.write(chunk))
    gz.write(0); gz.close()
    val req = HttpRequest.newBuilder(URI.create(s"$base/write?db=toolarge"))
      .header("Content-Encoding", "gzip")
      .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 413, r.body())
    assert(r.body().contains("exceeds"), r.body())
  }

  test("a declared Content-Length over MaxBodyBytes answers 413 before the body is sent") {
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    try {
      // only a few bytes of the declared body are ever sent: a server
      // that waits for the rest leaves the status read to time out
      sock.setSoTimeout(20000)
      val req = "POST /write?db=toolong HTTP/1.1\r\nHost: x\r\n" +
        s"Content-Length: ${server.MaxBodyBytes + 1}\r\n\r\nm v=1i"
      sock.getOutputStream.write(req.getBytes(UTF_8))
      sock.getOutputStream.flush()
      val status = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, UTF_8)).readLine()
      assert(status != null && status.startsWith("HTTP/1.1 413"), status)
    } finally sock.close()
  }

  test("create table via reference YAML shape (F8) then JSON") {
    val yaml =
      """create_table: metrics
        |fields:
        |  ts: INT8
        |  name: VARCHAR
        |  value: FLOAT8
        |  cnt: UBIGINT
        |engine: Merge
        |order_by: [ts]
        |timestamp:
        |  field: ts
        |  precision: ns""".stripMargin
    assert(post("/gigapi/create", yaml).statusCode() == 200)
    val spec = server.catalog.get("default", "metrics").get
    assert(spec.engine == "Merge" && spec.orderBy == Seq("ts"))
    assert(spec.columns.toMap.get("cnt").contains("UINT64"))

    val json = """{"create_table":"jt","fields":{"a":"INT64"},"order_by":["a"]}"""
    assert(post("/gigapi/create", json).statusCode() == 200)
    assert(server.catalog.get("default", "jt").nonEmpty)
  }

  test("create-table validation errors -> 400 with message") {
    val bad = """{"create_table":"x","fields":{"a":"INT64"},"order_by":["nope"]}"""
    val r = post("/gigapi/create", bad)
    assert(r.statusCode() == 400 && r.body().contains("order_by"), r.body())
    // HiveMerge derives date/hour: declaring them as fields would make
    // every write fail the reserved-column guard — reject the CREATE
    val hv = post("/gigapi/create",
      """{"create_table":"h","engine":"HiveMerge","fields":{"date":"STRING","v":"INT64"}}""")
    assert(hv.statusCode() == 400 && hv.body().contains("reserved"), hv.body())
  }

  test("query on unknown table errors gracefully") {
    val r = post("/query", """{"query": "SELECT * FROM no_such_table"}""")
    assert(r.statusCode() == 500)
  }

  test("r12 dialect tier runs on /query: arg_min/string_agg, generate_series, read_csv, week family (VERDICT r10 #5-#6)") {
    // against an INGESTED table, the migrating-user path
    post("/write?db=dlt", "r12t,k=a v=3i 1700000001000000000")
    post("/write?db=dlt", "r12t,k=b v=1i 1700000002000000000")
    post("/write?db=dlt", "r12t,k=c v=2i 1700000003000000000")
    val agg = post("/query", """{"query": "SELECT arg_min(k, v) AS lo, arg_max(k, v) AS hi, string_agg(k, '|') AS all FROM dlt_r12t"}""")
    assert(agg.statusCode() == 200, agg.body())
    assert(agg.body().contains(""""lo":"b"""") && agg.body().contains(""""hi":"a""""))
    assert("[abc]\\|[abc]\\|[abc]".r.findFirstIn(agg.body()).isDefined, agg.body())
    // FROM-position generate_series + scalar list_sort/unnest
    val gs = post("/query",
      """{"query": "SELECT sum(generate_series) AS s FROM generate_series(1, 10)"}""")
    // int64 renders as a string in the reference's output format
    assert(gs.statusCode() == 200 && gs.body().contains(""""s":"55""""), gs.body())
    val ls = post("/query",
      """{"query": "SELECT list_sort(array(3, 1, 2)) AS v"}""")
    assert(ls.statusCode() == 200 && ls.body().contains("[1,2,3]"), ls.body())
    // read_csv of a local file: header sniffed, types inferred
    val dir = java.nio.file.Files.createTempDirectory("qcsv")
    java.nio.file.Files.write(dir.resolve("t.csv"),
      "city,pop\nrome,2761632\noslo,709037\n".getBytes("UTF-8"))
    val csv = post("/query",
      s"""{"query": "SELECT city FROM read_csv_auto('${dir.resolve("t.csv")}') WHERE pop > 1000000"}""")
    assert(csv.statusCode() == 200 && csv.body().contains("rome") &&
      !csv.body().contains("oslo"), csv.body())
    // chsql week/format tier
    val wk = post("/query",
      """{"query": "SELECT toWeek(DATE '2024-01-07') AS w, toISOWeek(DATE '2025-04-24') AS iw, toMonday(DATE '2025-04-24') AS m, formatDateTime(TIMESTAMP '2025-04-24 13:45:56', '%H:%i') AS f, toStartOfInterval(TIMESTAMP '2025-04-24 13:45:56', INTERVAL 15 MINUTE) AS g"}""")
    assert(wk.statusCode() == 200, wk.body())
    assert(wk.body().contains(""""w":1""") && wk.body().contains(""""iw":17"""))
    assert(wk.body().contains("2025-04-21") && wk.body().contains("13:45"))
  }

  test("partition columns keep inferred types in /query JSON (hour number, date string-date)") {
    post("/write?db=pt", "ptw v=1i 1700000000000000000") // 2023-11-14 22:13:20 UTC
    val q = post("/query", """{"query": "SELECT date, hour, v FROM pt_ptw"}""")
    assert(q.statusCode() == 200, q.body())
    // partitions derive from server-assigned __timestamp (now), so assert
    // SHAPE: hour is an unquoted JSON number (int partition type, not the
    // "08" a string schema would give); date renders as a date string
    assert(""""hour":\d+[,}]""".r.findFirstIn(q.body()).isDefined, q.body())
    assert(""""date":"\d{4}-\d{2}-\d{2}"""".r.findFirstIn(q.body()).isDefined, q.body())
  }

  test("NDJSON write via Content-Type registry, read back via /query (N3/N4)") {
    val body =
      """{"sensor":"a","v":1,"ratio":0.5,"ok":true}
        |{"sensor":"b","v":2,"ratio":1.5,"ok":false}""".stripMargin
    val req = HttpRequest.newBuilder(URI.create(s"$base/write?db=nd&table=meter"))
      .header("Content-Type", "application/x-ndjson")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    assert(client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 204)
    val q = post("/query",
      """{"query": "SELECT sensor, v, ratio, ok FROM nd_meter ORDER BY v"}""")
    assert(q.statusCode() == 200)
    assert(q.body().contains(""""sensor":"a""""), q.body())
    assert(q.body().contains(""""v":"2""""), q.body()) // int64-as-string
    assert(q.body().contains(""""ok":false"""), q.body())
    // NDJSON without ?table= is a client error, reported not swallowed
    val bad = HttpRequest.newBuilder(URI.create(s"$base/write"))
      .header("Content-Type", "application/x-ndjson")
      .POST(HttpRequest.BodyPublishers.ofString("""{"v":1}""")).build()
    val r = client.send(bad, HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 400 && r.body().contains("table"), r.body())
  }

  private def write(path: String, contentType: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("reserved columns on /write are a 400 before anything is enqueued") {
    val nd = "application/x-ndjson"
    assert(write("/write?db=rsv", "text/plain", "known v=1i").statusCode() == 204)
    val known = server.catalog.get("rsv", "known")
    Seq(
      // the engine's arrival stamp, as a line-protocol tag and field
      ("/write?db=rsv", "text/plain", "known,__timestamp=a v=2i", "known"),
      ("/write?db=rsv", "text/plain", "known v=2i,__timestamp=5i", "known"),
      ("/write?db=rsv", "text/plain", "fresh __timestamp=5i", "fresh"),
      // an NDJSON key of that name would forge the stamp
      ("/write?db=rsv&table=known", nd, """{"v":2,"__timestamp":5}""", "known"),
      ("/write?db=rsv&table=fresh", nd, """{"v":2,"__timestamp":5}""", "fresh"),
      // HiveMerge derives date/hour from the stamp
      ("/write?db=rsv", "text/plain", "known,date=monday v=2i", "known"),
      ("/write?db=rsv", "text/plain", "known v=2i,hour=3i", "known"),
      ("/write?db=rsv&table=known", nd, """{"v":2,"date":"monday"}""", "known"),
      ("/write?db=rsv&table=fresh", nd, """{"v":2,"hour":3}""", "fresh")
    ).foreach { case (path, ct, body, table) =>
      val r = write(path, ct, body)
      assert(r.statusCode() == 400 && r.body().contains("reserved"),
        s"$body: ${r.statusCode()} ${r.body()}")
      assert(server.catalog.get("rsv", table) == (if (table == "known") known else None), body)
    }
    val q = post("/query?db=rsv", """{"query": "SELECT sum(v) AS s FROM known"}""")
    assert(q.body().contains(""""s":"1""""), q.body())
  }

  test("invalid table or db names on /write are a 400 before anything is enqueued") {
    assert(write("/write?db=nm", "text/plain", "known v=1i").statusCode() == 204)
    val tables = server.catalog.all().toSet
    Seq(
      ("/write?db=nm", "text/plain", "a-b v=2i"),
      ("/write?db=nm", "text/plain", "bad-db.t v=2i"),
      ("/write?db=nm&table=a-b", "application/x-ndjson", """{"v":2}""")
    ).foreach { case (path, ct, body) =>
      val r = write(path, ct, body)
      assert(r.statusCode() == 400 && r.body().contains("invalid"),
        s"$body: ${r.statusCode()} ${r.body()}")
      assert(server.catalog.all().toSet == tables, body)
    }
    val q = post("/query?db=nm", """{"query": "SELECT sum(v) AS s FROM known"}""")
    assert(q.body().contains(""""s":"1""""), q.body())
  }

  test("bm25 artifact: stats views + match_bm25 scores through /query SQL") {
    val texts = Seq(
      0 -> "alpha beta gamma delta epsilon zeta",
      1 -> "alpha beta gamma delta epsilon eta",
      2 -> "one two three four five six",
      3 -> "alpha alpha alpha beta beta gamma")
    val lines = texts.map { case (i, t) =>
      s"""corpus doc_id=${i}i,text="$t"""" }.mkString("\n")
    assert(post("/write?db=fts", lines).statusCode() == 204)
    val a = post("/gigapi/artifacts?db=fts",
      """{"kind": "bm25", "table": "corpus", "sync": true}""")
    assert(a.statusCode() == 200, a.body())
    assert(a.body().contains("match_bm25"), a.body())

    // stats views are queryable: df of 'alpha' counts docs 0,1,3
    val dfq = post("/query?db=fts",
      """{"query": "SELECT df FROM fts_corpus_bm25_df WHERE term = 'alpha'"}""")
    assert(dfq.body().contains(""""df":"3""""), dfq.body())

    // the bound scalar ranks the tf-heavy doc first; no-match scores 0
    val q = post("/query?db=fts",
      """{"query": "SELECT doc_id, match_bm25(text, 'alpha beta') AS s FROM corpus ORDER BY s DESC, doc_id"}""")
    assert(q.statusCode() == 200, q.body())
    val order = """"doc_id":"(\d)"""".r.findAllMatchIn(q.body())
      .map(_.group(1)).toSeq
    assert(order.head == "3", s"tf-heavy doc must rank first: ${q.body()}")
    assert(order.last == "2", s"no-match doc must rank last: ${q.body()}")
    assert(q.body().contains(""""s":0.0"""), q.body()) // doc 2 scored 0

    // request-shape error on a non-literal query arg -> 400, clear text
    val bad = post("/query?db=fts",
      """{"query": "SELECT match_bm25(text, text) FROM corpus"}""")
    assert(bad.statusCode() == 400 && bad.body().contains("literal"), bad.body())
  }

  test("bt artifact: Bradley-Terry leaderboard view through /query SQL") {
    // adjacent doc_ids alternate sources; s1's texts are long (higher
    // heuristic quality), s2's short — s1 must out-rank s2
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val lines = (0 until 8).map { i =>
      val (src, txt) = if (i % 2 == 0) ("s1", long.trim) else ("s2", "tiny text")
      s"""bdocs doc_id=${i}i,text="$txt",source="$src""""
    }.mkString("\n")
    assert(post("/write?db=arena", lines).statusCode() == 204)
    val bt = post("/gigapi/artifacts?db=arena",
      """{"kind": "bt", "table": "bdocs", "sync": true}""")
    assert(bt.statusCode() == 200 && bt.body().contains("arena_bdocs_bt_strengths"),
      bt.body())
    val q = post("/query?db=arena",
      """{"query": "SELECT source, strength_ppm FROM arena_bdocs_bt_strengths ORDER BY strength_ppm DESC"}""")
    assert(q.statusCode() == 200, q.body())
    val body = q.body()
    // s1 first (all wins), s2 floored at 1 ppm (never wins)
    assert(body.indexOf("\"s1\"") < body.indexOf("\"s2\""), body)
    assert(body.contains(""""strength_ppm":"1""""), body)
    // a bad "by" column answers 400 with the gap named
    val bad = post("/gigapi/artifacts?db=arena",
      """{"kind": "bt", "table": "bdocs", "by": "nope", "sync": true}""")
    assert(bad.statusCode() == 400 && bad.body().contains("nope"), bad.body())
  }

  test("cms/hdr artifacts: sketch state views + bound scalars through /query SQL") {
    // cms: the 2 MB frequency service — point df estimates with the
    // corpus dropped; hdr: sort-free percentiles from ≤1.5 k buckets
    val texts = Seq(
      0 -> "alpha beta gamma delta epsilon zeta",
      1 -> "alpha beta gamma delta epsilon eta",
      2 -> "alpha beta gamma delta theta iota",
      3 -> "unrelated words entirely different here now")
    val lines = texts.map { case (i, t) =>
      s"""sdocs doc_id=${i}i,text="$t"""" }.mkString("\n")
    assert(post("/write?db=sk", lines).statusCode() == 204)
    val cm = post("/gigapi/artifacts?db=sk",
      """{"kind": "cms", "table": "sdocs", "sync": true}""")
    assert(cm.statusCode() == 200 && cm.body().contains("sk_sdocs_cms_count"),
      cm.body())
    // 'alpha beta gamma' is a shingle of docs 0,1,2: estimate >= 3 and,
    // at 4 shingles/doc vs w=65536 slots, ~never inflated past the corpus
    val cq = post("/query?db=sk",
      """{"query": "SELECT cms_count('alpha beta gamma') >= 3 AS ge, cms_count('alpha beta gamma') <= 16 AS le"}""")
    assert(cq.statusCode() == 200, cq.body())
    assert(cq.body().contains(""""ge":true"""), cq.body())
    assert(cq.body().contains(""""le":true"""), cq.body())
    val cv = post("/query?db=sk",
      """{"query": "SELECT count(*) AS n FROM sk_sdocs_cms_counters"}""")
    assert(cv.statusCode() == 200 && cv.body().contains(""""n":""""), cv.body())

    // hdr over a numeric column: values 1..100 -> p50 bucket brackets 50.0
    val mlines = (1 to 100).map(i => s"smet v=$i.0").mkString("\n")
    assert(post("/write?db=sk", mlines).statusCode() == 204)
    // "V" pins case-insensitive resolution (Spark's own behavior)
    val hd = post("/gigapi/artifacts?db=sk",
      """{"kind": "hdr", "table": "smet", "column": "V", "sync": true}""")
    assert(hd.statusCode() == 200 && hd.body().contains("sk_smet_hdr_quantile"),
      hd.body())
    val hq = post("/query?db=sk",
      """{"query": "SELECT (hdr_quantile(500)).rank AS r, (hdr_quantile(500)).est_lo_milli <= 50000 AND (hdr_quantile(500)).est_hi_milli >= 50000 AS ok, hdr_quantile(0) IS NULL AS nul"}""")
    assert(hq.statusCode() == 200, hq.body())
    assert(hq.body().contains(""""r":"50""""), hq.body())
    assert(hq.body().contains(""""ok":true"""), hq.body())
    assert(hq.body().contains(""""nul":true"""), hq.body())

    // a non-numeric column fails the BUILD with a clear message, not a
    // downstream ANSI cast error at first query time
    val bad = post("/gigapi/artifacts?db=sk",
      """{"kind": "hdr", "table": "sdocs", "column": "text", "sync": true}""")
    assert(bad.statusCode() != 200, bad.body())
    assert(bad.body().contains("numeric"), bad.body())
    // wrong-arity misuse of a bound scalar in caller SQL is a 400 with
    // the function's usage, not an IndexOutOfBounds 500 (code-review r9)
    val ar = post("/query?db=sk", """{"query": "SELECT cms_count() AS x"}""")
    assert(ar.statusCode() == 400 && ar.body().contains("cms_count"), ar.body())
    // mistyped numeric artifact params 400 at POST time, not as a
    // failed async job discovered by polling (jsonTau/jsonInt strict)
    val mt = post("/gigapi/artifacts?db=sk",
      """{"kind": "cluster_map", "table": "sdocs", "tau": "0.7"}""")
    assert(mt.statusCode() == 400 && mt.body().contains("tau"), mt.body())
    val md = post("/gigapi/artifacts?db=sk",
      """{"kind": "bloom", "table": "sdocs", "n": "2"}""")
    assert(md.statusCode() == 400 && md.body().contains("\\\"n\\\""), md.body())
  }

  test("artifact job ledger survives a server restart (VERDICT r7 #6)") {
    // the async contract's durability hole: a restart between the 202
    // and the status poll must not lose the id the caller holds — the
    // ledger under <root>/.artifacts answers done across processes
    val root2 = Files.createTempDirectory("graft-ledger-").toString
    val s1 = new GigHttpServer(spark, root2, port = 0, saveTimeoutMs = 100).start()
    val id = try {
      val b1 = s"http://localhost:${s1.boundPort}"
      def post1(path: String, body: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b1$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val lines = Seq(
        "alpha beta gamma delta", "alpha beta gamma epsilon",
        "one two three four").zipWithIndex
        .map { case (t, i) => s"""corpus doc_id=${i}i,text="$t"""" }.mkString("\n")
      assert(post1("/write?db=led", lines).statusCode() == 204)
      val a = post1("/gigapi/artifacts?db=led",
        """{"kind": "cluster_map", "table": "corpus", "tau": 0.5}""")
      assert(a.statusCode() == 202, a.body())
      val jid = jobIdOf(a.body())
      val deadline = System.currentTimeMillis + 120000
      var st = ""
      while (!st.contains("\"status\":\"done\"") &&
             System.currentTimeMillis < deadline) {
        st = client.send(HttpRequest.newBuilder(
          URI.create(s"$b1/gigapi/artifacts/$jid")).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
        assert(!st.contains("\"failed\""), st)
        Thread.sleep(100)
      }
      assert(st.contains("\"status\":\"done\""), st)
      jid
    } finally s1.close()

    val s2 = new GigHttpServer(spark, root2, port = 0, saveTimeoutMs = 100).start()
    try {
      val b2 = s"http://localhost:${s2.boundPort}"
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"$b2/gigapi/artifacts/$id")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains("\"status\":\"done\""), r.body())
      assert(r.body().contains("cluster_map"), r.body()) // result JSON intact
      val list = client.send(HttpRequest.newBuilder(
        URI.create(s"$b2/gigapi/artifacts")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(list.body().contains(id), list.body())
      // `done` must not lie about availability (code-review r8): the
      // published view REBINDS at boot and serves on the new process
      val q = client.send(HttpRequest.newBuilder(URI.create(s"$b2/query?db=led"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT count(*) AS c FROM led_corpus_cluster_map"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200 && q.body().contains(""""c":"3""""), q.body())
    } finally s2.close()
  }

  test("boot rebind: bare alias binds each key's NEWEST build in ledger order") {
    // regression (code-review r9): newest-per-key dedup replayed keys in
    // FIRST-build order, so rebuilding key A after key B made the bare
    // alias (bloom_hit) bind B's model on restart while the live server
    // had A's. Build bloom(c1), bloom(c2), bloom(c1) again — after a
    // restart the bare bloom_hit must still be c1's model.
    val root2 = Files.createTempDirectory("graft-rebindord-").toString
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota"
    val t2 = "uno dos tres cuatro cinco seis siete ocho nueve"
    val s1 = new GigHttpServer(spark, root2, port = 0, saveTimeoutMs = 100).start()
    try {
      val b1 = s"http://localhost:${s1.boundPort}"
      def post1(path: String, body: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b1$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      assert(post1("/write?db=ord", s"""c1 doc_id=1i,text="$t1"""").statusCode() == 204)
      assert(post1("/write?db=ord", s"""c2 doc_id=2i,text="$t2"""").statusCode() == 204)
      def build(t: String) = post1("/gigapi/artifacts?db=ord",
        s"""{"kind": "bloom", "table": "$t", "sync": true}""")
      val r1 = build("c1"); assert(r1.statusCode() == 200, r1.body())
      val r2 = build("c2"); assert(r2.statusCode() == 200, r2.body())
      val r3 = build("c1"); assert(r3.statusCode() == 200, r3.body()) // c1 rebuilt LAST
    } finally s1.close()
    val s2 = new GigHttpServer(spark, root2, port = 0, saveTimeoutMs = 100).start()
    try {
      val b2 = s"http://localhost:${s2.boundPort}"
      def q(sql: String) =
        client.send(HttpRequest.newBuilder(URI.create(s"$b2/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"query": ${JsonOut.str(sql)}}""")).build(),
          HttpResponse.BodyHandlers.ofString())
      val hit = q(s"SELECT bloom_hit('${t1.split(" ").take(8).mkString(" ")}') AS h")
      assert(hit.statusCode() == 200 && hit.body().contains(""""h":true"""),
        hit.body())
      val miss = q(s"SELECT bloom_hit('${t2.split(" ").take(8).mkString(" ")}') AS h")
      assert(miss.statusCode() == 200 && miss.body().contains(""""h":false"""),
        miss.body())
    } finally s2.close()
  }

  test("create-table accepts the opt-in zorder flag; wrong key count is a 400") {
    val ok = post("/gigapi/create?db=zdb",
      """{"create_table": "zt", "fields": {"h": "INT64", "u": "INT64", "v": "FLOAT64"},
        | "order_by": ["h", "u"], "zorder": true}""".stripMargin)
    assert(ok.statusCode() == 200, ok.body())
    assert(server.catalog.get("zdb", "zt").exists(_.zorder))
    val bad = post("/gigapi/create?db=zdb",
      """{"create_table": "zbad", "fields": {"h": "INT64"},
        | "order_by": ["h"], "zorder": true}""".stripMargin)
    assert(bad.statusCode() == 400, bad.body())
    // non-numeric keys must fail HERE, not at the first compaction merge
    // (clusterSort min/max-normalizes; ANSI string->double cast throws)
    val nonNum = post("/gigapi/create?db=zdb",
      """{"create_table": "zstr", "fields": {"tag": "STRING", "host": "STRING"},
        | "order_by": ["tag", "host"], "zorder": true}""".stripMargin)
    assert(nonNum.statusCode() == 400, nonNum.body())
    assert(nonNum.body().contains("numeric"), nonNum.body())
    // a MISTYPED zorder value must 400, not silently create the table
    // without the layout the caller asked for (the YAML path accepts
    // the string spelling, so "true"-as-JSON-string is a likely habit)
    val strTyped = post("/gigapi/create?db=zdb",
      """{"create_table": "zstrbool", "fields": {"h": "INT64", "u": "INT64"},
        | "order_by": ["h", "u"], "zorder": "true"}""".stripMargin)
    assert(strTyped.statusCode() == 400, strTyped.body())
    assert(strTyped.body().contains("boolean"), strTyped.body())
    assert(server.catalog.get("zdb", "zstrbool").isEmpty)
    // same strictness on the YAML path ("yes" is not a boolean here)
    intercept[BadRequest] {
      CreateRequest.fromYaml("create_table: t\nzorder: yes\n")
    }
    assert(CreateRequest.fromYaml("create_table: t\nzorder: TRUE\n").zorder)
  }

  test("config-booted server (GraftConfig -> fromConfig): write -> query e2e") {
    val root2 = Files.createTempDirectory("graft-cfgboot-").toString
    val cfgFile = Files.createTempFile("graft-cfg-", ".yaml")
    Files.writeString(cfgFile,
      s"""gigapi:
         |  root: $root2
         |  save_timeout_s: 0.05
         |  no_merges: true
         |host: 127.0.0.1""".stripMargin)
    val cfg = GraftConfig.load(Some(cfgFile.toString), env = Map("PORT" -> "0"))
    assert(cfg.root == root2 && cfg.noMerges && cfg.port == 0)
    val s2 = GigHttpServer.fromConfig(spark, cfg).start()
    try {
      val b2 = s"http://localhost:${s2.boundPort}"
      val w = client.send(HttpRequest.newBuilder(URI.create(s"$b2/write"))
        .POST(HttpRequest.BodyPublishers.ofString("cfg v=5i 1700000000000000000")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(w.statusCode() == 204)
      val q = client.send(HttpRequest.newBuilder(URI.create(s"$b2/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT v FROM cfg"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.body().contains(""""v":"5""""), q.body())
    } finally s2.close()
  }

  test("config boot e2e: write -> background compact -> query keeps the results shape") {
    val root2 = Files.createTempDirectory("graft-cfge2e-").toString
    val cfgFile = Files.createTempFile("graft-cfg2-", ".yaml")
    Files.writeString(cfgFile,
      s"""gigapi:
         |  root: $root2
         |  save_timeout_s: 0.05
         |  merge_timeout_s: 1
         |host: 127.0.0.1
         |port: 0""".stripMargin)
    val cfg = GraftConfig.load(Some(cfgFile.toString), env = Map.empty)
    val s2 = GigHttpServer.fromConfig(spark, cfg).start()
    try {
      val b2 = s"http://localhost:${s2.boundPort}"
      // three acked flushes -> three L1 files for the merge ticker
      (1 to 3).foreach { i =>
        val w = client.send(HttpRequest.newBuilder(URI.create(s"$b2/write"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"e2e v=${i}i ${1700000000000000000L + i}")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(w.statusCode() == 204)
      }
      val tdir = java.nio.file.Paths.get(root2, "default", "e2e")
      def l2Count() = graft.index.MetadataIndex.partitionDirs(tdir)
        .map(d => graft.index.MetadataIndex.load(d, "e2e")
          .entries.keys.count(_.endsWith(".2.parquet"))).sum
      val deadline = System.currentTimeMillis() + 30000
      while (l2Count() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(l2Count() > 0, "background merge never produced an L2 file")
      val q = client.send(HttpRequest.newBuilder(URI.create(s"$b2/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT v FROM e2e ORDER BY v"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200, q.body())
      // the reference's exact envelope, with int64 as string
      assert(q.body().startsWith("""{"results":["""), q.body())
      Seq(1, 2, 3).foreach(i => assert(q.body().contains(s""""v":"$i""""), q.body()))
    } finally s2.close()
  }

  test("/query result over maxRows is marked truncated, not silently cut") {
    val root2 = Files.createTempDirectory("graft-trunc-").toString
    val s2 = new GigHttpServer(spark, root2, port = 0, saveTimeoutMs = 50,
      maxRows = 5, noMerges = true).start()
    try {
      val b2 = s"http://localhost:${s2.boundPort}"
      val lines = (1 to 7).map(i => s"tr v=${i}i ${1700000000000000000L + i}").mkString("\n")
      val w = client.send(HttpRequest.newBuilder(URI.create(s"$b2/write"))
        .POST(HttpRequest.BodyPublishers.ofString(lines)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(w.statusCode() == 204)
      val over = client.send(HttpRequest.newBuilder(URI.create(s"$b2/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT v FROM tr ORDER BY v"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(over.body().contains(""""truncated":true"""), over.body())
      assert(over.body().split("\"v\":").length - 1 == 5, over.body())
      val under = client.send(HttpRequest.newBuilder(URI.create(s"$b2/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT v FROM tr WHERE v <= 3 ORDER BY v"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(!under.body().contains("truncated"), under.body())
    } finally s2.close()
  }

  test("background merge scheduler compacts 1s-flush files to L2 unattended") {
    // dedicated server: fast ticker, zero drop grace (reference RunMerge
    // 10 s ticker, registry.go:42-62 — scaled down for the test)
    val root2 = Files.createTempDirectory("graft-merge-").toString
    val s2 = new GigHttpServer(spark, root2, port = 0, saveTimeoutMs = 50,
      mergeIntervalMs = 200, dropGraceMs = 0).start()
    try {
      val b2 = s"http://localhost:${s2.boundPort}"
      (1 to 6).foreach { i =>
        val r = client.send(HttpRequest.newBuilder(URI.create(s"$b2/write"))
          .POST(HttpRequest.BodyPublishers.ofString(s"sched v=${i}i")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 204)
        Thread.sleep(120) // force separate flushes -> many small L1 files
      }
      val tdir = java.nio.file.Paths.get(root2, "default", "sched")
      def liveFiles() = graft.index.MetadataIndex.partitionDirs(tdir)
        .flatMap(d => graft.index.MetadataIndex.load(d, "sched").entries.keys)
      val before = liveFiles()
      assert(before.size > 1, s"need many small files, got $before")
      // a file that lands after the last L1 merge was planned waits alone
      // at L1 by design (Compactor skips 1-file plans; perfbench's
      // `settled` relies on it) until the next flush gives it a partner.
      // Once the acked writes settle, at most one L1 file is left; if
      // one is, it must be the newest, and one more write must drain it
      def level1() = graft.index.MetadataIndex.partitionDirs(tdir).flatMap { d =>
        graft.index.MetadataIndex.load(d, "sched").entries.values
      }.partition(_.path.endsWith(".1.parquet"))
      val settleBy = System.currentTimeMillis() + 20000
      var split = level1()
      while (System.currentTimeMillis() < settleBy && split._1.size > 1) {
        Thread.sleep(200); split = level1()
      }
      val (l1, rest) = split
      assert(l1.size <= 1, s"L1 merges must keep up: ${l1.map(_.path)}")
      l1.foreach { lone =>
        assert(rest.forall(_.maxTime < lone.minTime),
          s"only the newest file may wait alone at L1: $lone vs $rest")
        val r = client.send(HttpRequest.newBuilder(URI.create(s"$b2/write"))
          .POST(HttpRequest.BodyPublishers.ofString("sched v=0i")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 204)
      }
      // no manual compact call: the scheduler must drain every L1 file
      // into L2 and shrink the live set (L1 merges happen mid-ingest too,
      // so `before` may already contain L2 files)
      val deadline = System.currentTimeMillis() + 20000
      var files = before
      while (System.currentTimeMillis() < deadline &&
        (files.exists(_.endsWith(".1.parquet")) || files.size >= before.size)) {
        Thread.sleep(200); files = liveFiles()
      }
      assert(files.nonEmpty && files.forall(!_.endsWith(".1.parquet")),
        s"L1 files must drain: $files")
      assert(files.size < before.size, s"file count must shrink: $before -> $files")
      // no further tick: at zero drop grace its gc could delete a merge's
      // sources under the query below (s2.close() closes it again)
      s2.merger.close()
      // data survives the unattended merge
      val q = client.send(HttpRequest.newBuilder(URI.create(s"$b2/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT sum(v) AS s FROM sched"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.body().contains(""""s":"21""""), q.body())
    } finally s2.close()
  }
}
