package graft.server

import graft.SparkSpec

/** `expr::TYPE` postfix-cast rewrite + DuckDB-compat function names
  * (VERDICT r7 #2): the reference promises DuckDB SQL on /query
  * (reference README.md:115-133), and its canonical example uses the
  * postfix cast Spark's parser rejects. */
class DuckDialectSpec extends SparkSpec {

  private def rw(s: String) = DuckDialect.rewrite(s)

  test("literal / identifier / dotted-chain primaries") {
    assert(rw("SELECT '2025-04-24'::TIMESTAMP") ==
      "SELECT CAST('2025-04-24' AS TIMESTAMP)")
    assert(rw("SELECT x::INT FROM t") == "SELECT CAST(x AS INT) FROM t")
    assert(rw("SELECT a.b::BIGINT") == "SELECT CAST(a.b AS BIGINT)")
    assert(rw("""SELECT "weird col"::INT""") ==
      """SELECT CAST("weird col" AS INT)""")
    assert(rw("SELECT t.\"c\"::INT") == "SELECT CAST(t.\"c\" AS INT)")
  }

  test("parenthesized / function-call / number primaries; spaced ::") {
    assert(rw("SELECT (x + 1)::VARCHAR") == "SELECT CAST((x + 1) AS STRING)")
    assert(rw("SELECT f(x, y)::HUGEINT") ==
      "SELECT CAST(f(x, y) AS DECIMAL(38,0))")
    assert(rw("SELECT 1.5::DOUBLE") == "SELECT CAST(1.5 AS DOUBLE)")
    assert(rw("SELECT x :: INT") == "SELECT CAST(x AS INT)")
    assert(rw("SELECT arr[1]::INT") == "SELECT CAST(arr[1] AS INT)")
  }

  test("chained casts resolve inner-out") {
    assert(rw("SELECT x::INT::VARCHAR") ==
      "SELECT CAST(CAST(x AS INT) AS STRING)")
  }

  test("strings, comments, and unrecognized shapes are untouched") {
    assert(rw("SELECT 'a::b' AS s") == "SELECT 'a::b' AS s")
    assert(rw("SELECT 'it''s::ok'") == "SELECT 'it''s::ok'")
    val c = "SELECT x -- cast me not: y::INT\nFROM t"
    assert(rw(c) == c)
    val bc = "SELECT /* y::INT */ x FROM t"
    assert(rw(bc) == bc)
    // array-suffix type: Spark spells array casts differently; pass through
    assert(rw("SELECT x::INT[]") == "SELECT x::INT[]")
  }

  test("DuckDB-only type names map to Spark equivalents") {
    assert(rw("SELECT x::VARCHAR(20)") == "SELECT CAST(x AS STRING)")
    assert(rw("SELECT x::TEXT") == "SELECT CAST(x AS STRING)")
    assert(rw("SELECT x::BLOB") == "SELECT CAST(x AS BINARY)")
    assert(rw("SELECT x::UBIGINT") == "SELECT CAST(x AS DECIMAL(20,0))")
    assert(rw("SELECT x::DECIMAL(10,2)") == "SELECT CAST(x AS DECIMAL(10,2))")
    assert(rw("SELECT x::REAL") == "SELECT CAST(x AS FLOAT)")
  }

  test("read_parquet/read_json table functions map to Spark direct-path reads") {
    assert(rw("SELECT * FROM read_parquet('/data/t.parquet')") ==
      "SELECT * FROM parquet.`/data/t.parquet`")
    assert(rw("SELECT * FROM read_parquet(['/a.parquet', '/b.parquet'])") ==
      "SELECT * FROM parquet.`/{a.parquet,b.parquet}`")
    assert(rw("SELECT * FROM read_parquet(ARRAY['/a.parquet', '/b.parquet'])") ==
      "SELECT * FROM parquet.`/{a.parquet,b.parquet}`")
    assert(rw("SELECT * FROM read_json_auto('/d.json')") ==
      "SELECT * FROM json.`/d.json`")
    // inside a string: untouched
    assert(rw("SELECT 'read_parquet(''x'')'") == "SELECT 'read_parquet(''x'')'")
    // composes with the cast rewrite in one call
    assert(rw("SELECT v::INT FROM read_parquet('/t.parquet')") ==
      "SELECT CAST(v AS INT) FROM parquet.`/t.parquet`")
  }

  test("read_parquet option args: the reference's own merge-SQL spelling rewrites") {
    // reference merge_service_fs.go:214-217 — honor-or-bail per option
    val r = DuckDialect.rewriteInfo(
      "SELECT * FROM read_parquet(ARRAY['/a.parquet','/b.parquet'], " +
        "hive_partitioning = false, union_by_name = true)",
      fetchRemote = false)
    assert(r.sql == "SELECT * FROM parquet.`/{a.parquet,b.parquet}`")
    assert(r.confs == Map("spark.sql.parquet.mergeSchema" -> "true"))
    // single-path form with options
    val s1 = DuckDialect.rewriteInfo(
      "SELECT * FROM read_parquet('/a.parquet', union_by_name=true)",
      fetchRemote = false)
    assert(s1.sql == "SELECT * FROM parquet.`/a.parquet`")
    assert(s1.confs.nonEmpty)
    // options Spark's direct path can NOT honor: whole call untouched
    val f = "SELECT * FROM read_parquet('/a.parquet', filename=true)"
    assert(rw(f) == f)
    val hp = "SELECT * FROM read_parquet('/a.parquet', hive_partitioning=true)"
    assert(rw(hp) == hp)
    // glob metachars in a LIST path would corrupt the {a,b} join (ADVICE
    // r8): untouched; a single-path glob still passes through verbatim
    val g = "SELECT * FROM read_parquet(['/a{1}.parquet', '/b.parquet'])"
    assert(rw(g) == g)
    assert(rw("SELECT * FROM read_parquet('/data/*.parquet')") ==
      "SELECT * FROM parquet.`/data/*.parquet`")
  }

  test("read_parquet_mergetree: the reference's k-way merge spelling") {
    // reference merge_service_fs.go:265-268 — sorted-run merge becomes
    // the sorted union (Spark's sort is an external merge sort)
    assert(rw("COPY(SELECT * FROM read_parquet_mergetree(ARRAY['/a.parquet','/b.parquet'], 'ts,id'))")
      .contains("(SELECT * FROM parquet.`/{a.parquet,b.parquet}` ORDER BY `ts`, `id`)"))
    assert(rw("SELECT * FROM read_parquet_mergetree(['/a.parquet'], 'k')") ==
      "SELECT * FROM (SELECT * FROM parquet.`/a.parquet` ORDER BY `k`)")
    // missing order arg: not the reference shape — leave untouched
    val bad = "SELECT * FROM read_parquet_mergetree(ARRAY['/a.parquet'])"
    assert(rw(bad) == bad)
  }

  test("read_parquet_mergetree reads + sorts through Spark") {
    val d1 = java.nio.file.Files.createTempDirectory("mt1-").toString
    val d2 = java.nio.file.Files.createTempDirectory("mt2-").toString
    import spark.implicits._
    Seq((3L, "c"), (1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(d1)
    Seq((2L, "b")).toDF("id", "s").write.mode("overwrite").parquet(d2)
    val rows = spark.sql(rw(
      s"SELECT id FROM read_parquet_mergetree(ARRAY['$d1','$d2'], 'id')"))
      .collect().map(_.getLong(0))
    assert(rows.sorted.sameElements(Array(1L, 2L, 3L)))
  }

  test("star EXCLUDE maps to Spark's native EXCEPT (VERDICT r9 #4)") {
    assert(rw("SELECT * EXCLUDE (a, b) FROM t") ==
      "SELECT * EXCEPT (a, b) FROM t")
    assert(rw("SELECT * EXCLUDE a FROM t") == "SELECT * EXCEPT (a) FROM t")
    assert(rw("SELECT t.* EXCLUDE (a) FROM t") ==
      "SELECT t.* EXCEPT (a) FROM t")
    assert(rw("SELECT count(*), * EXCLUDE (b) FROM t GROUP BY ALL") ==
      "SELECT count(*), * EXCEPT (b) FROM t GROUP BY ALL")
    // multiplication by a column NAMED exclude is not a star expression
    assert(rw("SELECT a * exclude FROM t") == "SELECT a * exclude FROM t")
    // and the word inside a string literal is untouched
    assert(rw("SELECT '* EXCLUDE (a)' AS s") == "SELECT '* EXCLUDE (a)' AS s")
  }

  test("QUALIFY rewrites to the ranked subquery Spark can run (VERDICT r9 #4)") {
    assert(rw("SELECT k, v FROM t QUALIFY row_number()" +
      " OVER (PARTITION BY k ORDER BY v) = 1") ==
      "SELECT * EXCEPT (__graft_qualify) FROM (SELECT k, v, (row_number()" +
        " OVER (PARTITION BY k ORDER BY v) = 1) AS __graft_qualify" +
        " FROM t) __graft_qualified WHERE __graft_qualify")
    // the ORDER BY/LIMIT tail stays on the OUTER query (QUALIFY applies
    // before both, DuckDB's evaluation order); an ORDER BY inside
    // OVER (…) is depth>=1 and never mistaken for the tail
    assert(rw("SELECT k FROM t QUALIFY rank() OVER (ORDER BY k) <= 2" +
      " ORDER BY k LIMIT 1") ==
      "SELECT * EXCEPT (__graft_qualify) FROM (SELECT k, (rank()" +
        " OVER (ORDER BY k) <= 2) AS __graft_qualify FROM t)" +
        " __graft_qualified WHERE __graft_qualify ORDER BY k LIMIT 1")
    // a leading WITH survives outside the wrap
    assert(rw("WITH c AS (SELECT 1 AS k) SELECT k FROM c" +
      " QUALIFY row_number() OVER (ORDER BY k) = 1") ==
      "WITH c AS (SELECT 1 AS k) SELECT * EXCEPT (__graft_qualify) FROM" +
        " (SELECT k, (row_number() OVER (ORDER BY k) = 1) AS __graft_qualify" +
        " FROM c) __graft_qualified WHERE __graft_qualify")
    // bounded on purpose: DISTINCT and set operations stay unrewritten
    // (the parser rejects the raw QUALIFY loudly instead of this shim
    // guessing semantics)
    val distinct = "SELECT DISTINCT k FROM t QUALIFY row_number()" +
      " OVER (ORDER BY k) = 1"
    assert(rw(distinct) == distinct)
    val setop = "SELECT k FROM a UNION ALL SELECT k FROM b" +
      " QUALIFY row_number() OVER (ORDER BY k) = 1"
    assert(rw(setop) == setop)
    // a subquery's own internal QUALIFY keyword at depth>=1 in the
    // FROM does not trigger the top-level rewrite path twice
    assert(rw("SELECT 'QUALIFY x' AS s FROM t") == "SELECT 'QUALIFY x' AS s FROM t")
    // an identifier merely NAMED qualify (alias position) is never
    // touched — the statement was valid Spark SQL before the rewrite
    // existed (review r10)
    val alias1 = "SELECT a FROM t qualify WHERE a > 0"
    assert(rw(alias1) == alias1)
    val alias2 = "SELECT a FROM t qualify JOIN u ON qualify.a = u.a"
    assert(rw(alias2) == alias2)
    val alias3 = "SELECT q.a FROM t qualify, u WHERE a > 0"
    assert(rw(alias3) == alias3)
    // QUALIFY on a NON-LAST set-op branch: the set op lands in the
    // would-be predicate — bail, never emit mangled generated SQL
    val headBranch = "SELECT k FROM a QUALIFY row_number()" +
      " OVER (ORDER BY k) = 1 UNION ALL SELECT k FROM b"
    assert(rw(headBranch) == headBranch)
  }

  test("FROM-first shorthand becomes SELECT * (VERDICT r9 what's-missing #1)") {
    assert(rw("FROM t") == "SELECT * FROM t")
    assert(rw("FROM t WHERE a > 0 LIMIT 5") ==
      "SELECT * FROM t WHERE a > 0 LIMIT 5")
    assert(rw("from read_parquet('/x.parquet') limit 3") ==
      "SELECT * from parquet.`/x.parquet` limit 3")
    // a later top-level SELECT means DuckDB clause reordering — leave
    // it for the parser rather than guessing
    val reorder = "FROM t SELECT a, b"
    assert(rw(reorder) == reorder)
    // subquery SELECTs don't block the rewrite
    assert(rw("FROM (SELECT 1 AS a)") == "SELECT * FROM (SELECT 1 AS a)")
    // non-leading FROM is untouched
    assert(rw("SELECT * FROM t") == "SELECT * FROM t")
  }

  test("QUALIFY + EXCLUDE execute end-to-end through spark.sql") {
    import spark.implicits._
    Seq(("a", 1L), ("a", 3L), ("b", 2L)).toDF("k", "v")
      .createOrReplaceTempView("dlx")
    val top = spark.sql(rw("SELECT k, v FROM dlx QUALIFY row_number()" +
      " OVER (PARTITION BY k ORDER BY v DESC) = 1 ORDER BY k"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(top.toSeq == Seq(("a", 3L), ("b", 2L)))
    val ex = spark.sql(rw("SELECT * EXCLUDE v FROM dlx"))
    assert(ex.columns.toSeq == Seq("k"))
    // GROUP BY ALL needs no rewrite — Spark 4 parses it natively; pin
    // that the shim leaves it alone and it runs
    val gba = "SELECT k, count(*) AS c FROM dlx GROUP BY ALL"
    assert(rw(gba) == gba)
    assert(spark.sql(gba).collect().map(r => (r.getString(0), r.getLong(1)))
      .toMap == Map("a" -> 2L, "b" -> 1L))
  }

  test("dialectGap names the surface for known-unmapped functions (VERDICT r9 #5)") {
    assert(DuckDialect.dialectGap("farmHash64") == Some("chsql/ClickHouse"))
    assert(DuckDialect.dialectGap("`farmHash64`") == Some("chsql/ClickHouse"))
    // r15 mapped the 128-bit sip pair — off the gap list
    assert(DuckDialect.dialectGap("sipHash128") == None)
    assert(DuckDialect.dialectGap("sipHash128Reference") == None)
    assert(DuckDialect.dialectGap("generate_subscripts") == Some("DuckDB"))
    assert(DuckDialect.dialectGap("definitely_not_a_function") == None)
    // mapped names never appear in the gap list (len IS registered)
    assert(DuckDialect.dialectGap("len") == None)
    // the r12 tiers fell OFF the gap list when they got mapped
    Seq("formatDateTime", "toStartOfInterval", "toWeek", "toISOWeek",
      "toMonday", "read_csv", "read_csv_auto", "generate_series", "unnest",
      "string_agg", "group_concat", "arg_min", "arg_max", "list_sort",
      "list_reverse_sort", "parseDateTimeBestEffort", "read_ndjson",
      "list_aggregate", "list_value", "list_unique", "arrayMap", "arrayJoin",
      "multiSearchAny", "netloc", "cutWWW", "firstSignificantSubdomain",
      "decodeURLComponent", "extractAll", "JSONLength", "uniqCombined",
      "quantiles", "toISOYear", "timeSlot", "toIPv4",
      // r13: the CH hash family + IPv6 conversions got bit-exact kernels
      "cityHash64", "sipHash64", "halfMD5", "intHash32", "intHash64",
      "URLHash", "IPv6StringToNum", "IPv6NumToString", "toIPv6",
      "isIPv6String", "ngramDistance", "ngramSearch",
      // r14: dateSub via the pre-parse token rewrite; the raw-JSON trio
      // via the span-preserving scanner expressions; bar/roundToExp2/
      // intExp10 as native builders
      "dateSub", "JSONExtractRaw", "JSONExtractArrayRaw", "JSONType",
      "bar", "roundToExp2", "intExp10")
      .foreach(n =>
      assert(DuckDialect.dialectGap(n) == None, s"$n still on the gap list"))
    // structural: the gap list and the registry must stay DISJOINT —
    // a registered name in the list would never fire (dialectGap only
    // consults on UNRESOLVED_ROUTINE) but misdocuments the surface
    val ghosts = graft.functions.GraftFunctions.builders.map(_._1)
      .filter(n => DuckDialect.dialectGap(n).nonEmpty)
    assert(ghosts.isEmpty, s"registered names in the gap list: $ghosts")
  }

  test("rewriteInfo defers remote fetches and lists the URLs") {
    val u = "https://example.invalid/x.parquet"
    val dry = DuckDialect.rewriteInfo(
      s"SELECT * FROM read_parquet('$u')", fetchRemote = false)
    // no fetch happened (example.invalid would throw); the dry pass
    // emits the DETERMINISTIC cache path the fetching pass will use,
    // so parse-validation sees the final text
    val cached = graft.sources.HttpParquet.defaultCacheDir
      .resolve(graft.sources.HttpParquet.cacheKey(u)).toString
    assert(dry.sql == s"SELECT * FROM parquet.`$cached`")
    assert(dry.remoteUrls == Seq(u))
  }

  test("splitStatements / isExtensionNoOp: the published benchmark shape") {
    // reference BENCHMARK.md:11 leads its query with `LOAD parquet;`
    assert(DuckDialect.splitStatements("LOAD parquet; SELECT 1") ==
      Seq("LOAD parquet", "SELECT 1"))
    assert(DuckDialect.splitStatements("SELECT ';' AS x; SELECT 2;") ==
      Seq("SELECT ';' AS x", "SELECT 2"))
    assert(DuckDialect.splitStatements("-- c;\nSELECT 1") == Seq("-- c;\nSELECT 1"))
    assert(DuckDialect.isExtensionNoOp("LOAD chsql"))
    assert(DuckDialect.isExtensionNoOp("INSTALL chsql FROM community"))
    assert(DuckDialect.isExtensionNoOp("PRAGMA memory_limit='1GB'"))
    assert(DuckDialect.isExtensionNoOp("FORCE INSTALL chsql"))
    assert(!DuckDialect.isExtensionNoOp("SELECT 1"))
    assert(!DuckDialect.isExtensionNoOp("SET spark.sql.ansi.enabled=true"))
    // Spark's own Hive-style LOAD DATA must not silently no-op
    assert(!DuckDialect.isExtensionNoOp("LOAD DATA INPATH '/x' INTO TABLE t"))
    // DuckDB's quoted-path form still does
    assert(DuckDialect.isExtensionNoOp("LOAD './chsql.duckdb_extension'"))
    // ... and the double-quoted-IDENTIFIER form (valid DuckDB; lexes as
    // QIdent, which the Word|Str narrowing regressed once)
    assert(DuckDialect.isExtensionNoOp("LOAD \"httpfs\""))
  }

  test("CREATE SECRET maps to fs.s3a.* (reference merge_service_s3.go:94-118)") {
    val sec = DuckDialect.parseSecret(
      """CREATE SECRET (
        |  TYPE S3,
        |  KEY_ID 'k',
        |  SECRET 's',
        |  ENDPOINT 'minio:9000',
        |  USE_SSL false,
        |  URL_STYLE 'path'
        |)""".stripMargin).get
    assert(sec == Map(
      "fs.s3a.access.key" -> "k", "fs.s3a.secret.key" -> "s",
      "fs.s3a.endpoint" -> "minio:9000",
      "fs.s3a.connection.ssl.enabled" -> "false",
      "fs.s3a.path.style.access" -> "true"))
    // scoped secret → Hadoop's per-bucket override namespace
    val sc = DuckDialect.parseSecret(
      "CREATE SECRET mysec (TYPE S3, KEY_ID 'k', SECRET 's', SCOPE 's3://bkt/pre')").get
    assert(sc("fs.s3a.bucket.bkt.access.key") == "k")
    assert(sc("fs.s3a.bucket.bkt.secret.key") == "s")
    // bare-word VALUES keep their case — credentials are case-sensitive
    // (only keys and booleans normalize)
    val bare = DuckDialect.parseSecret(
      "CREATE SECRET (TYPE S3, KEY_ID AKIAIOSFODNN7, SECRET x9Fz, USE_SSL TRUE)").get
    assert(bare("fs.s3a.access.key") == "AKIAIOSFODNN7")
    assert(bare("fs.s3a.secret.key") == "x9Fz")
    assert(bare("fs.s3a.connection.ssl.enabled") == "true")
    // non-secret statements pass through as None
    assert(DuckDialect.parseSecret("SELECT 1").isEmpty)
    assert(DuckDialect.parseSecret("CREATE TABLE t (a INT)").isEmpty)
    // unmappable TYPE fails loudly, not silently
    intercept[IllegalArgumentException](
      DuckDialect.parseSecret("CREATE SECRET (TYPE AZURE, KEY_ID 'k')"))
  }

  test("read_parquet actually reads through Spark") {
    val dir = java.nio.file.Files.createTempDirectory("duckrp-").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val out = spark.sql(rw(s"SELECT count(*) AS c FROM read_parquet('$dir')"))
      .collect().head.getLong(0)
    assert(out == 2L)
  }

  test("rewritten SQL actually runs on Spark") {
    val r = spark.sql(rw(
      "SELECT 42::VARCHAR AS s, '7'::INT2 AS i, epoch_ns('2025-04-24T00:00:00'::TIMESTAMP) AS ns"))
      .collect().head
    assert(r.getString(0) == "42")
    assert(r.getShort(1) == 7.toShort)
    assert(r.getLong(2) > 0L)
  }

  test("DuckDB-compat function names run as native expressions") {
    def one(sql: String): Any = spark.sql(s"SELECT $sql AS v").collect().head.get(0)
    assert(one("len('abcd')") == 4L)
    assert(one("len(array(1, 2, 3))") == 3L)
    assert(one("string_split('a.b.c', '.')") ==
      Seq("a", "b", "c")) // plain separator, not regex-any-char
    assert(one("string_split_regex('a1b22c', '[0-9]+')") == Seq("a", "b", "c"))
    assert(one("regexp_matches('graft', 'ra.t')") == true)
    assert(one("list_contains(array(1, 2), 2)") == true)
    assert(one("list_distinct(array(1, 1, 2))") == Seq(1, 2))
    assert(one("strftime(TIMESTAMP '2025-04-24 01:02:03', '%Y-%m-%dT%H:%M:%S')") ==
      "2025-04-24T01:02:03")
    assert(one("strftime(TIMESTAMP '2025-04-03 00:00:00', '%-d/%-m/%y')") == "3/4/25")
    // adjacent literal LETTERS must quote as one run: per-character
    // quoting emitted '' between them, which DateTimeFormatter reads as
    // an embedded apostrophe ("%d on %Y" once rendered "24 o'n 2025")
    assert(one("strftime(TIMESTAMP '2025-04-24 00:00:00', '%d on %Y')") ==
      "24 on 2025")
    assert(one("epoch(strptime('24/04 on 2025', '%d/%m on %Y'))") ==
      one("epoch(TIMESTAMP '2025-04-24 00:00:00')"))
    assert(one("epoch(TIMESTAMP '1970-01-01 00:01:00')") == 60L)
    assert(one("epoch_ms(TIMESTAMP '1970-01-01 00:01:00')") == 60000L)
    assert(one("epoch_us(TIMESTAMP '1970-01-01 00:01:00')") == 60000000L)
    assert(one("epoch_ms(strptime('24/04/2025 00:00:00', '%d/%m/%Y %H:%M:%S'))") ==
      one("epoch_ms(TIMESTAMP '2025-04-24 00:00:00')"))
  }

  test("shingles/ngrams arity + integral-literal validation (ADVICE r7)") {
    def fails(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(s"SELECT $sql").collect())
      def all(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: all(t.getCause)
      assert(all(e).exists(m => m != null && m.contains(frag)),
        s"expected '$frag' in: ${all(e)}")
    }
    fails("shingles('a b c')", "expected 2 arguments")
    fails("shingles('a b c', 2, 3)", "expected 2 arguments")
    fails("shingles('a b c', 2.5)", "must be a literal integer")
    fails("ngrams(array('a'), 2.5)", "must be a literal integer")
    // the valid shapes still work
    assert(spark.sql("SELECT shingles('a b c d', 3) AS v").collect()
      .head.getSeq[String](0).nonEmpty)
  }

  // ---- r12 tier (VERDICT r10 #5): FROM-position table functions ----

  test("FROM generate_series rewrites to the explode subquery and runs") {
    val r = rw("SELECT * FROM generate_series(1, 5)")
    assert(r.contains("explode(sequence(1, 5))") && r.contains("AS generate_series"))
    assert(spark.sql(r).collect().map(_.getInt(0)).toSeq == (1 to 5))
    // step form, inclusive bounds (DuckDB semantics = Spark sequence)
    assert(spark.sql(rw("SELECT * FROM generate_series(1, 10, 3)"))
      .collect().map(_.getInt(0)).toSeq == Seq(1, 4, 7, 10))
    // trailing alias survives; JOIN position rewrites too
    val j = rw("SELECT t.generate_series FROM generate_series(1, 2) t")
    assert(spark.sql(j).collect().length == 2)
    // SELECT-position generate_series is the scalar list — NOT rewritten
    val sel = "SELECT generate_series(1, 3) AS g"
    assert(rw(sel) == sel)
    assert(spark.sql(sel).collect().head.getSeq[Int](0) == Seq(1, 2, 3))
    // generate_subscripts(arr, 1) = 1-based positions; dim != 1 bails
    assert(spark.sql(rw("SELECT * FROM generate_subscripts(array('a','b','c'), 1)"))
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val multi = "SELECT * FROM generate_subscripts(array(1), 2)"
    assert(rw(multi) == multi)
  }

  test("FROM unnest rewrites; SELECT-position unnest explodes natively") {
    val r = rw("SELECT * FROM unnest(array(7, 8, 9))")
    assert(r.contains("explode(array(7, 8, 9)) AS unnest"))
    assert(spark.sql(r).collect().map(_.getInt(0)).toSeq == Seq(7, 8, 9))
    // SELECT position: the registered builder returns Explode and the
    // analyzer lifts it; needs no text rewrite
    val sel = "SELECT unnest(array('a', 'b')) AS u"
    assert(rw(sel) == sel)
    assert(spark.sql(sel).collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    // a column merely NAMED unnest/generate_series in scalar position
    // is untouched (no FROM/JOIN before it)
    assert(rw("SELECT unnest + 1 FROM t") == "SELECT unnest + 1 FROM t")
  }

  test("read_csv/read_csv_auto map to a sniffing global-temp view (VERDICT r10 #5)") {
    val dir = java.nio.file.Files.createTempDirectory("csvdlx")
    val f = dir.resolve("people.csv")
    java.nio.file.Files.write(f,
      "name,age\nalice,31\nbob,47\n".getBytes("UTF-8"))
    val info = DuckDialect.rewriteInfo(
      s"SELECT name, age FROM read_csv_auto('$f') ORDER BY age",
      fetchRemote = true)
    assert(info.csvViews.size == 1)
    val v = info.csvViews.head
    assert(info.sql.contains(s"global_temp.`${v.name}`"))
    assert(v.sniffHeader) // no header option: sniffed
    graft.sources.CsvReads.ensure(spark, info.csvViews)
    val rows = spark.sql(info.sql).collect()
    // header sniffed (all first-line fields non-numeric) + types inferred
    assert(rows.map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("alice", 31), ("bob", 47)))
    // the view is GLOBAL: a fresh child session (the /query execution
    // path, QueryViews.sqlFor's newSession) sees it
    assert(spark.newSession().sql(info.sql).collect().length == 2)

    // headerless numeric file: sniff says no header, columns are _c0...
    // (quoted numerals count as data too — DuckDB unquotes before the
    // type test)
    val g = dir.resolve("nums.csv")
    java.nio.file.Files.write(g, "\"1\",2\n\"3\",4\n".getBytes("UTF-8"))
    val i2 = DuckDialect.rewriteInfo(
      s"SELECT * FROM read_csv('$g')", fetchRemote = true)
    graft.sources.CsvReads.ensure(spark, i2.csvViews)
    val r2 = spark.sql(i2.sql).collect()
    assert(r2.length == 2 && r2.head.schema.fieldNames.head == "_c0")

    // honored options: explicit header + delimiter + all_varchar
    val h = dir.resolve("pipe.csv")
    java.nio.file.Files.write(h, "x|y\n10|20\n".getBytes("UTF-8"))
    val i3 = DuckDialect.rewriteInfo(
      s"SELECT * FROM read_csv('$h', header = true, delim = '|', all_varchar = true)",
      fetchRemote = true)
    assert(i3.csvViews.head.options("sep") == "|")
    assert(i3.csvViews.head.options("inferSchema") == "false")
    assert(!i3.csvViews.head.sniffHeader)
    graft.sources.CsvReads.ensure(spark, i3.csvViews)
    val r3 = spark.sql(i3.sql).collect()
    assert(r3.head.schema.fieldNames.toSeq == Seq("x", "y"))
    assert(r3.head.getString(0) == "10") // all_varchar: no inference

    // un-honorable option: the call stays untouched for a loud error
    val bail = s"SELECT * FROM read_csv('$f', skip = 2)"
    assert(rw(bail) == bail)

    // ... byte-identical INCLUDING bracket lists in later arguments
    // (ADVICE r12: span ownership, not just path position) — while a
    // bracket OUTSIDE the bailed call still rewrites
    val bail2 = s"SELECT * FROM read_csv('$f', names=['a','b'])"
    assert(rw(bail2) == bail2)
    val mixed = s"SELECT [1,2] AS xs FROM read_csv('$f', names=['a'])"
    assert(rw(mixed) ==
      s"SELECT array(1,2) AS xs FROM read_csv('$f', names=['a'])")
  }

  test("dialect features compose in one statement (casts + csv + QUALIFY + EXCLUDE + series)") {
    val dir = java.nio.file.Files.createTempDirectory("csvmix")
    val f = dir.resolve("sales.csv")
    java.nio.file.Files.write(f,
      "region,amt\neast,10\neast,30\nwest,20\nwest,5\n".getBytes("UTF-8"))
    // a migrating DuckDB user's everyday shape: file fn + postfix cast +
    // QUALIFY + EXCLUDE in ONE statement
    val info = DuckDialect.rewriteInfo(
      s"""SELECT * EXCLUDE (rnk) FROM (
         |  SELECT region, amt::BIGINT AS amt2,
         |         row_number() OVER (PARTITION BY region ORDER BY amt DESC) AS rnk
         |  FROM read_csv_auto('$f')
         |) t WHERE rnk = 1 ORDER BY region""".stripMargin,
      fetchRemote = true)
    graft.sources.CsvReads.ensure(spark, info.csvViews)
    val rows = spark.sql(info.sql).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("east", 30L), ("west", 20L)))
    // generate_series composing with a join and a cast in FROM position
    val j = DuckDialect.rewrite(
      "SELECT g.generate_series * 2 AS d FROM generate_series(1, 3) g " +
        "WHERE g.generate_series::INT > 1 ORDER BY d")
    assert(spark.sql(j).collect().map(_.getInt(0)).toSeq == Seq(4, 6))
    // statement-list acceptance still splits around the csv rewrite
    val stmts = DuckDialect.splitStatements(
      s"LOAD parquet; SELECT count() FROM read_csv('$f')")
    assert(stmts.length == 2 && DuckDialect.isExtensionNoOp(stmts.head))
    val cnt = DuckDialect.rewriteInfo(stmts(1), fetchRemote = true)
    graft.sources.CsvReads.ensure(spark, cnt.csvViews)
    assert(spark.sql(cnt.sql).collect().head.getLong(0) == 4L)
  }

  test("struct_pack named-argument syntax rewrites to named_struct (r12)") {
    val r = rw("SELECT struct_pack(a := 1, b := 'x') AS s")
    assert(r == "SELECT named_struct('a', 1, 'b', 'x') AS s", r)
    val row = spark.sql(r).collect().head.getStruct(0)
    assert(row.getInt(0) == 1 && row.getString(1) == "x")
    // nested calls and nested parens in values resolve across fixpoint
    // iterations
    val n = rw("SELECT struct_pack(p := struct_pack(q := least(1, 2)), r := 3) AS s")
    assert(n.contains("named_struct('p', named_struct('q', least(1, 2)), 'r', 3)"), n)
    val nrow = spark.sql(n).collect().head.getStruct(0)
    assert(nrow.getStruct(0).getInt(0) == 1 && nrow.getInt(1) == 3)
    // quoted field names survive; quotes in names escape into the literal
    assert(rw("SELECT struct_pack(\"my field\" := 7) AS s")
      .contains("named_struct('my field', 7)"))
    // malformed shapes stay untouched for the parser's own error
    val bad = "SELECT struct_pack(a = 1) AS s"
    assert(rw(bad) == bad)
    // a scalar arrayCumSum companion check (same r12 batch)
    assert(spark.sql("SELECT arrayCumSum(array(1, 2, 3)) AS v")
      .collect().head.getSeq[Int](0) == Seq(1, 3, 6))
    assert(spark.sql("SELECT arrayCumSum(array(1.5d, 0.5d)) AS v")
      .collect().head.getSeq[Double](0) == Seq(1.5, 2.0))
  }

  test("CH 3-arg dateAdd/dateSub rewrite to timestampadd (VERDICT r13 #2)") {
    assert(rw("SELECT dateAdd(YEAR, 2, ts) FROM t") ==
      "SELECT timestampadd(YEAR, 2, ts) FROM t")
    // unit keyword is case-insensitive and re-emitted uppercased; the
    // sub direction negates the (parenthesized) quantity expression
    assert(rw("SELECT dateSub(day, 3, now())") ==
      "SELECT timestampadd(DAY, -(3), now())")
    assert(rw("SELECT date_sub(month, n + 1, x) AS d") ==
      "SELECT timestampadd(MONTH, -(n + 1), x) AS d")
    // nested calls resolve across fixpoint iterations; inner commas sit
    // at depth > 0 and never split the outer argument spans
    assert(rw("SELECT dateSub(WEEK, 1 + 1, dateAdd(HOUR, 5, x)) AS d") ==
      "SELECT timestampadd(WEEK, -(1 + 1), timestampadd(HOUR, 5, x)) AS d")
    // untouched shapes, each for its own loud path: Spark's native
    // 2-arg day-shift forms, DuckDB's QUOTED-part completed-partition
    // count (a different function), 4-arg, the CH-only nanosecond
    // unit, member access, and a bare column literally named dateSub
    Seq("SELECT date_add(d, 3) FROM t",
        "SELECT date_sub(d, 3) FROM t",
        "SELECT date_sub('month', a, b) FROM t",
        "SELECT dateAdd(YEAR, 2, x, y)",
        "SELECT dateSub(nanosecond, 1, x)",
        "SELECT s.dateAdd(day, 1, x)",
        "SELECT dateSub FROM t").foreach(q => assert(rw(q) == q, q))
    // executes end-to-end through spark.sql
    val row = spark.sql(rw(
      "SELECT dateAdd(MONTH, 2, TIMESTAMP '2024-01-15 00:00:00') AS a, " +
        "dateSub(DAY, 3, DATE '2024-03-10') AS b")).collect().head
    assert(row.getTimestamp(0).toString.startsWith("2024-03-15"))
    assert(row.getTimestamp(1).toString.startsWith("2024-03-07"))
  }

  test("bracket list literals rewrite; subscripts stay verbatim (r12)") {
    // expression-position literals become array(...)
    assert(rw("SELECT [1, 2, 3] AS v") == "SELECT array(1, 2, 3) AS v")
    assert(rw("SELECT ARRAY[1, 2] AS v") == "SELECT array(1, 2) AS v")
    assert(spark.sql(rw("SELECT [1, 2, 3] AS v")).collect()
      .head.getSeq[Int](0) == Seq(1, 2, 3))
    // nested literals resolve across fixpoint iterations
    val n = rw("SELECT [[1], [2, 3]] AS v")
    assert(n == "SELECT array(array(1), array(2, 3)) AS v", n)
    // the everyday migrating-user shape end-to-end
    assert(spark.sql(rw("SELECT unnest([7, 8]) AS u")).collect()
      .map(_.getInt(0)).toSeq == Seq(7, 8))
    assert(spark.sql(rw("SELECT * FROM unnest([4, 5])")).collect()
      .map(_.getInt(0)).toSeq == Seq(4, 5))
    assert(spark.sql(rw("SELECT list_contains([1, 2], 2) AS v")).collect()
      .head.getBoolean(0))
    // SUBSCRIPT positions are untouched: previously-valid Spark SQL
    // (0-based brackets) must keep meaning what it meant
    Seq("SELECT arr[0] FROM t", "SELECT f(x)[1] FROM t",
      "SELECT t.arr[2] FROM t", "SELECT map('a', 1)['a']").foreach(q =>
      assert(rw(q) == q, q))
    // read_parquet's own bracket list still goes through the table-fn
    // rewrite, not the literal rule
    val tf = rw("SELECT * FROM read_parquet(['/tmp/a.parquet', '/tmp/b.parquet'])")
    assert(tf.contains("parquet.`") && !tf.contains("array("), tf)
    // empty literal
    assert(rw("SELECT [] AS v") == "SELECT array() AS v")
  }

  test("read_csv honors nullstr / ignore_errors / dateformat options") {
    val dir = java.nio.file.Files.createTempDirectory("csvopt")
    val f = dir.resolve("o.csv")
    java.nio.file.Files.write(f,
      "k,v,d\na,NA,01.02.2024\nb,7,03.04.2024\n".getBytes("UTF-8"))
    val info = DuckDialect.rewriteInfo(
      s"SELECT k, v, d FROM read_csv('$f', nullstr = 'NA', " +
        "dateformat = 'dd.MM.yyyy') ORDER BY k", fetchRemote = true)
    assert(info.csvViews.head.options("nullValue") == "NA")
    assert(info.csvViews.head.options("dateFormat") == "dd.MM.yyyy")
    graft.sources.CsvReads.ensure(spark, info.csvViews)
    val rows = spark.sql(info.sql).collect()
    assert(rows(0).isNullAt(1)) // 'NA' read as NULL
    assert(rows(1).getInt(1) == 7)
    assert(rows(0).getDate(2).toString == "2024-02-01") // dateformat honored
    // ignore_errors=true maps to DROPMALFORMED: the short row drops
    val g = dir.resolve("bad.csv")
    java.nio.file.Files.write(g,
      "a,b\n1,2\nmalformed\n3,4\n".getBytes("UTF-8"))
    val i2 = DuckDialect.rewriteInfo(
      s"SELECT * FROM read_csv('$g', header = true, ignore_errors = true, " +
        "all_varchar = true)", fetchRemote = true)
    assert(i2.csvViews.head.options("mode") == "DROPMALFORMED")
    graft.sources.CsvReads.ensure(spark, i2.csvViews)
    assert(spark.sql(i2.sql).collect().length == 2)
  }

  test("read_csv re-registers when the file changes (stat fingerprint)") {
    val dir = java.nio.file.Files.createTempDirectory("csvdlx2")
    val f = dir.resolve("data.csv")
    java.nio.file.Files.write(f, "k,v\na,1\n".getBytes("UTF-8"))
    val info = DuckDialect.rewriteInfo(
      s"SELECT * FROM read_csv_auto('$f')", fetchRemote = true)
    graft.sources.CsvReads.ensure(spark, info.csvViews)
    assert(spark.sql(info.sql).collect().length == 1)
    java.nio.file.Files.write(f, "k,v\na,1\nb,2\n".getBytes("UTF-8"))
    f.toFile.setLastModified(System.currentTimeMillis() + 2000)
    graft.sources.CsvReads.ensure(spark, info.csvViews)
    assert(spark.sql(info.sql).collect().length == 2)
  }
}
