package graft

/** `--stdin` SQL bootstrap (reference stdin/init.go:15-49, N30): read SQL
  * from stdin, execute statement-by-statement against a graft session,
  * print each result as the reference's `{"results":[...]}` JSON, exit.
  * The reference uses this in its Docker build to pre-install extensions;
  * here it doubles as a handy one-shot SQL runner:
  *
  *   echo "SELECT 1 AS x" | sbt "runMain graft.SqlBootstrap /path/to/root"
  */
object SqlBootstrap {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-sql-bootstrap")
    Tables.init(spark)
    try run(spark, args.headOption.getOrElse("."), scala.io.Source.stdin.mkString)
    finally spark.stop()
  }

  /** Execute `sql` statement by statement against the lakehouse at
    * `root`, printing each result to stdout. */
  private[graft] def run(spark: org.apache.spark.sql.SparkSession, root: String,
                         sql: String): Unit = {
    val catalog = new graft.catalog.TableCatalog(root)
    // same views as an unscoped /query (FileIndex-backed), so result
    // schemas — e.g. partition column types — match the HTTP surface
    new graft.pruning.QueryViews(spark, catalog).registerOn(spark, None, "default"): Unit
    // statement split on ';' outside quotes (reference splits on ';')
    splitStatements(sql).foreach { stmt =>
      // same DuckDB-dialect acceptance as /query: `expr::TYPE` casts,
      // LOAD/INSTALL/PRAGMA no-ops (the reference's Docker build sends
      // `INSTALL chsql; LOAD chsql;` through exactly this surface,
      // reference stdin/init.go), CREATE SECRET → fs.s3a.* conf
      import graft.server.DuckDialect
      if (DuckDialect.isExtensionNoOp(stmt)) ()
      else DuckDialect.parseSecret(stmt) match {
        case Some(confs) =>
          // same conflict guard as /query (ADVICE r9): a bootstrap
          // script's later secret must not silently swap an earlier
          // table's configured credentials/endpoint
          graft.sources.ObjectStore.applySecretConfs(spark, confs)
        case None =>
          val rw = DuckDialect.rewriteInfo(stmt, fetchRemote = true)
          // read_csv views ride the global temp catalog, same as /query
          graft.sources.CsvReads.ensure(spark, rw.csvViews)
          // rewrite-required confs (mergeSchema) are scoped to THIS
          // statement — the session is shared, and a leaked conf would
          // silently change every later read's schema semantics (the
          // same reason /query runs them on a private session)
          val prior = rw.confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
          rw.confs.foreach { case (k, v) => spark.conf.set(k, v) }
          try println(graft.server.JsonOut.results(spark.sql(rw.sql), 10000))
          finally prior.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
      }
    }
  }

  /** Delegates to the dialect shim's lexer-based splitter (one
    * definition of "top-level `;`"): the previous char-scanner here
    * split inside comments (`-- setup; see docs`) and disagreed with
    * /query on double-quoted identifiers. */
  private[graft] def splitStatements(sql: String): Seq[String] =
    graft.server.DuckDialect.splitStatements(sql)
}
