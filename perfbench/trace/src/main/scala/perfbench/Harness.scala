package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.catalog.TableCatalog
import graft.index.MetadataIndex
import graft.ingest.ParquetStats
import graft.lineproto.LineProtocolParser
import graft.pruning.QueryViews
import graft.server.DuckDialect

/** Direct-call timings for the traced run: replays one run's own inputs
  * through the public functions of single layers, after the server has
  * stopped, and prints one JSON object of metrics on stdout.
  *
  *   Harness <spec.json>
  *
  * The spec names the run's line-protocol body files, the lakehouse root
  * the run left behind, its tables, its `time` ranges and its query texts
  * (each with the `?db=` scope it was sent with, or null).
  */
object Harness {
  private implicit val formats: Formats = DefaultFormats

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def main(args: Array[String]): Unit = {
    val spec = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(args(0))), UTF_8))
    val bodies = (spec \ "bodies").extract[Seq[String]]
    val root = (spec \ "root").extract[String]
    val tables = (spec \ "tables").extract[Seq[Seq[String]]]
    val ranges = (spec \ "ranges").extract[Seq[Seq[Long]]]
    val queries = (spec \ "queries").extract[Seq[Map[String, String]]]
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // graft.lineproto: parse every body once, after one warm-up parse
    val read = bodies.distinct.map(b => b -> new String(Files.readAllBytes(Paths.get(b)), UTF_8)).toMap
    val texts = bodies.map(read)
    texts.headOption.foreach(t => LineProtocolParser.parse(t).foreach(_ => ()))
    val (rows, parseS) = timed(texts.map(t => LineProtocolParser.parse(t).map(_.size.toLong).sum).sum)
    out("lineproto.parse_s") = parseS
    out("lineproto.rows") = rows.toDouble

    // graft.server: the DuckDB-dialect rewrite of every statement sent
    val stmts = queries.flatMap(q => DuckDialect.splitStatements(q("sql")))
      .filterNot(DuckDialect.isExtensionNoOp)
    stmts.foreach(s => DuckDialect.rewriteInfo(s, fetchRemote = false))
    out("dialect.rewrite_s") = mean(stmts.map(s =>
      timed(DuckDialect.rewriteInfo(s, fetchRemote = false))._2))

    // graft.index: the manifest zone maps against each query's `time` range
    val catalog = new TableCatalog(root)
    val entries = tables.flatMap { case Seq(db, t) =>
      MetadataIndex.partitionDirs(catalog.tableDir(db, t))
        .flatMap(d => MetadataIndex.load(d, t).entries.values.map(e => (d, e)))
    }
    val rs = if (ranges.isEmpty) Seq(Seq(Long.MinValue, Long.MaxValue)) else ranges
    val kept = rs.map { case Seq(lo, hi) =>
      entries.filter { case (_, e) => e.dataMinTime <= hi && e.dataMaxTime >= lo }
    }
    out("index.files_considered") = entries.size.toDouble
    out("index.files_kept") = mean(kept.map(_.size.toDouble))
    out("index.bytes_skipped") =
      mean(kept.map(k => (entries.map(_._2.sizeBytes).sum - k.map(_._2.sizeBytes).sum).toDouble))

    val spark = SparkSession.builder().appName("perfbench-harness")
      .master("local[*]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // graft.ingest: footer stats of every live file, as the writer reads them
      val conf = spark.sparkContext.hadoopConfiguration
      val stats = entries.map { case (d, e) =>
        timed(ParquetStats.manifestEntry(conf, d.resolve(e.path).toUri.toString, e.path))._2
      }
      out("ingest.stats_s") = mean(stats.drop(1))

      // graft.pruning: building the request's session and views, per scope
      graft.Tables.init(spark)
      val views = new QueryViews(spark, catalog)
      def sqlFor(q: Map[String, String]): Option[Double] = {
        val sql = DuckDialect.splitStatements(q("sql"))
          .filterNot(DuckDialect.isExtensionNoOp).lastOption
          .map(s => DuckDialect.rewriteInfo(s, fetchRemote = false).sql)
        val db = Option(q.getOrElse("db", null))
        // artifact views and functions live only in the server that
        // built them; statements naming them are skipped here
        sql.flatMap(s => scala.util.Try {
          views.sqlFor(s, None, db)
          timed(views.sqlFor(s, None, db))._2
        }.toOption)
      }
      val timedQs = queries.distinct.map(q => (q.get("db").exists(_ != null), sqlFor(q)))
      val scoped = timedQs.collect { case (true, Some(t)) => t }
      val unscoped = timedQs.collect { case (false, Some(t)) => t }
      out("views.sqlfor_s") = mean(scoped ++ unscoped)
      out("views.sqlfor_scoped_s") = mean(scoped)
      out("views.sqlfor_unscoped_s") = mean(unscoped)
    } finally spark.stop()

    println(out.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
  }
}
