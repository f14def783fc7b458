package graft.pruning

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.catalog.{TableCatalog, TableSpec}
import graft.ingest.IngestWriter
import graft.lineproto.LineProtocolParser

/** Catalyst-integrated manifest pruning: the scan's OWN planning must
  * skip non-overlapping files (no SQL inspection, no explicit ranges). */
class GraftFileIndexSpec extends SparkSpec {
  import GraftFileIndexSpec.scanNumFiles

  private def mkTable(): (TableCatalog, Long) = {
    val root = Files.createTempDirectory("graft-fidx-")
    val cat = new TableCatalog(root.toString)
    var tick = 0L
    val t0 = 1700000000000000000L
    val w = new IngestWriter(spark, root.toString, cat,
      () => { tick += 1; t0 + tick * 1000000L })
    (1 to 3).foreach { i =>
      LineProtocolParser.parse(s"fx v=${i}i", nowNs = () => t0).foreach(w.store)
    }
    (cat, t0)
  }

  test("time conjuncts on __timestamp prune whole files at plan time") {
    val (cat, t0) = mkTable()
    val df = GraftFileIndex.readTable(spark, cat, "default", "fx")
    assert(scanNumFiles(df) == 3)
    assert(df.count() == 3)
    val one = df.filter(col("__timestamp") === (t0 + 1000000L))
    assert(scanNumFiles(one) == 1)
    assert(one.select("v").collect().map(_.getLong(0)).toSeq == Seq(1L))
    val two = df.filter(col("__timestamp") >= (t0 + 2000000L) &&
      col("__timestamp") <= (t0 + 3000000L))
    assert(scanNumFiles(two) == 2)
    // OR is one opaque conjunct: must NOT prune unsoundly, must stay correct
    val or = df.filter(col("__timestamp") === (t0 + 1000000L) || col("v") === 3L)
    assert(or.select("v").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(scanNumFiles(or) == 3)
  }

  test("partition filters on date/hour prune manifest partitions") {
    val root = Files.createTempDirectory("graft-fidx2-")
    val cat = new TableCatalog(root.toString)
    // two writes in different hours
    val hour22 = 1700000000000000000L // 2023-11-14 22:13:20 UTC
    val hour23 = hour22 + 3600L * 1000000000L
    var now = hour22
    val w = new IngestWriter(spark, root.toString, cat, () => now)
    LineProtocolParser.parse("px v=1i", nowNs = () => now).foreach(w.store)
    now = hour23
    LineProtocolParser.parse("px v=2i", nowNs = () => now).foreach(w.store)

    val df = GraftFileIndex.readTable(spark, cat, "default", "px")
    assert(scanNumFiles(df) == 2)
    // partition columns carry inferred types (hour int, date date) —
    // matching Spark's own hive inference and the round-1 JSON output
    assert(df.schema("hour").dataType.typeName == "integer")
    assert(df.schema("date").dataType.typeName == "date")
    val h22 = df.filter(col("hour") === 22)
    assert(scanNumFiles(h22) == 1)
    assert(h22.select("v").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("client `time` predicates prune on data stats, not arrival stats") {
    val root = Files.createTempDirectory("graft-fidx4-")
    val cat = new TableCatalog(root.toString)
    val arrival = 1700000000000000000L
    var now = arrival
    val w = new IngestWriter(spark, root.toString, cat, () => { now += 1000000L; now })
    // backfill: client time is ~1 year BEFORE arrival time
    val old1 = arrival - 365L * 86400L * 1000000000L
    val old2 = old1 + 1000000000L
    LineProtocolParser.parse(s"bf v=1i $old1").foreach(w.store)
    LineProtocolParser.parse(s"bf v=2i $old2").foreach(w.store)
    val df = GraftFileIndex.readTable(spark, cat, "default", "bf")
    // pruning on the client time column hits data_min/max stats
    val one = df.filter(col("time") === old1)
    assert(scanNumFiles(one) == 1)
    assert(one.select("v").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // an (unsound under the reference's conflation) arrival-range filter
    // on `time` returns nothing — correctly, since time is backfilled
    assert(df.filter(col("time") >= arrival).count() == 0)
  }

  test("sizeInBytes reflects the manifest (broadcast sizing input)") {
    val (cat, _) = mkTable()
    val spec = cat.get("default", "fx").get
    val idx = new GraftFileIndex(spark, cat, spec)
    assert(idx.sizeInBytes > 0)
    assert(idx.inputFiles.length == 3)
  }

  test("schema evolution: files missing a later column read as nulls") {
    val root = Files.createTempDirectory("graft-fidx3-")
    val cat = new TableCatalog(root.toString)
    val w = new IngestWriter(spark, root.toString, cat)
    LineProtocolParser.parse("ev a=1i").foreach(w.store)
    LineProtocolParser.parse("ev a=2i,b=\"x\"").foreach(w.store)
    val df = GraftFileIndex.readTable(spark, cat, "default", "ev")
    assert(df.count() == 2)
    assert(df.filter(col("b").isNull).count() == 1)
  }

  test("the artifact build's base reads evolved and Merge-engine tables as the footer-merge read did") {
    // expected columns and rows come from the footer schema-merge read
    // (spark.read.option("mergeSchema")) that artifact builds used before
    // they read through this index
    val root = Files.createTempDirectory("graft-fidx5-")
    val cat = new TableCatalog(root.toString)
    var tick = 0L
    val w = new IngestWriter(spark, root.toString, cat,
      () => { tick += 1; 1700000000000000000L + tick * 1000000L })
    // `ev`: a later write adds f, u and b
    LineProtocolParser.parse("ev,host=a v=1i,s=\"x\" 1700000000000000001").foreach(w.store)
    LineProtocolParser.parse("ev,host=b v=2i,f=1.5,u=4u,b=true 1700000000000000002\n" +
      "ev,host=c v=3i,s=\"z\" 1700000000000000003").foreach(w.store)
    // `flat`: a flat-dir table ordered by v; a later write adds name
    cat.upsert(TableSpec("default", "flat", engine = "Merge", orderBy = Seq("v"),
      columns = Seq("v" -> "INT64")))
    LineProtocolParser.parse("flat v=3i 1700000000000000001\nflat v=1i 1700000000000000002")
      .foreach(w.store)
    LineProtocolParser.parse("flat v=2i,name=\"n\" 1700000000000000003").foreach(w.store)
    def shape(table: String): (String, Seq[String]) = {
      val df = GraftFileIndex.readTable(spark, cat, "default", table)
      (df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","),
        df.collect().map(_.toSeq.mkString("(", ",", ")")).sorted.toSeq)
    }
    assert(shape("ev") == (
      "host:string,v:bigint,s:string,time:bigint,__timestamp:bigint,f:double," +
        "u:decimal(20,0),b:boolean,date:date,hour:int",
      Seq("(a,1,x,1700000000000000001,1700000000001000000,null,null,null,2023-11-14,22)",
        "(b,2,null,1700000000000000002,1700000000002000000,1.5,4,true,2023-11-14,22)",
        "(c,3,z,1700000000000000003,1700000000003000000,null,null,null,2023-11-14,22)")))
    assert(shape("flat") == (
      "v:bigint,time:bigint,__timestamp:bigint,name:string",
      Seq("(1,1700000000000000002,1700000000004000000,null)",
        "(2,1700000000000000003,1700000000005000000,n)",
        "(3,1700000000000000001,1700000000004000000,null)")))
  }
}

object GraftFileIndexSpec {
  /** Files the executed scan of `df` read (runs the query). */
  def scanNumFiles(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s } ++
      (plan match {
        case a: AdaptiveSparkPlanExec =>
          a.executedPlan.collect { case s: FileSourceScanExec => s }
        case _ => Nil
      })
    scans.head.metrics("numFiles").value
  }
}
