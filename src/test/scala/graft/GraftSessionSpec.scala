package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkConf

class GraftSessionSpec extends SparkSpec {

  private def bare = new SparkConf(loadDefaults = false)

  test("conf keeps a master and a shuffle-partition count already in the base conf") {
    val c = GraftSession.conf(bare
      .set("spark.master", "local[2]")
      .set("spark.sql.shuffle.partitions", "7"), cores = 3)
    assert(c.get("spark.master") == "local[2]")
    assert(c.get("spark.sql.shuffle.partitions") == "7")
  }

  test("conf fills every absent key with the profile") {
    val c = GraftSession.conf(bare, cores = 3)
    assert(c.get("spark.master") == sys.env.getOrElse("SPARK_MASTER", "local[3]"))
    assert(c.get("spark.sql.shuffle.partitions") == "3")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.ui.enabled") == "false")
    assert(c.get("spark.hadoop.fs.file.impl") == classOf[PosixLocalFileSystem].getName)
    assert(c.getAll.length == 5)
  }

  test("conf keeps a file: implementation already in the base conf") {
    val stock = classOf[org.apache.hadoop.fs.LocalFileSystem].getName
    val c = GraftSession.conf(bare.set("spark.hadoop.fs.file.impl", stock), cores = 3)
    assert(c.get("spark.hadoop.fs.file.impl") == stock)
  }

  test("SPARK_GRAFT_CPUS parsing: set wins, unset falls back to availableProcessors") {
    assert(GraftSession.coresFrom(Some("6")) == 6)
    assert(GraftSession.coresFrom(Some(" 12 ")) == 12)
    assert(GraftSession.coresFrom(None) == Runtime.getRuntime.availableProcessors)
    assertThrows[NumberFormatException](GraftSession.coresFrom(Some("many")))
  }

  test("the shared spec session runs the profile at 4 cores") {
    assert(spark.sparkContext.master == sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("src/main builds a SparkSession only in GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val s = Files.walk(root)
    val builders =
      try s.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toList
      finally s.close()
    assert(builders == Seq("graft/GraftSession.scala"))
  }
}
