package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // shared session; stopped by JVM exit
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession("graft-test", cores = 4)
    Tables.init(s)
    s
  }
}
