package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one Spark session profile behind every entry point (the server,
  * the bench, Verify, the prepare jobs and the specs), so the server runs
  * exactly what the bench and the specs measure.
  *
  * The profile only fills keys that are still unset: `spark-submit
  * --master/--conf` and `-Dspark.*` system properties (which a fresh
  * `SparkConf` loads) always win over it. A builder's own `.master(..)`
  * or `.config(..)` would silently override them.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cores: Int = coresFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def coresFrom(env: Option[String]): Int =
    env.map(_.trim.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `base` with the profile applied to every key it does not set:
    * master `SPARK_MASTER` or `local[cores]`, `cores` shuffle partitions,
    * UTC session time zone (Tables.load's timestamp conversion assumes
    * it), no UI, and `PosixLocalFileSystem` for `file:` (no `chmod`
    * fork per local create). Everything else, AQE included, stays at
    * Spark's defaults. */
  def conf(base: SparkConf, cores: Int): SparkConf =
    base
      .setIfMissing("spark.master", sys.env.getOrElse("SPARK_MASTER", s"local[$cores]"))
      .setIfMissing("spark.sql.shuffle.partitions", cores.toString)
      .setIfMissing("spark.sql.session.timeZone", "UTC")
      .setIfMissing("spark.ui.enabled", "false")
      .setIfMissing("spark.hadoop.fs.file.impl", classOf[PosixLocalFileSystem].getName)

  def apply(appName: String, cores: Int = cores): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .config(conf(new SparkConf(), cores))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
