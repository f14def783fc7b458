package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** In-memory span store shared by the listeners of one traced server
  * process. Records are JSON objects, one per line; they are written to
  * the file named by `-Dperfbench.trace.out` when the benchmark asks (see
  * [[dumpIfAsked]]), when the application ends, and from a shutdown
  * hook. A background sampler records process gauges every 250 ms.
  */
object Spans {
  private val records = new ConcurrentLinkedQueue[String]()

  def add(json: String): Unit = records.add(json): Unit

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Write every record so far. Synchronized, so a later dump always
    * writes a superset of an earlier one. */
  def dump(): Unit = synchronized {
    sys.props.get("perfbench.trace.out").foreach { out =>
      val body = records.asScala.mkString("", "\n", "\n")
      val tmp = Paths.get(out + ".tmp")
      Files.write(tmp, body.getBytes(UTF_8))
      Files.move(tmp, Paths.get(out),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  private def sample(): Unit = {
    val rt = Runtime.getRuntime
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val persisted = org.apache.spark.sql.SparkSession.getDefaultSession
      .map(_.sparkContext.getPersistentRDDs.size).getOrElse(-1)
    add(s"""{"k":"sample","t":${System.currentTimeMillis()},""" +
      s""""heap_mb":${(rt.totalMemory - rt.freeMemory) / 1048576.0},""" +
      s""""gc_ms":$gcMs,"threads":${ManagementFactory.getThreadMXBean.getThreadCount},""" +
      s""""persisted_rdds":$persisted}""")
  }

  /** The benchmark asks for the spans before it stops (or kills) the
    * server by creating `<out>.dump`; the sampler writes them and deletes
    * the request. */
  private def dumpIfAsked(): Unit =
    sys.props.get("perfbench.trace.out").map(o => Paths.get(o + ".dump"))
      .filter(Files.exists(_)).foreach { req => sample(); dump(); Files.delete(req) }

  private lazy val started: Unit = {
    val t = new Thread(() => {
      try while (true) {
        // a failed sample (say, mid-shutdown) must not stop the dump requests
        try sample() catch { case scala.util.control.NonFatal(_) => () }
        dumpIfAsked()
        Thread.sleep(250)
      } catch { case _: InterruptedException => () }
    }, "perfbench-sampler")
    t.setDaemon(true)
    t.start()
    sys.addShutdownHook { sample(); dump() }: Unit
  }

  def start(): Unit = started
}
