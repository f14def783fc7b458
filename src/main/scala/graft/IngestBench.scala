package graft

import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import graft.catalog.TableCatalog
import graft.ingest.{BufferedIngest, IngestWriter}
import graft.lineproto.LineProtocolParser

/** Ingest throughput bench — the analog of the reference's e2e test
  * (e2e_test.go:44-94: 200 goroutines × 100 k rows × 3 cols, prints
  * rows/sec, no canonical figure). Three paths:
  *
  *  - `buffered`: the reference-shaped driver path — concurrent writers
  *    parse line protocol and enqueue into BufferedIngest; durable
  *    parquet + manifest per flush. Single-node by design (protocol
  *    parity with the reference's HTTP write path); since r13 the
  *    cycle is flush-pipeline-bound, not timer-bound (SURVEY §7 risk 3
  *    closed — see SCALE.md r13 ledger entry).
  *  - `bulk`: storeDataFrame of pre-built rows — the write-path ceiling
  *    (partitioned sort + parquet + manifest, no parse).
  *  - `stream`: the StreamIngest micro-batch shape — per-task sorted
  *    files (singleFile=false); write parallelism scales with cores.
  *
  * `run` returns the JSON fragment so graft.Bench embeds the same
  * measurements in the per-round BENCH line; the standalone main prints
  * it alone. Env: SPARK_GRAFT_INGEST_ROWS (default 20 M, the reference
  * e2e volume), SPARK_GRAFT_CPUS.
  */
object IngestBench {

  /** Run the three paths; `bufferedRows` may be capped by the caller —
    * the buffered path's steady-state rows/sec is flat in volume
    * (cycle = flush pipeline + gather window since r13), so a capped
    * run measures the same figure minus warmup amortization. */
  def run(spark: SparkSession, bulkRows: Long, streamRows: Long,
          bufferedRows: Long, threads: Int = 32): String = {
    // --- buffered path: writers -> parse -> BufferedIngest -> flush ---
    val root1 = Files.createTempDirectory("graft-ibench-buf-")
    val cat1 = new TableCatalog(root1.toString)
    val buf = new BufferedIngest(new IngestWriter(spark, root1.toString, cat1),
      saveTimeoutMs = 1000L)
    val batchRows = 10000
    // honor small bufferedRows requests: shrink the writer pool before
    // rounding batches up, so a 100k smoke writes ~100k rows, not 320k
    val effThreads = math.max(1, math.min(threads.toLong, bufferedRows / batchRows).toInt)
    val batches = math.max(1, (bufferedRows / (effThreads.toLong * batchRows)).toInt)
    val pool = Executors.newFixedThreadPool(effThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    val fs = (0 until effThreads).map { t =>
      Future {
        (0 until batches).foreach { b =>
          val base = 1700000000000000000L + (t.toLong * batches + b) * 1000000L
          val lines = new StringBuilder
          (0 until batchRows).foreach { r =>
            lines.append(s"bench,host=h$t value=${r * 0.5},seq=${b * batchRows + r}i ${base + r}\n")
          }
          LineProtocolParser.parse(lines.result())
            .map(buf.store).foreach(Await.result(_, 10.minutes))
        }
      }
    }
    fs.foreach(Await.result(_, 30.minutes))
    buf.flush()
    val bufferedSec = (System.nanoTime() - t0) / 1e9
    val bufferedActual = effThreads.toLong * batches * batchRows
    buf.close(); pool.shutdown()

    // --- bulk path: storeDataFrame of pre-built rows ---
    val root2 = Files.createTempDirectory("graft-ibench-bulk-")
    val cat2 = new TableCatalog(root2.toString)
    val w2 = new IngestWriter(spark, root2.toString, cat2)
    import spark.implicits._
    def rowsDf(n: Long) = spark.range(n).select(
      ($"id" % 8).cast("string").as("host"),
      ($"id" * 0.5).as("value"),
      $"id".as("seq"),
      (lit(1700000000000000000L) + $"id").as("time"))
    val t1 = System.nanoTime()
    w2.storeDataFrame("default", "bulk", rowsDf(bulkRows))
    val bulkSec = (System.nanoTime() - t1) / 1e9

    // --- stream path: per-task sorted files, no single-task bottleneck ---
    val root3 = Files.createTempDirectory("graft-ibench-stream-")
    val cat3 = new TableCatalog(root3.toString)
    val w3 = new IngestWriter(spark, root3.toString, cat3)
    val dfPar = rowsDf(streamRows).repartition(spark.sparkContext.defaultParallelism)
    val t2 = System.nanoTime()
    val streamFiles = w3.storeDataFrame("default", "stream", dfPar, singleFile = false)
    val streamSec = (System.nanoTime() - t2) / 1e9

    // drop the ~750 MB of written parquet: repeated in-session runs must
    // not compound page-cache/disk state (measured run-to-run drift)
    Seq(root1, root2, root3).foreach { r =>
      try {
        // close the walk stream explicitly — it holds open directory fds
        // that iterator exhaustion does not release (MetadataIndex has
        // the same hazard note), and Bench embeds this per round
        val s = Files.walk(r)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        finally s.close()
      } catch { case _: Exception => () }
    }

    s"""{"buffered":${(bufferedActual / bufferedSec).toLong},""" +
      s""""buffered_rows":$bufferedActual,"buffered_sec":$bufferedSec,""" +
      s""""bulk":${(bulkRows / bulkSec).toLong},"bulk_rows":$bulkRows,"bulk_sec":$bulkSec,""" +
      s""""stream":${(streamRows / streamSec).toLong},"stream_rows":$streamRows,""" +
      s""""stream_sec":$streamSec,"stream_files":${streamFiles.size}}"""
  }

  def main(args: Array[String]): Unit = {
    val totalRows = sys.env.getOrElse("SPARK_GRAFT_INGEST_ROWS", "20000000").toLong
    val spark = GraftSession("graft-ingest-bench")
    val json = run(spark, bulkRows = totalRows, streamRows = totalRows,
      bufferedRows = totalRows, threads = 32)
    println(s"""{"metric":"ingest_rows_per_sec",${json.drop(1)}""")
    spark.stop()
  }
}
