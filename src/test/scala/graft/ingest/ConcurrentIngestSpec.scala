package graft.ingest

import java.nio.file.Files
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import graft.SparkSpec
import graft.catalog.TableCatalog
import graft.lineproto.LineProtocolParser
import graft.pruning.GraftFileIndex

/** Scaled-down analog of the reference's e2e concurrency test
  * (e2e_test.go:44-94: 200 goroutines × 100k rows): many writer threads
  * share one BufferedIngest; every promise must resolve and every row
  * must land exactly once. Exercises the AtomicLong buffered counter and
  * the queue-drain flush under contention. */
class ConcurrentIngestSpec extends SparkSpec {

  test("parallel writers through one buffer: all rows land exactly once") {
    val root = Files.createTempDirectory("graft-conc-")
    val cat = new TableCatalog(root.toString)
    val writer = new IngestWriter(spark, root.toString, cat)
    val buffer = new BufferedIngest(writer, saveTimeoutMs = 100L,
      maxBufferedRows = 500L) // force early-flush triggers too
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val threads = 8
      val batchesPerThread = 25
      val rowsPerBatch = 20
      val futures = (0 until threads).flatMap { t =>
        (0 until batchesPerThread).map { b =>
          Future {
            val lines = (0 until rowsPerBatch)
              .map(r => s"conc,writer=w$t v=${t * 100000 + b * 100 + r}i")
              .mkString("\n")
            val stores = LineProtocolParser.parse(lines).map(buffer.store).toVector
            stores.foreach(Await.result(_, 2.minutes))
          }
        }
      }
      futures.foreach(Await.result(_, 2.minutes))
      buffer.flush()
      val df = GraftFileIndex.readTable(spark, cat, "default", "conc")
      val expected = threads * batchesPerThread * rowsPerBatch
      assert(df.count() == expected)
      // exactly once: all v values distinct
      assert(df.select("v").distinct().count() == expected)
    } finally {
      buffer.close()
      pool.shutdown()
    }
  }

  test("throughput regime flushes on the gather cadence, not the save timer (r13)") {
    val root = Files.createTempDirectory("graft-hot-")
    val cat = new TableCatalog(root.toString)
    // timer 3 s, gather 50 ms: a cohort-sized drain must put the buffer
    // in the hot regime so the NEXT batch acks on the gather cadence —
    // under the old fixed-delay ticker the second ack would wait the
    // full 3 s timer again
    val buffer = new BufferedIngest(new IngestWriter(spark, root.toString, cat),
      saveTimeoutMs = 3000L, gatherMs = 50L, throughputRows = 100L)
    try {
      val lines1 = (0 until 200).map(r => s"hot v=${r}i").mkString("\n")
      // first ack rides the first 3 s tick (drains 200 >= 100 -> hot)
      LineProtocolParser.parse(lines1).map(buffer.store)
        .foreach(Await.result(_, 1.minute))
      // enqueue immediately (inside the hot retry window): the ack must
      // arrive on the 50 ms gather cadence, far under the 3 s timer
      val t0 = System.nanoTime()
      val lines2 = (0 until 200).map(r => s"hot v=${1000 + r}i").mkString("\n")
      LineProtocolParser.parse(lines2).map(buffer.store)
        .foreach(Await.result(_, 1.minute))
      val ackSec = (System.nanoTime() - t0) / 1e9
      assert(ackSec < 1.5, s"hot-regime ack took $ackSec s (timer-bound?)")
      val df = GraftFileIndex.readTable(spark, cat, "default", "hot")
      assert(df.count() == 400)
    } finally buffer.close()
  }

  private def parquetFiles(root: java.nio.file.Path, table: String): Int = {
    val dir = root.resolve(s"default/$table")
    if (!Files.exists(dir)) 0
    else Files.walk(dir).filter(_.toString.endsWith(".parquet")).count().toInt
  }

  test("a hot writer's next ack does not wait for a gather tick") {
    val root = Files.createTempDirectory("graft-arrive-")
    val cat = new TableCatalog(root.toString)
    // gather 2 s: only the arrival trigger can ack the second body sooner
    val buffer = new BufferedIngest(new IngestWriter(spark, root.toString, cat),
      saveTimeoutMs = 500L, gatherMs = 2000L, throughputRows = 100L)
    def body(from: Int) = LineProtocolParser.parse(
      (from until from + 200).map(r => s"arrive v=${r}i").mkString("\n")).toVector
    try {
      // the first ack rides the 500 ms tick, which drains 200 >= 100: hot
      body(0).map(buffer.store).foreach(Await.result(_, 1.minute))
      val next = body(1000)
      val t0 = System.nanoTime()
      next.map(buffer.store).foreach(Await.result(_, 1.minute))
      val ackSec = (System.nanoTime() - t0) / 1e9
      assert(ackSec < 1.0, s"hot ack took $ackSec s (waited for the gather tick?)")
      assert(GraftFileIndex.readTable(spark, cat, "default", "arrive").count() == 400)
      assert(parquetFiles(root, "arrive") == 2)
    } finally buffer.close()
  }

  test("trickle writes below throughputRows still land one file per 1 s tick") {
    val root = Files.createTempDirectory("graft-trickle-")
    val cat = new TableCatalog(root.toString)
    val buffer = new BufferedIngest(new IngestWriter(spark, root.toString, cat),
      throughputRows = 1000L)
    try {
      // 10 rows every 50 ms for 3 s, never waiting for an ack: about 200
      // rows a tick, under throughputRows, so the buffer stays cold
      val t0 = System.nanoTime()
      val acks = (0 until 60).flatMap { b =>
        val due = t0 + b * 50L * 1000000L
        while (System.nanoTime() < due) Thread.sleep(1)
        LineProtocolParser.parse((0 until 10).map(r => s"trickle v=${b * 10 + r}i")
          .mkString("\n")).map(buffer.store).toVector
      }
      acks.foreach(Await.result(_, 1.minute))
      val ticks = math.ceil((System.nanoTime() - t0) / 1e9).toInt
      val files = parquetFiles(root, "trickle")
      assert(files <= ticks + 1, s"$files files in $ticks s of trickle writes")
      assert(GraftFileIndex.readTable(spark, cat, "default", "trickle").count() == 600)
    } finally buffer.close()
  }

  test("four concurrent hot writers land about one file per round, not one per body") {
    val root = Files.createTempDirectory("graft-cohort-")
    val cat = new TableCatalog(root.toString)
    // gather 1 s: a writer stalled past one gather window must not split
    // the cohort's files on a loaded host; the wake does the flushing
    val buffer = new BufferedIngest(new IngestWriter(spark, root.toString, cat),
      gatherMs = 1000L, throughputRows = 100L)
    val writers = 4
    val rounds = 8
    val pool = Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // every writer holds its next body until the previous one is acked
      val done = (0 until writers).map { w =>
        Future {
          (0 until rounds).foreach { r =>
            val lines = (0 until 100).map(i =>
              s"cohort,writer=w$w v=${(w * rounds + r) * 100 + i}i")
            LineProtocolParser.parse(lines.mkString("\n")).map(buffer.store).toVector
              .foreach(Await.result(_, 1.minute))
          }
        }
      }
      done.foreach(Await.result(_, 2.minutes))
      val files = parquetFiles(root, "cohort")
      assert(files <= rounds + 1, s"$files files for $rounds rounds of $writers writers")
      val df = GraftFileIndex.readTable(spark, cat, "default", "cohort")
      assert(df.count() == writers * rounds * 100)
      assert(df.select("v").distinct().count() == writers * rounds * 100)
    } finally {
      buffer.close()
      pool.shutdown()
    }
  }

  test("when one of four hot writers stops, the other three's acks stop waiting for the gather tick") {
    val root = Files.createTempDirectory("graft-shrink-")
    val cat = new TableCatalog(root.toString)
    // gather 2 s: an ack under 1 s can only come from the arrival trigger
    val gather = 2000L
    val buffer = new BufferedIngest(new IngestWriter(spark, root.toString, cat),
      gatherMs = gather, throughputRows = 100L)
    val (before, after) = (3, 6)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // writer 3 stops after `before` rounds; the threshold learned from
      // four writers' drains must come down to three writers' drains
      val acks = (0 until 4).map { w =>
        Future {
          (0 until (if (w == 3) before else before + after)).map { r =>
            val lines = (0 until 100).map(i => s"shrink,writer=w$w v=${(w * 100 + r) * 100 + i}i")
            val t0 = System.nanoTime()
            LineProtocolParser.parse(lines.mkString("\n")).map(buffer.store).toVector
              .foreach(Await.result(_, 1.minute))
            (System.nanoTime() - t0) / 1e9
          }
        }
      }.map(Await.result(_, 2.minutes))
      // the first rounds after the stop wait for gather ticks while the
      // threshold comes down; one more round of slack, then all fast
      val late = acks.take(3).flatMap(_.drop(before + 3))
      assert(late.size == 9 && late.forall(_ < gather / 2000.0),
        s"acks after the threshold came down: $late")
      assert(GraftFileIndex.readTable(spark, cat, "default", "shrink").count() ==
        (3 * (before + after) + before) * 100)
    } finally {
      buffer.close()
      pool.shutdown()
    }
  }

  test("store after close fails fast instead of hanging a dead promise") {
    val root = Files.createTempDirectory("graft-closed-")
    val cat = new TableCatalog(root.toString)
    val buffer = new BufferedIngest(
      new IngestWriter(spark, root.toString, cat), saveTimeoutMs = 50L)
    val batch = LineProtocolParser.parse("c v=1i 1700000000000000000").toSeq.head
    Await.result(buffer.store(batch), 1.minute) // alive: resolves
    buffer.close()
    val late = buffer.store(batch)
    val e = intercept[IllegalStateException](
      Await.result(late, 5.seconds))
    assert(e.getMessage.contains("closed"))
  }
}
