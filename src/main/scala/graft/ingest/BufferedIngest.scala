package graft.ingest

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Future, Promise}
import scala.jdk.CollectionConverters._
import graft.lineproto.LineProtocolParser.Batch

/** Micro-batch ingest buffer (reference N12, merge_tree_service.go:179-213):
  * writers enqueue parsed batches and get a promise completed after the
  * durable flush; a ticker flushes every `saveTimeoutMs` (reference default
  * 1 s) or immediately past `maxBufferedRows` (reference: 1 M). Under load
  * (a drain of >= `throughputRows`) the buffer is hot: the tick drops to
  * `gatherMs`, and `store` wakes the flush as soon as the queued rows reach
  * the largest drain of the current hot streak — the writer cohort is back.
  * The wake pays off for a steady cohort: writers that block on their ack
  * and send bodies of similar size each cycle (perfbench ingest_burst: one
  * client, fixed 100k-row bodies). When writers leave or bodies shrink,
  * acks fall back to the gather tick until the threshold comes down (see
  * `cohortRows`); no benchmark workload has churning writers or bodies
  * whose size varies.
  *
  * Backpressure exactly like the reference: the HTTP handler blocks on the
  * promise, so clients see 204 only after their rows hit parquet.
  */
final class BufferedIngest(writer: IngestWriter,
                           saveTimeoutMs: Long = 1000L,
                           maxBufferedRows: Long = 1000000L,
                           gatherMs: Long = 100L,
                           throughputRows: Long = 100000L) extends AutoCloseable {

  private final case class Pending(batch: Batch, done: Promise[Unit])
  private val queue = new ConcurrentLinkedQueue[Pending]()
  // AtomicLong: += on a @volatile var from concurrent HTTP threads loses
  // updates and the 1 M-row early-flush trigger can fire late or never.
  private val buffered = new AtomicLong(0L)
  private val scheduler = Executors.newSingleThreadScheduledExecutor(r => {
    val t = new Thread(r, "graft-ingest-flush"); t.setDaemon(true); t
  })

  /** Self-rescheduling tick instead of scheduleWithFixedDelay (r13, the
    * buffered-throughput fix): fixedDelay restarts the full 1 s timer
    * AFTER each flush returns, so blocked-on-ack writers (the reference
    * e2e shape — every client holds its next batch until the 204) spent
    * ~1 s of every cycle idle: cycle = flush + 1 s. The tick keeps the
    * 1 s cadence for trickle traffic (same file count, same ack-latency
    * bound, same durability contract) but when a flush drains a
    * throughput-regime volume (>= throughputRows) the next tick fires
    * after a short gather window instead, and `store` wakes the flush
    * thread as soon as a cohort's worth of rows is queued again (see
    * `cohortRows`): each flush still drains the full writer cohort into
    * ONE file, and a hot ack no longer waits for a gather tick that
    * fired while its body was still parsing — the gather tick is the
    * upper bound, the cycle is parse + flush. Flushing EARLIER than the
    * 1 s timer never violates the contract (the 1 M-row early trigger
    * already does) — the timer is a latency/batching bound, not a
    * throughput governor.
    * The tick never dies: a throwing flush (promises already failed per
    * group inside) still reschedules — a dead ticker is silent data
    * loss for every later enqueue (MergeScheduler makes the same
    * argument). */
  /** While hot, an EMPTY tick retries at gatherMs up to HotRetries times
    * before dropping back to the 1 s cadence: a writer cohort that takes
    * slightly longer than one gather window to re-enqueue (GC pause, a
    * slow parse) would otherwise pay the full 1 s trickle delay for the
    * miss — measured as occasional 1.1 s gaps between 0.6 s cycles. */
  private val HotRetries = 5
  private var hotStreak = 0 // scheduler-thread-only state
  /** The next booked tick (written and read on the scheduler thread
    * only): an arrival wake cancels it and ticks at once. */
  private var nextTick: java.util.concurrent.ScheduledFuture[_] = _

  /** Arrival trigger: the largest drain of the current hot streak, 0 when
    * cold. Only the scheduler thread writes it; `store` reads it. A largest
    * drain, not the last: one gather tick that caught part of the cohort
    * must not shrink the threshold to one body per file. It comes down in
    * two ways. The streak ends (a trickle drain, or HotRetries empty
    * ticks): reset to 0. Or ShrinkAfter gather ticks in a row drain less
    * than it while still hot — under steady load the streak never ends,
    * so this is how a writer that left or bodies that got smaller are
    * noticed: it drops to the largest of those drains. A cohort that
    * shrank costs ShrinkAfter gather-tick waits, then the wake fires
    * again. */
  @volatile private var cohortRows = 0L
  private val ShrinkAfter = 2
  private var shortDrains = 0 // scheduler-thread-only, like hotStreak
  private var shortMax = 0L

  /** On the scheduler thread: tick now if the queued rows still reach the
    * cohort (an earlier tick may have drained them since the wake was
    * submitted). The cancel fails only when close() left no tick booked. */
  private def wake(): Unit = {
    val cohort = cohortRows
    if (cohort > 0 && buffered.get() >= cohort && nextTick.cancel(false)) tick()
  }

  private def tick(): Unit =
    // the reschedule lives in a FINALLY (review r15): the NonFatal catch
    // below does not match an OOM/StackOverflow escaping flushCounting,
    // and an un-rescheduled ticker is exactly the "dead ticker is silent
    // data loss" failure documented above — every later sub-threshold
    // store() would enqueue a batch whose promise never completes. The
    // fatal error still propagates (into the scheduler's task future)
    // after the next tick is booked; post-fatal flushes are best-effort,
    // a guaranteed-dead ticker is worse.
    try {
      val drained =
        try flushCounting()
        catch { case scala.util.control.NonFatal(e) =>
          // never silent (ADVICE r13): the per-batch promises were already
          // failed inside flushCounting, but the operator still needs the
          // cause on record — a quietly-0 tick reads as "idle"
          System.err.println(s"[graft-ingest] flush failed: $e")
          0L
        }
      if (drained >= throughputRows) {
        hotStreak = HotRetries
        // a wake drains at least the cohort, so a short drain is a gather
        // tick: the cohort was late, or it shrank
        if (drained >= cohortRows) { cohortRows = drained; shortDrains = 0; shortMax = 0L }
        else {
          shortDrains += 1
          shortMax = math.max(shortMax, drained)
          if (shortDrains == ShrinkAfter) { cohortRows = shortMax; shortDrains = 0; shortMax = 0L }
        }
      }
      else if (drained > 0) hotStreak = 0 // trickle: keep the 1 s file shape
      else if (hotStreak > 0) hotStreak -= 1
      if (hotStreak == 0) { cohortRows = 0L; shortDrains = 0; shortMax = 0L }
    } finally {
      // a store that read the cohort before this tick set it sent no
      // wake, but its rows are already counted in `buffered`
      val cohort = cohortRows
      val delay = if (cohort > 0 && buffered.get() >= cohort) 0L
        else if (hotStreak > 0) gatherMs else saveTimeoutMs
      try nextTick = scheduler.schedule({ () => tick() }: Runnable, delay, TimeUnit.MILLISECONDS)
      catch { case _: java.util.concurrent.RejectedExecutionException => () } // closing
    }
  // booked from the scheduler thread, like every later tick: nextTick
  // is that thread's alone
  scheduler.execute { () =>
    nextTick = scheduler.schedule({ () => tick() }: Runnable, saveTimeoutMs, TimeUnit.MILLISECONDS)
  }

  @volatile private var closed = false

  /** Run `task` on the flush thread; after close() flush here instead. */
  private def onFlushThread(task: Runnable): Unit =
    try scheduler.execute(task)
    catch { // shutdown raced between the closed check and the submit
      case _: java.util.concurrent.RejectedExecutionException => flush()
    }

  def store(batch: Batch): Future[Unit] = {
    // fail fast after close(): the ticker is gone, so an enqueued batch
    // would never flush — the caller would block on the promise forever
    // and the rows would be silently lost (and scheduler.execute below
    // would throw RejectedExecutionException out of store)
    if (closed)
      return Future.failed(new IllegalStateException("BufferedIngest is closed"))
    val p = Promise[Unit]()
    queue.add(Pending(batch, p))
    val queued = buffered.addAndGet(batch.size.toLong)
    val cohort = cohortRows
    // re-check AFTER the add: a close() racing past the first check
    // drains the queue once — if we now read closed=true, our add may
    // have landed after that drain, so flush ourselves (idempotent,
    // synchronized). If we read false, close()'s volatile write hadn't
    // happened yet, so its later drain observes our earlier add. Either
    // way the batch is written and the promise completes — the old
    // order could silently drop the rows and park the caller for the
    // full ack timeout.
    if (closed) flush()
    else if (queued >= maxBufferedRows) onFlushThread(() => flush())
    else if (cohort > 0 && queued >= cohort) onFlushThread(() => wake())
    p.future
  }

  /** Drain and durably write everything queued; complete promises. */
  def flush(): Unit = { flushCounting(); () }

  private val dbg = sys.env.contains("GRAFT_FLUSH_DEBUG")
  @volatile private var lastFlushEnd = 0L

  /** flush() returning the drained row count — the adaptive tick's
    * throughput-regime signal. */
  private def flushCounting(): Long = synchronized {
    val t0 = System.nanoTime()
    val drained = Iterator.continually(queue.poll()).takeWhile(_ != null).toVector
    if (drained.isEmpty) return 0L
    val drainedRows = drained.map(_.batch.size.toLong).sum
    if (dbg && lastFlushEnd != 0)
      println(f"[fdbg] gap=${(t0 - lastFlushEnd) / 1e9}%.3f rows=$drainedRows batches=${drained.size}")
    buffered.addAndGet(-drainedRows)
    // group same-(db,table,schema) batches IN FIRST-ARRIVAL ORDER
    // (review r10): groupBy's Map iterates hash-ordered, so two
    // different-schema batches for one new table could reach
    // catalog.evolve reversed — the opposite of the reference's
    // arrival-order first-type-wins. Sorting groups by their first
    // drained index restores the write order the queue guarantees.
    // The whole post-drain section is promise-guarded (ADVICE r13): an
    // exception escaping OUTSIDE the per-group try (the grouping/sort
    // itself, or an OOM between groups) would otherwise leave drained
    // batches' promises forever pending — producers blocked on store()
    // acks would hang to their own timeouts with nothing logged.
    // tryFailure is idempotent and loses to an earlier trySuccess, so
    // blanket-failing every drained promise on the escape path only
    // touches the ones the crash actually stranded.
    try {
      drained.zipWithIndex
        .groupBy { case (p, _) => (p.batch.database, p.batch.table, p.batch.schema) }
        .toSeq.sortBy { case (_, ps) => ps.head._2 }
        .foreach { case ((db, table, schema), psi) =>
          val ps = psi.map(_._1)
          try {
            val merged = Batch(db, table, schema, ps.flatMap(_.batch.rows).toVector)
            writer.store(merged)
            ps.foreach(_.done.trySuccess(()))
          } catch {
            case e: Throwable => ps.foreach(_.done.tryFailure(e))
          }
        }
    } catch {
      case e: Throwable =>
        drained.foreach(_.done.tryFailure(e))
        throw e
    }
    lastFlushEnd = System.nanoTime()
    if (dbg)
      println(f"[fdbg] flush=${(lastFlushEnd - t0) / 1e9}%.3f rows=$drainedRows")
    drainedRows
  }

  /** Stop accepting, then drain. A producer that raced past the closed
    * check either lands its batch before this drain (it reads
    * closed=false on the post-add re-check, so our volatile write —
    * and this flush — come after its add), or reads closed=true and
    * flushes its own batch; later store() calls fail fast. */
  override def close(): Unit = {
    closed = true
    scheduler.shutdown()
    flush()
  }
}
