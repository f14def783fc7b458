package perfbench

import org.apache.spark.scheduler._

/** Records every Spark job and stage of the server process. A stage's
  * name is its call site (`parquet at IngestWriter.scala:320`), which
  * the benchmark script maps to the program's modules. Registered with
  * `-Dspark.extraListeners=perfbench.StageSpans`. */
final class StageSpans extends SparkListener {
  Spans.start()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Spans.add(s"""{"k":"job_start","job":${e.jobId},"t":${e.time},""" +
      s""""stages":${e.stageIds.mkString("[", ",", "]")}}""")

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Spans.add(s"""{"k":"job_end","job":${e.jobId},"t":${e.time}}""")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val (run, gc, shR, shW, spill, in, out) =
      if (m == null) (0L, 0L, 0L, 0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    Spans.add(s"""{"k":"stage","stage":${s.stageId},"name":${Spans.str(s.name)},""" +
      s""""submit":${s.submissionTime.getOrElse(-1L)},"end":${s.completionTime.getOrElse(-1L)},""" +
      s""""tasks":${s.numTasks},"run_ms":$run,"gc_ms":$gc,"shuffle_read":$shR,""" +
      s""""shuffle_write":$shW,"spill":$spill,"in_bytes":$in,"out_bytes":$out,""" +
      s""""failed":${s.failureReason.isDefined}}""")
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = Spans.dump()
}
