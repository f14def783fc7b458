package perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Records each executed SQL action: its planning phases from
  * `QueryPlanningTracker`, its execution time, and the Exchange count of
  * the executed plan. Registered with
  * `-Dspark.sql.queryExecutionListeners=perfbench.QuerySpans`; Spark
  * builds one instance per session, and all share [[Spans]]. */
final class QuerySpans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  Spans.start()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(funcName, qe, 0L, ok = false)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
                     ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val exchanges =
      try collect(qe.executedPlan) { case x: Exchange => x }.size
      catch { case scala.util.control.NonFatal(_) => -1 }
    Spans.add(s"""{"k":"query","t":${System.currentTimeMillis()},""" +
      s""""func":${Spans.str(funcName)},"ok":$ok,"exec_ms":${durationNs / 1e6},""" +
      s""""analysis_ms":${ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS)},""" +
      s""""optimization_ms":${ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION)},""" +
      s""""planning_ms":${ms(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)},""" +
      s""""exchanges":$exchanges}""")
  }
}
