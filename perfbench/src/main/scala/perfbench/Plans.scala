package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/** SQL metrics of the executed plans, read from outside the program
  * through a `QueryExecutionListener`. */
final class Plans(spark: SparkSession) extends QueryExecutionListener {
  private val done = new LinkedBlockingQueue[QueryExecution]()
  spark.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.put(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def clear(): Unit = done.clear()

  /** The plan of the next finished query. */
  def next(): SparkPlan = {
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val qe = done.poll(30, TimeUnit.SECONDS)
    require(qe != null, "no executed plan was reported within 30 s")
    qe.executedPlan
  }
}

object Plans {
  /** Every physical node that ran, through adaptive plans, query stages
    * and command wrappers. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** (scan seconds, scanned MB) over the file scans of a plan. */
  def scan(p: SparkPlan): (Double, Double) = {
    val scans = nodes(p).collect { case s: FileSourceScanExec => s }
    (scans.map(metric(_, "scanTime")).sum / 1e3, scans.map(metric(_, "filesSize")).sum / 1e6)
  }

  /** (sort seconds, spilled MB) over the sorts of a plan. */
  def sort(p: SparkPlan): (Double, Double) = {
    val sorts = nodes(p).collect { case s: SortExec => s }
    (sorts.map(metric(_, "sortTime")).sum / 1e3, sorts.map(metric(_, "spillSize")).sum / 1e6)
  }
}
