package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainUtils, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** The plans a piece of code actually executed.
  *
  * A query that checkpoints or trains eagerly returns an opaque
  * `LogicalRDD`; the work it did is visible only in the SQL
  * executions it ran on the way — the eager `localCheckpoint` jobs
  * (`Dataset.checkpoint` runs under `withAction`), store builds,
  * training-round collects, and the final action. [[capture]] records
  * each of them through a `QueryExecutionListener`.
  */
object ExecutedPlans {

  /** Every SQL execution `body` completes successfully, in completion
    * order. Events still queued from earlier work are delivered before
    * the listener registers, and the bus is drained before it leaves,
    * so the result holds exactly `body`'s executions.
    */
  def capture(spark: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val qes = ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.synchronized(qes += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    qes.synchronized(qes.toSeq)
  }

  /** `p` with every adaptive plan, nested ones and subqueries'
    * included, replaced by its final plan.
    */
  private def finalOf(p: SparkPlan): SparkPlan =
    p.transformUpWithSubqueries {
      case a: AdaptiveSparkPlanExec => finalOf(a.executedPlan)
    }

  /** Every node the executions ran, query-stage bodies and subqueries
    * included, each adaptive plan read at its final plan. A reused
    * exchange is one leaf: the exchange it points at is counted where
    * it ran. A persisted intermediate's plan runs once, so it is
    * walked at its first read only.
    */
  def nodes(executed: Seq[QueryExecution]): Seq[SparkPlan] = {
    val built = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case m: InMemoryTableScanExec if built.add(m.relation.cachedPlan) =>
        m +: walk(m.relation.cachedPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    executed.flatMap(qe => walk(qe.executedPlan))
  }

  /** `explain("formatted")` of the plan an execution ran, each
    * adaptive plan at its final plan only: an executed adaptive plan's
    * own explain also prints its initial plan. The plan of a persisted
    * intermediate sits inside its `InMemoryRelation`, out of reach of
    * a plan transform, and still prints both.
    */
  def explain(qe: QueryExecution): String = {
    val sb = new StringBuilder
    ExplainUtils.processPlan(finalOf(qe.executedPlan),
      (s: String) => sb.append(s))
    sb.toString
  }
}
