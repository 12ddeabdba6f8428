package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into the `private[sql]` / classic-module Dataset constructors —
  * the supported way to wrap a custom [[LogicalPlan]] into the public
  * DataFrame API in Spark 4's interface/classic split (the same pattern
  * Spark's own connectors and delta-style extensions use). */
object DatasetBridge {

  private def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** DataFrame over an arbitrary logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** The session's SQL conf. */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    classic(spark).sessionState.conf

  /** Runs `body` with the session's SQL confs set as local properties, so
    * the tasks of the jobs it starts read them through `SQLConf.get`, as the
    * tasks of a SQL query do. */
  def withSQLConfPropagated[T](spark: SparkSession)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withSQLConfPropagated(classic(spark))(body)

  /** DataFrame over rows already in Catalyst's internal form. */
  def internalDataFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    classic(spark).internalCreateDataFrame(rows, schema, isStreaming = false)

  /** Waits until every queued listener event is delivered. */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The analyzed logical plan of a DataFrame (resolved attributes). */
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Idempotently add a planner strategy to a LIVE session
    * (`experimental.extraStrategies` — the stable post-build injection
    * point; at session build time prefer `SparkSessionExtensions
    * .injectPlannerStrategy`). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = classic(spark).experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Idempotently add an optimizer rule to a LIVE session
    * (`experimental.extraOptimizations` — runs in the optimizer's
    * user-provided batch, to fixed point). */
  def addOptimization(spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = classic(spark).experimental
    if (!exp.extraOptimizations.contains(r))
      exp.extraOptimizations = exp.extraOptimizations :+ r
  }
}
