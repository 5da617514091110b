package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.internal.SQLConf

/** Bridge to `private[sql]` plan plumbing: build a DataFrame from a
  * custom [[LogicalPlan]] (graft.plans.BucketUnionPlan) or rebind a
  * plan into another session, clone a session, and register extra
  * planner strategies on an already-running session (the
  * `SparkSessionExtensions` path covers sessions built with
  * `spark.sql.extensions`).
  */
object PlanBridge {

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A clone of `spark` (conf, strategies, optimizer rules, functions
    * and listeners as of now) that runs its plans interpreted: no
    * whole-stage codegen, and every projection, predicate and ordering
    * through Spark's interpreted implementation (`NO_CODEGEN`). For a
    * stream of small plans that are re-planned every micro-batch,
    * compiling them costs more than running them; `spark` itself is
    * left as it is. */
  def interpretedClone(spark: SparkSession): SparkSession = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    clone.conf.set(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "false")
    clone.conf.set(SQLConf.CODEGEN_FACTORY_MODE.key,
      CodegenObjectFactoryMode.NO_CODEGEN.toString)
    clone
  }

  /** Append a planner strategy if absent (idempotent). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** Append an optimizer rule if absent (idempotent). Runs in the
    * "User Provided Optimizers" fixed-point batch, after the built-in
    * operator optimizations — late enough that pushed-down operators
    * sit where physical planning's PhysicalOperation expects them. */
  def addOptimizerRule(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    exp.synchronized {
      if (!exp.extraOptimizations.contains(r))
        exp.extraOptimizations = exp.extraOptimizations :+ r
    }
  }
}
