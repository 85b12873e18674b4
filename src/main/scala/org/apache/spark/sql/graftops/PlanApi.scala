package org.apache.spark.sql.graftops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, ExpressionUtils, SparkSession => CSparkSession}

/** Bridge into Spark's `private[sql]` / `private[spark]` API: the plan
  * constructor so custom logical plans (graft.plans.AsOfJoin) can surface
  * as DataFrames, the listener bus drain and a task's own I/O metrics.
  * Lives under `org.apache.spark.sql` for access; contains no logic. */
object PlanApi {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Release the storage blocks behind a `localCheckpoint`-ed frame.
    * Checkpoint blocks are RDD-level, NOT CacheManager entries, so
    * `spark.catalog.clearCache()` never drops them and they otherwise
    * linger until the ContextCleaner happens to GC the RDD reference —
    * which in a long-lived session (a bench loop, a daemon) is exactly
    * the storage-accumulation failure mode. Iterative operators call
    * this on each superseded generation. Safe on any frame: only
    * LogicalRDD leaves are touched, and unpersisting a non-persisted
    * RDD is a no-op. Non-blocking: the caller has already materialized
    * the successor generation, so the blocks are dead weight. */
  def releaseCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Block until every listener event posted so far has reached every
    * listener. Events travel on an async bus, so a count read right after
    * an action can miss its tail; `listenerBus` is `private[spark]`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Count a task's own file bytes in its I/O metrics (`private[spark]`). */
  def countTaskBytes(t: org.apache.spark.TaskContext, read: Long, written: Long): Unit = {
    t.taskMetrics().inputMetrics.incBytesRead(read)
    t.taskMetrics().outputMetrics.setBytesWritten(written)
  }

  /** Test access to the private[sql] extension builders. */
  def plannerStrategiesOf(e: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[Any] =
    e.buildPlannerStrategies(spark.asInstanceOf[CSparkSession])
  def optimizerRulesOf(e: org.apache.spark.sql.SparkSessionExtensions,
      spark: SparkSession): Seq[Any] =
    e.buildOptimizerRules(spark.asInstanceOf[CSparkSession])
}
