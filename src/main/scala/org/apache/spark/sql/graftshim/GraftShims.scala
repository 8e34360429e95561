package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Classic-backend bridge between the public `Column` API and Catalyst
 * `Expression`s. Spark 4 made `Column` backend-agnostic, so converting in
 * either direction (needed to build native expressions and to analyze
 * user message expressions) goes through `private[sql]` utilities — this
 * shim lives inside `org.apache.spark.sql` to reach them, mirroring the
 * SparkShims approach of reference
 * core/src/main/scala-spark-4/.../SparkShims.scala.
 */
object GraftShims {
  /** Post `event` on the context's listener bus; listeners get it in
   * `onOtherEvent`, in order with the job events around it. */
  def postEvent(spark: SparkSession, event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(event)

  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Unwrap a Column to its (possibly unresolved) Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column to a full unresolved Catalyst tree (the lazy
   * `ColumnNodeExpression` wrapper hides the children from tree walks —
   * needed for expression analysis like the Pregel dst-join elision). */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a session-scoped native function (invoke via `call_function`). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  def dropFunction(spark: SparkSession, name: String): Unit =
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))

  /** DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`);
   * used by the Connect plugin to rehydrate client-shipped relations. */
  def ofRows(spark: org.apache.spark.sql.classic.SparkSession,
      plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)

  /** The analyzed-side logical plan of a DataFrame (classic backend). */
  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.logical

  /** RDD ids a (local)checkpointed frame pins in the block manager: the
   * ids behind its `LogicalRDD` leaves. `Dataset.unpersist` cannot free
   * these (they were persisted at the RDD level, not via the
   * CacheManager); callers that want to release a finished iteration
   * result early pass them to `SparkContext.getPersistentRDDs`. */
  def logicalRddIds(df: DataFrame): Seq[Int] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }

  /** Uncache (non-cascading) every CacheManager entry whose cached plan
   * appears as a subtree of this frame's analyzed plan — the release hook
   * for operators that `persist` an internal shared frame their lazy
   * result consumes more than once (fuzzyPairs' block-filtered side,
   * Cliques' oriented edges, Recommend's basket pairs, tfCosine's
   * normalized vectors): the operator cannot unpersist before the caller
   * materializes, so the caller calls this AFTER consuming the result.
   * Non-cascading: a cached frame built ON TOP of a released one keeps
   * its own materialized blocks. */
  def uncacheReferenced(df: DataFrame): Unit = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val cm = spark.sharedState.cacheManager
    // distinct cached subtrees first (uncaching while walking would
    // re-run sameResult checks against a shrinking cache mid-traversal)
    val hits = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    ds.queryExecution.analyzed.foreach { sub =>
      if (cm.lookupCachedData(spark, sub).isDefined &&
          !hits.exists(_.sameResult(sub))) hits += sub
    }
    hits.foreach(p => cm.uncacheQuery(spark, p, cascade = false))
  }
}
