package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Visibility shims: a handful of Spark internals used by graft are
  * `private[sql]` in Spark 4 (Column↔Expression bridging, the
  * AbstractDataType hierarchy used by ExpectsInputTypes). Re-exported
  * here from inside the org.apache.spark.sql namespace — the standard
  * pattern for Catalyst extension libraries.
  */
object shims {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** Wrap a Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst Expression from a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a Catalyst Expression.
    * [[expression]] wraps the Column in a LAZY `ColumnNodeExpression`
    * placeholder, which only the Dataset API's analysis path replaces —
    * an expression returned from a FunctionRegistry builder keeps the
    * Unevaluable placeholder and fails at codegen. This converts
    * upfront; the resulting `UnresolvedFunction` nodes resolve on the
    * analyzer's next fixed-point pass like any SQL-authored call. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Block until every listener event posted so far has been delivered
    * (the listener bus is private[spark]); listeners see jobs and
    * finished queries asynchronously otherwise. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Wrap a LogicalPlan as a DataFrame (Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a table-valued function on an existing session
    * (TableFunctionRegistry is private[sql]). */
  def registerTableFunction(spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** How many plans the session's CacheManager holds (a DataFrame
    * `persist()` adds one; only `unpersist()` on a frame with the
    * same plan removes it). Read-only — specs and `graft.Verify`
    * use it to show an operator left no cache behind. */
  def cachedEntryCount(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Build a session with the given extensions on an EXISTING
    * SparkContext. `spark.sql.extensions` is a static conf, so the
    * builder path ignores it once a context is running — tests (and
    * embedded deployments) need this hook. */
  def sessionWithExtensions(sc: org.apache.spark.SparkContext,
      f: org.apache.spark.sql.SparkSessionExtensions => Unit): org.apache.spark.sql.SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    f(ext)
    // the 6-arg primary constructor is private; this hook exists for
    // embedded/test use, so reflective access is acceptable here
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors
      .find(_.getParameterCount == 6)
      .getOrElse(throw new IllegalStateException(
        "SparkSession 6-arg constructor not found"))
    ctor.setAccessible(true)
    ctor.newInstance(sc, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }
}
