package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Column ⇄ Expression bridge. Spark 4 made `Column` expression-agnostic
 * (columnNodeSupport.scala) and scoped the converters `private[sql]`; this
 * shim re-exports them for graft's custom Catalyst expressions
 * (graft.functions.GraftExpressions). Public Spark API only — no behavior.
 */
object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a builder in the session's function registry (for SQL use). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Executed (physical) plan rendered as a string — for plan assertions. */
  def executedPlanString(df: Dataset[Row]): String =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)

  /** FileSourceScanExec leaves of the FINAL physical plan (descends through
    * AQE wrappers, materialized query stages, and subqueries) — for
    * scan-pruning assertions on executed queries. */
  def fileScans(df: Dataset[Row]): Seq[execution.FileSourceScanExec] = {
    def rec(p: execution.SparkPlan): Seq[execution.FileSourceScanExec] = {
      val self = p match {
        case f: execution.FileSourceScanExec => Seq(f)
        case a: execution.adaptive.AdaptiveSparkPlanExec => rec(a.executedPlan)
        case q: execution.adaptive.QueryStageExec => rec(q.plan)
        case _ => Nil
      }
      self ++ p.children.flatMap(rec) ++ p.subqueries.flatMap(rec)
    }
    rec(df.asInstanceOf[classic.Dataset[Row]].queryExecution.executedPlan)
  }

  /** Semantic hash of the analyzed logical plan — cache keys derived from
    * it self-invalidate when the deriving logic changes (no hand-bumped
    * version tags). */
  def planHash(df: Dataset[Row]): Int =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.semanticHash()

  /** Analyzed logical plan of a DataFrame: its relations resolved (a file
    * source's listing done), ready to re-wrap with [[ofPlan]]. */
  def analyzedPlan(df: Dataset[Row]): catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** A new DataFrame over an analyzed plan, resolving nothing again (the
    * package-private Dataset factory). The plan is wrapped in a fresh
    * Project so each DataFrame's tags land on its own node, never on the
    * shared plan. */
  def ofPlan(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.Project(plan.output, plan))

  /** DataFrame → RDD[InternalRow] (post-optimization physical output). */
  def toInternalRdd(df: Dataset[Row]): org.apache.spark.rdd.RDD[catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** RDD[InternalRow] + schema → DataFrame (no conversion/copy). */
  def fromInternalRdd(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): Dataset[Row] =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
