package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * conversion (`org.apache.spark.sql.classic.ExpressionUtils`), needed to
  * expose custom Catalyst expressions (e.g. [[graft.functions.VecDot]])
  * through the public Column API on Spark 4, plus the Dataset↔LogicalPlan
  * hops a custom logical operator (e.g. [[graft.plans.TopKPerKeyNode]])
  * needs to enter and leave the public DataFrame API. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The ANALYZED logical plan of a DataFrame — attribute references in
    * it are resolved, so expressions built from `df.col(...)` bind. */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wrap a logical plan back into a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `cols` over rows of `schema`, analyzed and bound to the rows'
    * ordinals: expressions a task evaluates on each `InternalRow` it is
    * handed (through a projection), with no plan around them. */
  def bound(spark: SparkSession, schema: StructType,
      cols: Seq[Column]): Seq[Expression] =
    analyzed(ofRows(spark, LocalRelation(schema)).select(cols: _*)) match {
      case Project(list, child) => list.map { e =>
        val bare = e match { case a: Alias => a.child; case x => x }
        BindReferences.bindReference(
          bare.transformUp { case r: RuntimeReplaceable => r.replacement },
          child.output)
      }
      case other => throw new IllegalStateException(
        s"a projection over $schema analyzed to ${other.nodeName}")
    }

  /** Run `body` — an action over `df.queryExecution.toRdd` — as a SQL
    * execution of `df`'s plan named `name`: the session's SQL conf
    * reaches the tasks, and the job shows under its query, as a
    * `df.write` would. */
  def withExecution[T](df: Dataset[_], name: String)(body: => T): T =
    SQLExecution.withNewExecutionId(
      df.asInstanceOf[classic.Dataset[_]].queryExecution, Some(name))(body)
}
