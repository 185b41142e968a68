package org.apache.spark.sql.graftbridge

import org.apache.spark.errors.SparkCoreErrors
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression conversions (Spark 4
  * moved `Column.expr` behind the classic module). Lives inside the sql
  * package tree solely to widen visibility for graft's custom expressions.
  */
object GraftSql {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` with each reference to a column named by a key of `names` renamed
    * to its value (`c` fully converted by `spark`, SQL strings parsed); `c`
    * itself when it references none of them
    */
  def renameColumns(
      spark: org.apache.spark.sql.SparkSession, c: Column, names: Map[String, String]): Column = {
    val e = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)
    val renamed = e.transform {
      case UnresolvedAttribute(Seq(n)) if names.contains(n) => UnresolvedAttribute(Seq(names(n)))
    }
    if (renamed fastEquals e) c else column(renamed)
  }

  /** Blocks until every event posted to `sc`'s listener bus so far has
    * reached every listener (`listenerBus` is package-private to Spark).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** what `RDD.reduce` (and so `Dataset.reduce`) throws on empty input */
  def emptyCollectionError(): Throwable = SparkCoreErrors.emptyCollectionError()

  /** analyzed logical plan of a DataFrame (classic API) */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over an arbitrary (possibly custom) logical plan */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Runs `body` over the rows of `df`'s executed plan as ONE SQL execution
    * named `name`: the job(s) `body` starts carry its execution id, and
    * query-execution listeners see it as they see an action's.
    */
  def withExecution[T](df: org.apache.spark.sql.DataFrame, name: String)(
      body: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] => T): T = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }
}
