package org.apache.spark.sql.graft

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Expression ⇄ Column bridge. `ExpressionUtils` is `private[sql]`, so the
  * shim lives under the org.apache.spark.sql namespace (the standard
  * technique for libraries that construct Catalyst expressions carrying
  * non-literal state — here: centroid tables, PQ LUTs, probe sets).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The column names `c` references, as written (before resolution). */
  def columnNames(c: Column): Seq[String] = c.node.collect {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
      a.nameParts.mkString(".")
  }

  /** `df`'s rows collected to the driver (one Spark action) as a local
    * relation over fresh attributes of the same names and types. The
    * collected UnsafeRows are kept as they arrive, with no round trip
    * through external `Row`s.
    */
  def localCopy(df: DataFrame): LocalRelation = {
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }
    LocalRelation(qe.analyzed.output.map(_.newInstance()),
      ArraySeq.unsafeWrapArray(rows))
  }

  /** `df`'s rows, read on the calling thread with no Spark action, when
    * its analyzed plan is a chain of deterministic projections over a
    * local relation: each projection's analyzed expressions are
    * evaluated interpreted over the rows below it, and the result is
    * converted to external rows as `collect` converts them. None for any
    * other plan (the caller collects).
    */
  def localRows(df: DataFrame): Option[Array[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.InterpretedProjection
    import org.apache.spark.sql.catalyst.plans.logical.Project
    def rows(plan: LogicalPlan): Option[Seq[InternalRow]] = plan match {
      case r: LocalRelation => Some(r.data)
      case Project(list, child) if list.forall(_.deterministic) =>
        rows(child).map { in =>
          val p = new InterpretedProjection(list, child.output)
          p.initialize(0)
          in.map(p)
        }
      case _ => None
    }
    rows(df.queryExecution.analyzed).map { in =>
      val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(df.schema)
      in.iterator.map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row]).toArray
    }
  }

  /** The frame of logical plan `plan` in session `spark`. */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)
}
