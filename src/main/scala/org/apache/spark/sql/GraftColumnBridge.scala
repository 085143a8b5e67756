package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Minimal public bridge to `private[sql]` internals: the Column ↔
  * Expression converters (`classic.ExpressionUtils`) that
  * [[graft.plans.GraftExtensions]] registers functions through, and the
  * plan/session hooks of [[graft.operators.Frontier]] and the
  * compactions. Standard extension-library pattern: one object in the
  * Spark package namespace, no behavior of its own.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Eager conversion (ColumnNodeToExpressionConverter, not the lazy
    * ExpressionUtils wrapper): a function-registry builder must return
    * a real Catalyst tree — a deferred ColumnNodeExpression survives
    * analysis unconverted and dies at codegen. */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** `pinned` (an eager checkpoint of `source`) re-wrapped so its
    * LogicalRDD reports the partitioning and ordering of the plan that
    * produced it: under AQE, Dataset.checkpoint reads them off the
    * AdaptiveSparkPlanExec wrapper (UnknownPartitioning), while its
    * final plan, fixed by the checkpoint's own job, is the real layout. */
  def withFinalLayout[T](pinned: Dataset[T], source: Dataset[T]): Dataset[T] = {
    val pin = pinned.asInstanceOf[classic.Dataset[T]]
    (source.asInstanceOf[classic.Dataset[T]].queryExecution.executedPlan,
        pin.logicalPlan) match {
      case (a: AdaptiveSparkPlanExec, r: LogicalRDD) if a.isFinalPlan =>
        val plan = a.executedPlan
        val part = plan.outputPartitioning match { // as LogicalRDD.fromDataset
          case c: PartitioningCollection => c.partitionings.head
          case p => p
        }
        classic.Dataset(pin.sparkSession, r.makeCopy(Array(r.output, r.rdd,
          part, plan.outputOrdering, Boolean.box(r.isStreaming), r.stream)))(
          pin.encoder)
      case _ => pinned
    }
  }

  /** A session sharing `spark`'s context and catalog that starts from a
    * copy of its runtime conf. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
