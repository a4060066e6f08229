package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** A lineage cut that keeps the plan it cut in view, the way
  * `InMemoryRelation` keeps its `cachedPlan`: a pass-through over the
  * checkpoint's `LogicalRDD` whose inner child is the executed plan that
  * produced the rows. `explain()` and `queryExecution.*.toString` print
  * that plan (pruned scans, aggregates) below the cut; analysis,
  * optimization and `collectLeaves()` see only the `LogicalRDD`.
  *
  * The kept plan sits in the second parameter list, so it takes no part
  * in equality, canonicalization or `argString`, and it is `@transient`:
  * a downstream closure that serializes this node never ships it.
  */
case class CheckpointCut(child: LogicalPlan)(@transient val cutPlan: SparkPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def innerChildren: Seq[QueryPlan[_]] = Seq(cutPlan)
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(cutPlan)
  override protected def withNewChildInternal(newChild: LogicalPlan)
      : CheckpointCut = copy(child = newChild)(cutPlan)
}

/** Physical twin of [[CheckpointCut]]: forwards its child's rows,
  * partitioning and ordering unchanged, and joins its child's
  * whole-stage-codegen stage as a no-op, so the plan above the cut
  * compiles and exchanges exactly as it did over the bare `RDDScanExec`.
  * Prints the kept plan as an inner child.
  */
case class CheckpointCutExec(child: SparkPlan)(@transient val cutPlan: SparkPlan)
    extends UnaryExecNode with CodegenSupport {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def innerChildren: Seq[QueryPlan[_]] = Seq(cutPlan)
  override protected def otherCopyArgs: Seq[AnyRef] = Seq(cutPlan)
  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def supportCodegen: Boolean = child match {
    case c: CodegenSupport => c.supportCodegen
    case _ => false
  }
  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()
  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)
  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = consume(ctx, input)

  override protected def withNewChildInternal(newChild: SparkPlan)
      : CheckpointCutExec = copy(child = newChild)(cutPlan)
}

object CheckpointCutStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: CheckpointCut => CheckpointCutExec(planLater(c.child))(c.cutPlan) :: Nil
    case _ => Nil
  }

  /** Install the strategy on a session once; concurrent callers (the
    * batch-recall channel pool) race on the same `extraStrategies` var,
    * hence the lock.
    */
  private def register(spark: classic.SparkSession): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(this))
        exp.extraStrategies = this +: exp.extraStrategies
    }
  }

  /** Eager `localCheckpoint` of `df` whose result keeps `df`'s executed
    * plan as the cut's inner child. No extra job: the plan kept is the
    * one the checkpoint itself ran. Under AQE only the final plan is kept,
    * not the initial one as well: every SQL listener event of a query
    * over the cut renders it again.
    */
  def localCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val cut = df.localCheckpoint()
    val ran = df.queryExecution.executedPlan match {
      case aqe: AdaptiveSparkPlanExec => aqe.executedPlan
      case plan => plan
    }
    register(spark)
    GraftShim.ofRows(spark, CheckpointCut(cut.queryExecution.logical)(ran))
  }
}
