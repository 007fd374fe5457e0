package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, LeafNode, LogicalPlan, Project, Repartition, Sort, SubqueryAlias, Union}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning}
import org.apache.spark.sql.execution.{
  CoalesceExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Broadcast-sized reads under a global sort or an aggregate run as one
  * task, with no exchange.
  *
  * Spark plans every global `ORDER BY` over a `RangePartitioning` exchange,
  * whose `RangePartitioner` first runs a sampling job over the whole child
  * stage, and every aggregate over a hash exchange, which AQE runs as a
  * stage of its own. For an input small enough to broadcast these jobs cost
  * more than the work: on a 4-core host each one is 40–100 ms, while the
  * scan and the aggregate of a 40k-row table take a few milliseconds in one
  * task. Small interactive queries pay them on every run.
  *
  * The strategy applies when the plan is not streaming and the input's
  * optimizer size estimate is at or below
  * `spark.sql.autoBroadcastJoinThreshold` — the estimate and the bound the
  * planner uses to broadcast a join side, so there is no new knob and a
  * threshold of −1 turns both off. It plans:
  *
  *  - a global [[Sort]] or an [[Aggregate]] over a ''read'' — a leaf
  *    relation under [[Project]], [[Filter]], [[SubqueryAlias]] and
  *    [[Union]] nodes whose expressions are all deterministic and free of
  *    user-defined functions — over `CoalesceExec(1)`. The read runs as one
  *    task whose output is `SinglePartition`, so `EnsureRequirements`
  *    inserts no exchange, AQE has no stage to split and the query is one
  *    job. The aggregate gets this by being planned again over a logical
  *    `Repartition(1, shuffle = false)`, which Spark's own strategies turn
  *    into the coalesce. The aggregate's own expressions pass the same test,
  *    so a UDF or UDAF there keeps the parallel plan.
  *  - a global sort over any other child as a partition-local `SortExec`
  *    over [[Gather]], a pass-through node whose child must be
  *    [[AllTuples]]: `EnsureRequirements` inserts a single-partition
  *    exchange only when the child is not already one partition, so the
  *    child's own stage stays parallel and no sampling job runs.
  *
  * One sorted partition is a global sort. Nondeterministic expressions and
  * UDFs keep Spark's plan: the first may read the partition index, and the
  * second may be costly enough to want the parallel tasks. Above the
  * threshold the strategy returns nothing and Spark plans the node
  * unchanged. A sort under a limit never reaches it: the `Limit` node is
  * planned first and `SpecialLimits` folds the pair into
  * `TakeOrderedAndProject` (for any limit below
  * `spark.sql.execution.topKSortFallbackThreshold`, about 2^31 by default).
  */
object OnePartition {

  /** Pass-through node that requires its whole input in one partition. */
  case class Gather(child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = child.outputOrdering
    override protected def doExecute(): RDD[InternalRow] = child.execute()
    override protected def withNewChildInternal(newChild: SparkPlan): Gather =
      copy(child = newChild)
  }

  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case _ if plan.isStreaming => Nil
      case Sort(order, true, child, _) if broadcastSized(child) =>
        val one = if (isRead(child)) CoalesceExec(1, planLater(child)) else Gather(planLater(child))
        SortExec(order, global = false, one) :: Nil
      case a: Aggregate if plain(a) && isRead(a.child) && broadcastSized(a.child) =>
        planLater(a.copy(child = Repartition(1, shuffle = false, a.child))) :: Nil
      case _ => Nil
    }

    private def broadcastSized(child: LogicalPlan): Boolean = {
      val threshold = SQLConf.get.autoBroadcastJoinThreshold
      threshold >= 0 && child.stats.sizeInBytes <= threshold
    }

    private def isRead(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => plain(p)
      case _: Project | _: Filter | _: SubqueryAlias | _: Union =>
        plain(p) && p.children.forall(isRead)
      case _ => false
    }

    private def plain(p: LogicalPlan): Boolean = p.expressions.forall { e =>
      e.deterministic && !e.exists(_.isInstanceOf[UserDefinedExpression])
    }
  }

  /** Appends the strategy to the session's `experimental.extraStrategies`
    * unless it is already there. Synchronized on the session for the
    * reason [[AsOfJoinPlan.ensureStrategy]] gives; `extraOptimizations`,
    * which other code overwrites, is a separate list.
    */
  def install(spark: SparkSession): Unit = spark.synchronized {
    if (!spark.experimental.extraStrategies.contains(Strategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ Strategy
  }
}
