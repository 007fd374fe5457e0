package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Global sorts of broadcast-sized inputs run in one partition.
  *
  * Spark plans every global `ORDER BY` over a `RangePartitioning`
  * exchange, and the exchange's `RangePartitioner` first runs a sampling
  * job that re-executes the whole child stage to pick its bounds. For an
  * input small enough to broadcast that job costs more than the sort: on a
  * 4-core host a bare one-task job is 14–18 ms, and the small interactive
  * queries pay it once per `ORDER BY`.
  *
  * The strategy applies to a global [[Sort]] whose child's optimizer size
  * estimate is at or below `spark.sql.autoBroadcastJoinThreshold` — the
  * same estimate and the same bound the planner uses to broadcast a join
  * side, so there is no new knob and a threshold of −1 turns both off. It
  * plans a partition-local sort over [[Gather]], a pass-through node
  * whose child must be [[AllTuples]]: `EnsureRequirements` inserts a
  * single-partition exchange only when the child is not already single
  * partition (a sort over an unpartitioned window keeps its plan), and that
  * exchange starts no sampling job. One sorted partition is a global sort.
  *
  * Above the threshold it returns nothing and Spark's range path plans the
  * sort unchanged. A sort under a limit never reaches it: the `Limit` node
  * is planned first and `SpecialLimits` folds the pair into
  * `TakeOrderedAndProject` (for any limit below
  * `spark.sql.execution.topKSortFallbackThreshold`, about 2^31 by default).
  */
object OnePartitionSort {

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
      case Sort(order, true, child, _) if broadcastSized(child) =>
        SortExec(order, global = false, Gather(planLater(child))) :: Nil
      case _ => Nil
    }

    private def broadcastSized(child: LogicalPlan): Boolean = {
      val threshold = SQLConf.get.autoBroadcastJoinThreshold
      threshold >= 0 && child.stats.sizeInBytes <= threshold
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
