package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftSqlAccess, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, DynamicPruning, SortOrder, UserDefinedExpression}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight, BuildSide, JoinSelectionHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.JoinType
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Expand, Filter, Generate, Join, LeafNode, LogicalPlan, Project, Sort, Statistics,
  SubqueryAlias, UnaryNode, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning}
import org.apache.spark.sql.execution.{
  CoalesceExec, SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.apache.spark.sql.internal.SQLConf

/** A broadcast-sized query runs as one task, with no exchange and no
  * broadcast.
  *
  * Spark plans every global `ORDER BY` over a `RangePartitioning` exchange,
  * whose `RangePartitioner` first runs a sampling job over the whole child
  * stage; every aggregate, window and shuffled join over a hash exchange,
  * which AQE runs as a stage of its own; and every broadcast join over a
  * broadcast exchange, which collects its side in a job of its own. For an
  * input small enough to broadcast these jobs cost more than the work: on a
  * 4-core host each one is 40–100 ms, while the scan and the aggregate of a
  * 40k-row table take a few milliseconds in one task. Small interactive
  * queries pay them on every run.
  *
  * A ''one-task tree'' is a non-streaming subtree built from leaf reads and
  * [[Project]], [[Filter]], [[SubqueryAlias]], [[Union]], [[Expand]],
  * [[Generate]], [[Aggregate]], [[Window]] and equi-[[Join]] nodes whose
  * expressions are all deterministic and free of user-defined functions,
  * and whose leaves' optimizer size estimates sum to at most
  * `spark.sql.autoBroadcastJoinThreshold` — the estimate and the bound the
  * planner uses to broadcast a join side, so there is no new knob and a
  * threshold of −1 turns both off. Such a tree runs as one task whose
  * output is `SinglePartition`, which satisfies every distribution a join,
  * an aggregate or a window requires, so `EnsureRequirements` inserts no
  * exchange, AQE has no stage to split and the query is one job:
  *
  *  - an [[Aggregate]] or a [[Window]] is planned again over a [[OneTask]]
  *    child, which plans as `CoalesceExec(1)`;
  *  - an equi-join is a `ShuffledHashJoinExec` over two [[OneTask]] sides.
  *    It builds no broadcast, even for a side with a `broadcast` hint: the
  *    hint is a planning preference, not semantics;
  *  - a global [[Sort]] is a partition-local `SortExec` over a [[OneTask]]
  *    child, or over [[Gather]] when the child is an aggregate, a window
  *    or a join, whose plan is already one partition. One sorted
  *    partition is a global sort.
  *
  * A broadcast-sized global sort over any other child is a partition-local
  * `SortExec` over [[Gather]], a pass-through node whose child must be
  * [[AllTuples]]: `EnsureRequirements` inserts a single-partition exchange
  * only when the child is not already one partition, so the child's own
  * stage stays parallel and no sampling job runs.
  *
  * Spark's plan stays for nondeterministic expressions, which may read the
  * partition index; for UDFs and typed `MapPartitions`, whose user code may
  * be costly enough to want the parallel tasks; for a tree holding a
  * `DynamicPruning` filter, whose runtime filter reuses the broadcast of
  * Spark's join; for a tree that reads a `RowLevelOperationTable`, so
  * DELETE, UPDATE and MERGE commits plan as Spark plans them; and above the
  * threshold, so the 100 TB path is unchanged. A sort under a limit never
  * reaches this strategy: the `Limit` node is planned first and
  * `SpecialLimits` folds the pair into `TakeOrderedAndProject` (for any
  * limit below `spark.sql.execution.topKSortFallbackThreshold`, about 2^31
  * by default), whose child is then planned here.
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

  /** A one-task tree's input, planned as `CoalesceExec(1)` over `child`.
    * It exists only while the strategy plans, and it is the logical link
    * of that coalesce. Its size is the bytes its leaves read, not the
    * optimizer's output estimate, which for a join is the product of its
    * sides: `EnsureRequirements` keeps single-partition join sides only
    * while each side's logical size is at most
    * `spark.sql.maxSinglePartitionBytes`, and the product of two small
    * tables would re-shuffle a nested join.
    */
  case class OneTask(child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override def stats: Statistics = Statistics(sizeInBytes = leafBytes(child))
    override protected def withNewChildInternal(newChild: LogicalPlan): OneTask =
      copy(child = newChild)
  }

  private def leafBytes(p: LogicalPlan): BigInt = p.collectLeaves().map(_.stats.sizeInBytes).sum

  object Strategy extends SparkStrategy with JoinSelectionHelper {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case _ if plan.isStreaming => Nil
      case OneTask(child) => CoalesceExec(1, planLater(child)) :: Nil
      case Sort(order, true, child, _) if oneTask(child) && !plansOnePartition(child) =>
        SortExec(order, global = false, planLater(OneTask(child))) :: Nil
      case Sort(order, true, child, _) if oneTask(child) || broadcastSized(child) =>
        SortExec(order, global = false, Gather(planLater(child))) :: Nil
      case a: Aggregate if oneTask(a) => planLater(a.copy(child = OneTask(a.child))) :: Nil
      case w: Window if oneTask(w) => planLater(w.copy(child = OneTask(w.child))) :: Nil
      case j @ ExtractEquiJoinKeys(joinType, leftKeys, rightKeys, condition, _, left, right, _)
          if oneTask(j) =>
        ShuffledHashJoinExec(leftKeys, rightKeys, joinType, buildSide(joinType, left, right),
          condition, planLater(OneTask(left)), planLater(OneTask(right))) :: Nil
      case _ => Nil
    }

    private def threshold: Long = SQLConf.get.autoBroadcastJoinThreshold

    private def broadcastSized(child: LogicalPlan): Boolean =
      threshold >= 0 && child.stats.sizeInBytes <= threshold

    private def oneTask(p: LogicalPlan): Boolean =
      threshold >= 0 && oneTaskTree(p) && leafBytes(p) <= threshold

    private def oneTaskTree(p: LogicalPlan): Boolean = plain(p) && (p match {
      case r: DataSourceV2Relation => !GraftSqlAccess.isRowLevelOperationTable(r.table)
      case r: DataSourceV2ScanRelation => !GraftSqlAccess.isRowLevelOperationTable(r.relation.table)
      case _: LeafNode => true
      case _: Project | _: Filter | _: SubqueryAlias | _: Union | _: Expand | _: Generate |
          _: Aggregate | _: Window => p.children.forall(oneTaskTree)
      case ExtractEquiJoinKeys(joinType, _, _, _, _, _, _, _) =>
        (canBuildShuffledHashJoinLeft(joinType) || canBuildShuffledHashJoinRight(joinType)) &&
          p.children.forall(oneTaskTree)
      case _ => false
    })

    /** Whether a one-task tree's plan is one partition without a coalesce
      * on top: an aggregate, a window or a join, under projections and
      * filters.
      */
    private def plansOnePartition(p: LogicalPlan): Boolean = p match {
      case _: Aggregate | _: Window | _: Join => true
      case _: Project | _: Filter | _: SubqueryAlias => plansOnePartition(p.children.head)
      case _ => false
    }

    private def plain(p: LogicalPlan): Boolean = p.expressions.forall { e =>
      e.deterministic && !e.exists {
        case _: UserDefinedExpression | _: DynamicPruning => true
        case _ => false
      }
    }

    /** The smaller side when the join type can build either. */
    private def buildSide(joinType: JoinType, left: LogicalPlan, right: LogicalPlan): BuildSide =
      if (!canBuildShuffledHashJoinLeft(joinType)) BuildRight
      else if (!canBuildShuffledHashJoinRight(joinType)) BuildLeft
      else getSmallerSide(left, right)
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
