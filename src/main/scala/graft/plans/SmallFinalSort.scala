package graft.plans

import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec,
  GenerateExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE query-stage prep rule: a small final sort runs in one partition.
  *
  * A global `orderBy` at a query's root plans a range exchange, and its
  * `RangePartitioner` runs a sampling job that computes the sort's input
  * once more before the shuffle computes it again. When the sort input is
  * at most `spark.sql.adaptive.advisoryPartitionSizeInBytes` (the size AQE
  * aims a shuffle partition at), this rule makes that exchange a
  * `SinglePartition` one: no sampling job, the input is computed once,
  * and one task sorts it. The size is the sort's logical estimate, which
  * AQE replaces with runtime statistics for every stage below that has
  * run, and the rule is re-applied at each re-plan.
  *
  * Matched: a global `SortExec` at the plan root, under any number of
  * deterministic `ProjectExec`s and a file write's `DataWritingCommandExec`
  * and `WriteFilesExec`, whose child is a range `ShuffleExchangeExec` of
  * origin `ENSURE_REQUIREMENTS`. Never touched:
  * user `repartitionByRange` (`Layout.zorderBy`, `Fills.globalFill`: other
  * origins), sorts below the root, a project of nondeterministic values
  * (partition ids would change), and a sort whose input stage contains a
  * `GenerateExec` (Spark's size estimate ignores explode fan-out).
  *
  * In place: when that bound holds and the sort input is, through
  * deterministic `ProjectExec`s and `FilterExec`s, a non-bucketed
  * `FileSourceScanExec` that reads in one partition, the exchange becomes
  * `CoalesceExec(1)` instead: the scan's one task sorts its own rows, so
  * the shuffle stage and its job go and no parallelism is lost (the input
  * had one task either way). The partition count is the scan's own read
  * RDD, which lists files but runs nothing. Never made in place: a
  * bucketed or multi-split scan, any other operator between the scan and
  * the exchange, and a scan with a dynamic-pruning or other subquery
  * filter (its count would evaluate a runtime filter while planning);
  * these keep the `SinglePartition` exchange.
  *
  * A small sorted frame written to files is now one partition, so it
  * writes one file (AQE's coalescing often gave one file already, after
  * the sampling job).
  */
object SmallFinalSort extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan match {
    case p: ProjectExec if p.projectList.forall(_.deterministic) => under(p)
    case w: DataWritingCommandExec => under(w)
    case w: WriteFilesExec => under(w)
    case s @ SortExec(_, true,
          e @ ShuffleExchangeExec(_: RangePartitioning, input, ENSURE_REQUIREMENTS, _), _)
        if small(s) && !stageHasGenerate(input) =>
      s.withNewChildren(Seq(
        if (oneSplitScan(input)) CoalesceExec(1, input)
        else e.copy(outputPartitioning = SinglePartition)))
    case other => other
  }

  private def under(p: SparkPlan): SparkPlan = {
    val child = apply(p.children.head)
    if (child eq p.children.head) p else p.withNewChildren(Seq(child))
  }

  private def small(sort: SortExec): Boolean =
    sort.logicalLink.exists(
      _.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))

  /** Whether the stage feeding the exchange (down to the stages below it)
    * contains a `GenerateExec`.
    */
  private def stageHasGenerate(p: SparkPlan): Boolean = p match {
    case _: GenerateExec => true
    case _: Exchange | _: QueryStageExec => false
    case other => other.children.exists(stageHasGenerate)
  }

  /** Whether `p` is a one-partition, non-bucketed file scan under
    * deterministic projects and filters, with no runtime filter anywhere.
    */
  private def oneSplitScan(p: SparkPlan): Boolean = p match {
    case ProjectExec(list, child) => list.forall(static) && oneSplitScan(child)
    case FilterExec(cond, child) => static(cond) && oneSplitScan(child)
    case f: FileSourceScanExec =>
      f.relation.bucketSpec.isEmpty && (f.partitionFilters ++ f.dataFilters).forall(static) &&
        f.inputRDD.getNumPartitions == 1
    case _ => false
  }

  /** Deterministic, with no dynamic-pruning or subquery expression inside. */
  private def static(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: DynamicPruning | _: PlanExpression[_] => true
    case _ => false
  }
}
