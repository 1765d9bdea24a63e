package graft.plans

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec,
  ValidateRequirements}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical query-stage preparation rule: a global sort whose input is
  * ONE partition gets a one-partition range exchange.
  *
  * `EnsureRequirements` satisfies a global sort with
  * `RangePartitioning(order, spark.sql.shuffle.partitions)`, and the
  * exchange's RangePartitioner runs a sample job over the sort's whole
  * input to pick the range bounds — for a one-task input, a second
  * full computation of it (q64's JSON scan ran twice this way). With
  * `RangePartitioning(order, 1)` the partitioner has no bounds to pick
  * and samples nothing; the sort's output is the same rows in the same
  * order. The trade: one range exchange instead of a second full
  * computation of the input, paid for with a single sort task. An input
  * larger than AQE's advisory partition size (a one-split scan holds up
  * to `maxPartitionBytes`, and a broadcast join's streamed side can fan
  * out past that) would have been sorted in two or more reduce tasks;
  * here it is sorted in one.
  *
  * Fires only when the exchange's input is provably one partition: a
  * narrow chain — filters and projections over a file scan, or the
  * streamed side of a broadcast hash join — down to a scan whose own
  * `inputRDD` (the RDD it executes) has one partition. There is no size
  * threshold: Spark's split size already caps such a scan's input at
  * `maxPartitionBytes`. Only `ENSURE_REQUIREMENTS` exchanges are touched;
  * a user's `repartitionByRange` keeps its partition count.
  */
object OnePartitionSortExchange extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val next = plan.transformUp {
      case e @ ShuffleExchangeExec(RangePartitioning(order, n), child, ENSURE_REQUIREMENTS, _)
          if n > 1 && onePartition(child) =>
        e.copy(outputPartitioning = RangePartitioning(order, 1))
    }
    // a parent planned against n partitions that no longer holds keeps
    // the original plan
    if ((next ne plan) && ValidateRequirements.validate(next)) next else plan
  }

  private def onePartition(p: SparkPlan): Boolean = p match {
    case f: FilterExec => onePartition(f.child)
    case pr: ProjectExec => onePartition(pr.child)
    case j: BroadcastHashJoinExec =>
      onePartition(if (j.buildSide == BuildRight) j.left else j.right)
    // a subquery in the scan's filters (dynamic pruning) is not
    // evaluated yet; the scan's partitions are not known before it is
    case s: FileSourceScanExec =>
      !(s.partitionFilters ++ s.dataFilters).exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
        s.inputRDD.getNumPartitions == 1
    case _ => false
  }
}
