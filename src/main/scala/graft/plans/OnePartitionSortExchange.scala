package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.Partition
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec,
  ValidateRequirements}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

/** Physical query-stage preparation rule: a global sort whose input has
  * rows in ONE partition gets a one-partition range exchange.
  *
  * `EnsureRequirements` satisfies a global sort with
  * `RangePartitioning(order, spark.sql.shuffle.partitions)`, and the
  * exchange's RangePartitioner runs a sample job over the sort's whole
  * input to pick the range bounds — for a one-task input, a second
  * full computation of it (q64's JSON scan ran twice this way). With
  * `RangePartitioning(order, 1)` the partitioner has no bounds to pick
  * and samples nothing; the sort's output is the same rows in the same
  * order. The trade: one range exchange instead of a second full
  * computation of the input, paid for with a single sort task. That
  * task is no worse than the scan: the rows it sorts were read by one
  * scan task, because Parquet reads a row group in the one split that
  * owns it.
  *
  * Fires only when the exchange's input provably has rows in one
  * partition: a narrow chain — filters and projections over a file
  * scan, or the streamed side of a broadcast hash join — down to a scan
  * whose `inputRDD` (the RDD it executes) has at most one partition
  * that owns rows. A partition holding a whole file owns rows. A
  * partition holding part of a split parquet file owns rows when, under
  * Parquet's own split rule, a non-empty row group's midpoint
  * (`getStartingPos + getCompressedSize / 2`) falls inside its part
  * (lineitem's one-row-group file splits into three partitions, and
  * two of them read nothing). Only split files have their footer read,
  * and the count stops at the second owning partition, so a multi-file
  * scan reads no footer. There is no size threshold. Only
  * `ENSURE_REQUIREMENTS` exchanges are touched; a user's
  * `repartitionByRange` keeps its partition count.
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
        owningPartitions(s).take(2).size <= 1
    case _ => false
  }

  /** The scan's partitions that own rows, lazily: a caller that stops
    * early reads no further footer. A wrong answer costs speed, never
    * results: a sort into one partition is correct for any input.
    */
  private def owningPartitions(s: FileSourceScanExec): Iterator[Partition] = {
    lazy val conf = s.relation.sparkSession.sessionState.newHadoopConfWithOptions(s.relation.options)
    val midpoints = scala.collection.mutable.Map.empty[String, Seq[Long]]
    def rowGroupMidpoints(f: PartitionedFile): Seq[Long] =
      midpoints.getOrElseUpdate(f.filePath.toString, {
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(f.toPath, conf), ParquetMetadataConverter.NO_FILTER)
        footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
          .map(b => b.getStartingPos + b.getCompressedSize / 2)
      })
    // a split file of another format is taken to own rows
    val parquet = s.relation.fileFormat.isInstanceOf[ParquetFileFormat]
    def ownsRows(f: PartitionedFile): Boolean =
      (f.start == 0 && f.length == f.fileSize) || !parquet ||
        rowGroupMidpoints(f).exists(m => m >= f.start && m < f.start + f.length)
    s.inputRDD.partitions.iterator.filter {
      case fp: FilePartition => fp.files.exists(ownsRows)
      case _ => true
    }
  }
}
