package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit,
  LocalLimit, LogicalPlan, Project, Sort, Union, Window}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, PartitionedFileUtil, SortExec,
  SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{CoalesceShufflePartitions,
  LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort whose input Spark reads as one partition anyway as
  * `SortExec(global, CoalesceExec(1, child))`. `SinglePartition` satisfies
  * the sort's `OrderedDistribution`, so no range exchange is planned: the
  * range partitioner's sampling job and the range shuffle's map job both
  * disappear. Any other global sort falls through to Spark's own range
  * sort. The input counts as one partition in two cases:
  *
  *  - '''Runtime.''' During adaptive re-planning every leaf under the sort
  *    is a materialized shuffle stage, and their bytes are ones AQE's own
  *    partition coalescing would read as one partition (the target size of
  *    `CoalesceShufflePartitions`, from the same confs). Only operators that
  *    never multiply rows (projections, filters, aggregates, windows, sorts,
  *    limits, unions; no join, `Generate` or `Expand`) sit between the
  *    stages and the sort.
  *  - '''Static.''' The input is one non-bucketed file scan that
  *    `FileSourceScanExec` splits into at most one partition (its own
  *    max-split-bytes rule), under only projections, filters and local
  *    limits, which run in the scan's task.
  *
  * Installed beside [[AsofJoinStrategy]] by `GraftFunctions.register` and
  * `GraftExtensions`. */
object SmallSortStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s @ Sort(order, true, child, _) if !s.isStreaming && onePartition(child) =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Would Spark read `input` as a single partition anyway? */
  private def onePartition(input: LogicalPlan): Boolean =
    stagedBytes(input).exists(fitsOneCoalescedPartition) || oneSplitScan(input)

  /** The summed map-output bytes under `p` when every leaf is a
    * materialized shuffle stage that AQE may coalesce, and only
    * row-non-increasing operators sit above them; None otherwise. A range
    * shuffle stage counts as no such leaf: it has already paid the
    * sampling and map jobs this rule drops. The operators a query stage
    * wraps above its exchange are the rest of the one logical node the
    * exchange splits (an aggregate's final half), never a join. */
  private def stagedBytes(p: LogicalPlan): Option[Long] = p match {
    case LogicalQueryStage(_, physical) =>
      val stages = physical.collect { case s: QueryStageExec => s }
      val bytes = stages.collect {
        case s: ShuffleQueryStageExec if s.isMaterialized && coalescable(s) &&
            !s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning] =>
          s.mapStats.map(_.bytesByPartitionId.sum)
      }.flatten
      Option.when(stages.nonEmpty && bytes.size == stages.size)(bytes.sum)
    case _: Project | _: Filter | _: Aggregate | _: Window | _: Sort |
         _: LocalLimit | _: GlobalLimit | _: Union =>
      val parts = p.children.map(stagedBytes)
      Option.when(parts.forall(_.isDefined))(parts.flatten.sum)
    case _ => None
  }

  private def coalescable(s: ShuffleQueryStageExec): Boolean =
    CoalesceShufflePartitions(SparkSession.active).isSupported(s.shuffle)

  /** `CoalesceShufflePartitions`' target size for `bytes` of shuffle
    * output: the advisory size, lowered to `bytes / minNumPartitions`
    * when parallelism comes first, but never under the minimum partition
    * size. AQE reads the bytes as one partition when they fit it. */
  private def fitsOneCoalescedPartition(bytes: Long): Boolean = {
    val conf = SQLConf.get
    conf.coalesceShufflePartitionsEnabled && {
      val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse {
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
          SparkSession.active.sparkContext.defaultParallelism
        else 1
      }
      val target = math.ceil(bytes / math.max(minNum, 1).toDouble).toLong
        .min(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        .max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      bytes <= target
    }
  }

  /** Is `p` one file scan that Spark splits into at most one partition,
    * under only operators that run in the scan's own task? */
  private def oneSplitScan(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter | _: LocalLimit => oneSplitScan(p.children.head)
    // one read partition packs at most filesMaxPartitionBytes of
    // splittable files: a larger relation is not listed and split here
    case LogicalRelation(fs: HadoopFsRelation, _, _, false, _) if fs.bucketSpec.isEmpty =>
      fs.location.sizeInBytes <= SQLConf.get.filesMaxPartitionBytes && filePartitions(fs) <= 1
    case _ => false
  }

  /** The number of read partitions `FileSourceScanExec` makes of all of
    * `fs`'s files, by its own max-split-bytes, file splitting and packing.
    * A pruned scan reads a subset of them. */
  private def filePartitions(fs: HadoopFsRelation): Int = {
    val session = fs.sparkSession
    val selected = fs.location.listFiles(Nil, Nil)
    val maxSplitBytes = FilePartition.maxSplitBytes(session, selected)
    val splits = selected.flatMap { dir =>
      dir.files.flatMap { f =>
        PartitionedFileUtil.splitFiles(f, f.getPath,
          fs.fileFormat.isSplitable(session, fs.options, f.getPath),
          maxSplitBytes, dir.values)
      }
    }.sortBy(-_.length)
    FilePartition.getFilePartitions(session, splits, maxSplitBytes).size
  }
}
