package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Offset, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS
import org.apache.spark.sql.internal.SQLConf

/** A total order over at most one minimum partition of input is sorted
  * in that partition: `Sort(order, global, child)` becomes
  * `Sort(order, global, Repartition(1, shuffle = false, child))`.
  * `CoalesceExec(1)` reports `SinglePartition`, so no range exchange is
  * planned, and with it go the range partitioner's sampling job (which
  * runs `child` once more) and the exchange's map job. AQE's cost model
  * counts exchanges, so it adopts the rewritten plan.
  *
  * An AQE runtime rule: it sees `child` after its upstream stages have
  * run, and fires only where `CoalesceShufflePartitions` would merge
  * everything into one partition anyway:
  *  - every leaf of `child` is a materialized shuffle stage added by
  *    EnsureRequirements and not range-partitioned (so neither the
  *    sort's own range stage nor a user repartition), a materialized
  *    broadcast stage, a `LocalRelation` or a file relation, and at
  *    least one leaf is a stage;
  *  - the shuffle stages' map output plus the files' size is at most
  *    `coalescePartitions.minPartitionSize`, below which AQE coalesces
  *    to one partition whatever `minPartitionNum` or
  *    `parallelismFirst` say;
  *  - `child`'s estimated size is at most `advisoryPartitionSizeInBytes`,
  *    against operators that multiply rows;
  *  - partition coalescing is enabled.
  * A sort under a limit is left alone: it is planned as a top-K.
  * AQE off, or the rule named in `spark.sql.adaptive.optimizer.excludedRules`,
  * leaves the plan as Spark makes it.
  */
case object SortOnOnePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.coalesceShufflePartitionsEnabled) rewrite(plan) else plan

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case s @ Sort(_, true, child, _) if fitsOnePartition(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _: GlobalLimit | _: LocalLimit | _: Offset => plan.mapChildren(underLimit)
    case _ => plan.mapChildren(rewrite)
  }

  private def underLimit(plan: LogicalPlan): LogicalPlan = plan match {
    case _: Sort => plan.mapChildren(rewrite)
    case _: Project | _: GlobalLimit | _: LocalLimit | _: Offset => plan.mapChildren(underLimit)
    case _ => rewrite(plan)
  }

  private def fitsOnePartition(child: LogicalPlan): Boolean = child match {
    case Repartition(1, false, _) => false // rewritten in an earlier iteration
    case _ =>
      val leaves = child.collectLeaves()
      val bytes = leaves.map(leafBytes)
      leaves.exists(_.isInstanceOf[LogicalQueryStage]) && bytes.forall(_.isDefined) &&
        bytes.flatten.sum <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) &&
        child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  /** The bytes an accepted leaf adds to the one partition; None for
    * any other leaf. */
  private def leafBytes(leaf: LogicalPlan): Option[BigInt] = leaf match {
    case s: LogicalQueryStage =>
      val bytes = s.physicalPlan.collectLeaves().map(stageBytes)
      if (bytes.forall(_.isDefined)) Some(bytes.flatten.sum) else None
    case _: LocalRelation => Some(0)
    case r: LogicalRelation => r.relation match {
      case f: HadoopFsRelation => Some(f.location.sizeInBytes)
      case _ => None
    }
    case _ => None
  }

  private def stageBytes(stage: SparkPlan): Option[BigInt] = stage match {
    case q: ShuffleQueryStageExec if q.isMaterialized &&
        q.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS &&
        !q.shuffle.outputPartitioning.isInstanceOf[RangePartitioning] =>
      Some(q.mapStats.fold(0L)(_.bytesByPartitionId.sum))
    case q: BroadcastQueryStageExec if q.isMaterialized => Some(0)
    case _ => None
  }
}
