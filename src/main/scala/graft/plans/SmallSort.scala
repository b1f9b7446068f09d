package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule: a small global sort reads its input
  * through one partition instead of a range shuffle.
  *
  * `EnsureRequirements` plans every global `SortExec` on a
  * `RangePartitioning` exchange. Its `RangePartitioner` first runs a
  * sampling job that recomputes the whole stage below the exchange;
  * for a single-task source parse that is the parse run twice. When the
  * sort's input is at most the advisory partition size
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, the shuffle
  * output AQE deems right for one partition), the exchange becomes
  * `SinglePartition`: no sampling job, no recompute, one task sorts
  * the input. Rows and their order are the same; ties keep the order
  * they arrive in, as within a range partition.
  *
  * Only exchanges `EnsureRequirements` added for a global sort are
  * rewritten: an explicit `repartitionByRange` has another shuffle
  * origin, and joins and windows ask for clustering, not order. The
  * size is the input's logical-plan statistics; a node without a
  * logical link is left alone. Under AQE the rule runs again at every
  * re-plan, when the statistics of materialized stages are runtime
  * sizes, so a sort over a large stage keeps its range partitioning.
  */
case class SmallSort(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val limit = session.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    plan.transformUp {
      case s @ SortExec(_, true, e @ ShuffleExchangeExec(_: RangePartitioning, child,
          ENSURE_REQUIREMENTS, _), _)
          if child.logicalLink.exists(_.stats.sizeInBytes <= limit) =>
        s.withNewChildren(Seq(e.copy(outputPartitioning = SinglePartition)))
    }
  }
}
