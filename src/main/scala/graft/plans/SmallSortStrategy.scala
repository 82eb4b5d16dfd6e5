package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Global sorts over small inputs run in one task.
  *
  * Stock planning gives every global `Sort` a range-partitioning
  * exchange, and with AQE off that costs a sampling job to pick the range
  * bounds, then a second pass over the sorted input. For an input Spark
  * would broadcast anyway — `child.stats.sizeInBytes` within
  * `spark.sql.autoBroadcastJoinThreshold`, the size Spark already ships
  * to one place — the sort is planned as `SortExec` over
  * `CoalesceExec(1)`: one partition, so no exchange and no sampling job,
  * and the same total order. Off when the threshold is negative (`-1`);
  * larger inputs keep the range-partitioned sort, and streaming plans are
  * left alone. A `Limit` over a `Sort` still plans as
  * `TakeOrderedAndProject`: Spark's `SpecialLimits` takes the pair before
  * the `Sort` is planned on its own.
  *
  * Registered by the table loaders ([[graft.Tables]]) through
  * [[GraftExtensions.useStrategy]].
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sort if s.global && !s.isStreaming && small(s.child) =>
      SortExec(s.order, global = true, CoalesceExec(1, planLater(s.child))) :: Nil
    case _ => Nil
  }

  private def small(child: LogicalPlan): Boolean = {
    val size = child.stats.sizeInBytes
    size >= 0 && size <= SQLConf.get.autoBroadcastJoinThreshold
  }
}
