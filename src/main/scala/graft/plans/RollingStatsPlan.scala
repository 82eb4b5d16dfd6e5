package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

import graft.functions.RollingWindow

/** Whole-operator form of keyed rolling statistics (SURVEY §2.7 T3 /
  * §2.4 A6-A8): for each row, the (n, mean, stddev, median, mad) of the
  * last `windowSize` values of `value` within its `partitionKey` group in
  * `orderKeys` order.
  *
  * Motivation (the one case SURVEY §4 didn't foresee needing a custom
  * operator): the declarative form — an aggregate over
  * `rowsBetween(-windowSize+1, 0)` — is planned as WindowExec with a
  * sliding frame, which re-accumulates the whole frame through the
  * aggregate-buffer machinery for every output row. This operator makes
  * the same single demand on the planner (hash distribution +
  * in-partition sort) and then streams each partition once through one
  * [[graft.functions.RollingWindow]] per live key: O(w) per row with
  * primitive arrays, no aggregate-buffer serialization and no per-row
  * sort.
  *
  * Frame evaluation uses the same sequential folds and midpoint-median
  * rules as [[graft.functions.RollingStatsAggExpr]], so results are
  * bit-identical to the WindowExec form and the DuckDB oracle.
  */
case class RollingStatsPlan(
    partitionKey: Expression,
    orderKeys: Seq[SortOrder],
    value: Expression,
    windowSize: Int,
    statsAttr: AttributeReference,
    child: LogicalPlan)
    extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ statsAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(statsAttr)

  override protected def withNewChildInternal(newChild: LogicalPlan): RollingStatsPlan =
    copy(child = newChild)
}

object RollingStatsPlan {
  /** The output attribute is created ONCE by the caller and carried as a
    * constructor field — recreating it in the node body would mint a new
    * exprId on every `copy`, dangling downstream references.
    */
  def newStatsAttr(name: String): AttributeReference =
    AttributeReference(name, statsType, nullable = false)()

  val statsType: StructType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("mean", DoubleType, nullable = false),
    StructField("stddev", DoubleType, nullable = false),
    StructField("median", DoubleType, nullable = false),
    StructField("mad", DoubleType, nullable = false)
  ))
}

/** Physical operator: demands clustering on the key and a per-partition
  * sort, then one streaming pass per partition. Rows arrive clustered by
  * key, so one window of O(windowSize) is live at a time.
  */
case class RollingStatsExec(
    partitionKey: Expression,
    orderKeys: Seq[SortOrder],
    value: Expression,
    windowSize: Int,
    statsAttr: Attribute,
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ statsAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(statsAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(partitionKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(partitionKey, org.apache.spark.sql.catalyst.expressions.Ascending)
      +: orderKeys)

  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExpr = partitionKey
    val w = windowSize
    val schema = output
    val childOutput = child.output
    // bind once on the driver; only bound expressions enter the closure
    val boundValue =
      org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(value, childOutput)
    child.execute().mapPartitions({ rows =>
      val keyProj = UnsafeProjection.create(Seq(keyExpr), childOutput)
      val outProj = UnsafeProjection.create(schema, schema)
      val joined = new JoinedRow
      val statsRow = new GenericInternalRow(5)
      val statsHolder = new GenericInternalRow(1)
      // rows arrive key-clustered and key-sorted: one live window at a time
      var currentKey: org.apache.spark.sql.catalyst.expressions.UnsafeRow = null
      val window = new RollingWindow(w)
      rows.map { row =>
        val k = keyProj(row)
        if (currentKey == null || k != currentKey) {
          currentKey = k.copy()
          window.clear()
        }
        val v = boundValue.eval(row)
        if (v != null) {
          window.add(v.asInstanceOf[Double])
          // WindowExec and the oracle sum each frame afresh in arrival
          // order; incremental moments would drift in the last ulps
          window.refold()
        }
        statsRow.update(0, window.size.toLong)
        statsRow.update(1, window.mean)
        statsRow.update(2, window.stddev)
        statsRow.update(3, window.median)
        statsRow.update(4, window.mad)
        statsHolder.update(0, statsRow)
        outProj(joined(row, statsHolder))
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): RollingStatsExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to the exec. Registered by
  * its one builder, `AnomalyOps.scored` ([[GraftExtensions.useStrategy]]).
  */
object RollingStatsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: RollingStatsPlan =>
      RollingStatsExec(p.partitionKey, p.orderKeys, p.value, p.windowSize,
                       p.statsAttr, planLater(p.child)) :: Nil
    case _ => Nil
  }
}
