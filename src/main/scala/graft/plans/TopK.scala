package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}

/** DataFrame-level entry point for the per-key top-k operator. */
object TopK {

  /** Keep each key's top `k` rows under `orderSpec` ((column, ascending)
    * pairs — make it a TOTAL order or ranks are nondeterministic),
    * appending a 1-based `rankName` column. Plans as partial top-k →
    * exchange → final top-k (see [[TopKPerKeyPlan]]).
    */
  def perKey(df: DataFrame,
             keyCols: Seq[String],
             orderSpec: Seq[(String, Boolean)],
             k: Int,
             rankName: String): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.useStrategy(spark, TopKPerKeyStrategy)
    val child = GraftSqlBridge.logicalPlan(df)
    val byName = child.output.map(a => a.name -> a).toMap
    val plan = TopKPerKeyPlan(
      keys = keyCols.map(byName(_)),
      ordering = orderSpec.map { case (c, asc) =>
        SortOrder(byName(c), if (asc) Ascending else Descending)
      },
      k = k,
      rankAttr = TopKPerKeyPlan.newRankAttr(rankName),
      child = child
    )
    GraftSqlBridge.ofRows(spark, plan)
  }
}
