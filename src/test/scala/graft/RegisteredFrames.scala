package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One frame per registered query and dataset dir, built once per test
  * JVM. The sweeps over every registered query's plan (output schema,
  * executed plan) read these, so each streaming drain — which runs when
  * its frame is built — runs once for all of them.
  */
object RegisteredFrames {

  /** What the sweeps read of one query's frame, taken when it is built:
    * a drain's frame reads a work dir that its drain's next run (in
    * another suite) deletes, and a state-store read lists that dir
    * while it plans.
    */
  final case class Frame(name: String, schema: StructType, executedPlan: String)

  private val built = scala.collection.mutable.Map[String, Seq[Frame]]()

  /** Every registered query over `dir`, by name. */
  def apply(spark: SparkSession, dir: String): Seq[Frame] = synchronized {
    built.getOrElseUpdate(dir, SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, q) =>
        val df = q(spark, dir)
        Frame(name, df.schema, df.queryExecution.executedPlan.toString)
    })
  }
}
