package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Measured broadcast gate for SF-scaling dimension frames.
  *
  * A bare `broadcast(dim)` hint is the right plan at dev scale and an
  * OOM at 100 TB: hints always win over AQE, so a customer/supplier/
  * part-derived frame that is kilobytes at sf0.1 (15k customer rows)
  * becomes a mandatory multi-GB broadcast at SF100k (~15e9 customer
  * rows) with no way for the engine to back out. Dropping the hint
  * entirely is also wrong: sessions with AQE off — and any engine
  * relying on estimated instead of observed sizes — would shuffle a
  * kilobyte dimension for no reason.
  *
  * This generalizes the measured gate of [[DedupOps.ssjoinPrefix]]: a
  * cheap, cached metadata row-count of the BASE parquet table bounds
  * the derived frame from above (filter/project never add rows), and
  * the hint applies only under `graft.dims.broadcastMaxRows` (default
  * 4e6 rows ≈ a few hundred MB for these dims — inside a healthy
  * executor's broadcast budget). Above the bound the join is left
  * unhinted and Catalyst/AQE pick shuffle strategy from real sizes.
  * Unlike a static hint, the decision REVERSES itself at scale.
  *
  * Fixed-cardinality frames (nation=25, region=5, 1-row aggregates,
  * per-event-type stats with ~6 keys) keep their unconditional hints —
  * they are bounded by construction and gating them would only add a
  * probe.
  */
object Dims {
  /** Upper bound on the rows of any frame derived from `table` by
    * filter/select/join-on-unique-key: the base table's row count. The
    * probe is a real (if cheap) Spark job at plan-construction time: a
    * zero-column parquet count that reads file footers, not data pages —
    * and each (dir, table) pays it once per file version
    * ([[VersionedMemo]]). At full cluster scale even footer-listing a
    * multi-billion-row dim is not free; there the gate reads the same
    * upper bound from catalog statistics (table-level row counts every
    * lakehouse catalog maintains) — the gate only needs an upper BOUND,
    * not a fresh scan, which is why `baseRows` is a seam rather than
    * inlined at the call sites.
    */
  def baseRows(spark: SparkSession, dir: String, table: String): Long =
    VersionedMemo(spark, dir, s"rows $table")(
      spark.read.parquet(s"$dir/$table.parquet").count())

  /** Gate a broadcast hint on the named base table's cached row count,
    * an upper bound of the frame's rows: broadcast iff it is under
    * graft.dims.broadcastMaxRows.
    */
  def gateTable(spark: SparkSession, dir: String, table: String)(
      df: DataFrame): DataFrame = {
    val maxRows =
      spark.conf.get("graft.dims.broadcastMaxRows", "4000000").toLong
    if (baseRows(spark, dir, table) <= maxRows) broadcast(df) else df
  }
}
