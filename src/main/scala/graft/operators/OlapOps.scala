package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** General OLAP queries over the TPC-H-ish star schema. The reference has
  * no joins at all (SURVEY §2.11); these are the additive capabilities a
  * standalone analytics engine needs, and they double as the scale/bench
  * workload: multi-way joins with broadcast dimensions, partial
  * aggregation, and top-k.
  *
  * Scale notes: fact tables (lineitem/orders) are shuffled at most once
  * per query. Fixed-cardinality dims (region=5, nation=25, one-row
  * aggregates) carry unconditional `broadcast` hints; SF-scaling dims
  * (customer/supplier/part and frames derived from them) go through
  * [[Dims.gateTable]], a measured gate that hints only while the base
  * table's observed row count is under graft.dims.broadcastMaxRows — a
  * bare hint would override AQE forever and OOM at SF100k, while the
  * gate's decision reverses itself at scale. Filters sit directly on
  * scans so parquet row-group pruning applies (`PushedFilters` in
  * `.explain`).
  */
object OlapOps {

  /** TPC-H Q1 shape: pricing summary over lineitem (pure scan + agg,
    * map-side partial aggregation; the canonical scan-throughput probe).
    */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3 shape: shipping priority — customer ⋈ orders ⋈ lineitem,
    * top-10 revenue. customer is gate-broadcast while it fits
    * ([[Dims.gateTable]]); orders⋈lineitem shuffles on orderkey once.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-06-01 00:00:00").cast("timestamp")
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Dims.gateTable(spark, dir, "customer")(cust),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape: local-supplier revenue per nation — 6-way join with
    * every dimension broadcast; single fact shuffle.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    Tables
      .lineitem(spark, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Dims.gateTable(spark, dir, "customer")(Tables.customer(spark, dir)),
            col("o_custkey") === col("c_custkey"))
      .join(Dims.gateTable(spark, dir, "supplier")(Tables.supplier(spark, dir)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)),
            col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
            col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Top-10 customers by order value, with broadcast name lookup. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 4).as("total_spent"),
           count(lit(1)).as("n_orders"))
      .join(Dims.gateTable(spark, dir, "customer")(Tables.customer(spark, dir)),
            col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("custkey"), col("c_name"),
              col("total_spent"), col("n_orders"))
      .orderBy(col("total_spent").desc, col("custkey"))
      .limit(10)

  /** Parts-per-supplier semi-join shape via distinct aggregation over
    * lineitem (exact count-distinct: two-phase hash aggregate).
    */
  def supplierParts(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(count_distinct(col("l_partkey")).as("n_parts"),
           round(sum(col("l_quantity")), 4).as("total_qty"))
      .orderBy(col("l_suppkey"))

  /** Anti-join: orders with no returned line item (`NOT EXISTS` shape).
    * Plans as LeftAnti over the filtered build side — the decorrelated
    * form of the classic correlated subquery, one shuffle per side (or
    * broadcast when the build side is small post-filter).
    */
  def ordersNoReturns(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .join(Tables.lineitem(spark, dir)
              .filter(col("l_returnflag") === "R")
              .select(col("l_orderkey")),
            col("o_orderkey") === col("l_orderkey"),
            "left_anti")
      .select(col("o_orderkey"), col("o_custkey"),
              round(col("o_totalprice"), 4).as("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Semi-join: market segments of customers having at least one order
    * above 400k (`EXISTS` shape → LeftSemi), aggregated per segment.
    */
  def bigSpenderSegments(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .join(Tables.orders(spark, dir)
              .filter(col("o_totalprice") > 400000.0)
              .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"),
            "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           round(avg(col("c_acctbal")), 6).as("avg_acctbal"))
      .orderBy(col("c_mktsegment"))

  /** Cheapest supplier per part (TPC-H Q2's correlated min-subquery
    * shape, re-expressed Spark-first): aggregate (part, supplier) average
    * prices, then keep the per-part minimum via a window `row_number` —
    * one aggregation + one keyed window instead of a correlated
    * rescan-per-row subquery. Ties break on suppkey.
    */
  def minPriceSupplier(spark: SparkSession, dir: String): DataFrame = {
    // Two exchanges ON PURPOSE: the aggregate's exchange carries
    // map-side-combined (partkey, suppkey) partials (~1/lineitems-per-
    // pair of the raw rows), and the top-k exchange carries only each
    // split's per-part argmin candidates. Pre-partitioning on l_partkey
    // would fuse them into one exchange — but that exchange would move
    // every RAW lineitem row with no combine, strictly more bytes and a
    // skew hotspot per hot part at scale.
    val ps = Tables
      .lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(round(avg(col("l_extendedprice")), 6).as("avg_price"))
    // per-part argmin via the dedicated top-k operator (k=1) — the
    // partial stage caps each split's contribution before the exchange
    graft.plans.TopK
      .perKey(ps, Seq("l_partkey"),
              Seq("avg_price" -> true, "l_suppkey" -> true), 1, "rn")
      .select(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"),
              col("avg_price"))
      .orderBy(col("partkey"))
  }

  /** PIVOT: per-user event counts, one column per event type. The value
    * list is EXPLICIT — `pivot(col)` without values runs a blocking
    * distinct-collect over the full table to discover the schema, which
    * is both a second scan and a driver round-trip a 100 TB pipeline
    * can't afford; with declared values Spark plans a single pass of
    * conditional aggregates.
    */
  def userActivityPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("user_id"))
  }

  /** UNPIVOT (melt): the four lineitem measures stacked into
    * (measure, value) rows, then aggregated per measure — the wide→long
    * reshape that feeds generic per-metric pipelines. Spark's `unpivot`
    * plans as a single Expand (no self-union, one scan).
    */
  def lineitemMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .unpivot(
        ids = Array(col("l_orderkey")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
                       col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "value")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n_values"),
           round(sum(col("value")), 4).as("total"),
           round(avg(col("value")), 6).as("avg_value"))
      .orderBy(col("measure"))

  /** Multi-level KPI rollup over (event_type, status) — GROUPING SETS /
    * ROLLUP, an operator family the reference lacks entirely (SURVEY
    * §2.11). Spark plans `rollup` as a single Expand + hash aggregate:
    * one shuffle produces all three aggregation levels at once, vs three
    * separate scans+aggs for the naive union formulation. Null group
    * markers are folded to 'ALL' (both domains are non-null) so every
    * output cell is a plain scalar.
    */
  def kpiRollup(spark: SparkSession, dir: String): DataFrame =
    Tables
      .eventsWithStatus(spark, dir)
      .rollup(col("event_type"), col("status"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 4).as("sum_value"),
           round(avg(col("value")), 6).as("avg_value"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
              coalesce(col("status"), lit("ALL")).as("status"),
              col("n_events"), col("sum_value"), col("avg_value"))
      .orderBy(col("event_type"), col("status"))

  /** Explicit GROUPING SETS with `grouping_id` — the third lattice
    * form beside ROLLUP and CUBE: exactly the three business-chosen
    * sets ((type, status), (type), (status)) in ONE Expand pass —
    * no (()) grand total, which neither ROLLUP nor CUBE can omit —
    * and the integer `grouping_id` disambiguates a real NULL-valued
    * group from a rolled-up one (the textbook reason the function
    * exists; string 'ALL' coalescing like kpi_rollup's would be
    * ambiguous under NULL data). Integer-cent sums keep every set
    * exact.
    *
    * Scale: one Expand (3× row multiplier) into one hash aggregate —
    * the same single-shuffle posture as the CUBE query.
    */
  def kpiGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.eventsWithStatus(spark, dir)
      .createOrReplaceTempView("graft_gs_events")
    spark.sql(
      """SELECT event_type, status,
        |       CAST(grouping_id(event_type, status) AS BIGINT) AS gid,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |            AS BIGINT) AS cents
        |FROM graft_gs_events
        |GROUP BY GROUPING SETS ((event_type, status), (event_type),
        |                        (status))
        |ORDER BY gid, event_type NULLS FIRST, status NULLS FIRST"""
        .stripMargin)
  }

  /** Full CUBE over (event_type, hour-of-day): all four grouping sets in
    * ONE pass — Spark plans this as a single Expand + aggregate (rows
    * duplicated ×4 pre-aggregation, map-side combined), not four scans.
    * The value sum is exact integer cents (`floor(v·100 + 0.5)` of
    * 2-decimal inputs), so every cell is engine-exact with no float
    * accumulation-order hazard. Complements [[kpiRollup]] (hierarchical
    * sets) with the full cross-dimensional lattice.
    */
  def kpiCube(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(col("event_type"), hour(col("ts")).cast("long").as("hr"),
              floor(col("value") * lit(100) + lit(0.5)).as("cents"))
      .cube(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
              coalesce(col("hr"), lit(-1L)).as("hour"), col("n_events"),
              col("sum_cents"))
      .orderBy(col("event_type"), col("hour"))

  /** Users banded into spend quartiles via `ntile(4)` over exact
    * integer-cent totals. The ranking window is GLOBAL by construction —
    * but it runs on the per-user aggregate (orders of magnitude smaller
    * than the event stream; the heavy lifting is the map-side-combined
    * groupBy). Quartile bands then re-aggregate to four rows. ntile's
    * remainder rule (first `n mod 4` tiles one row larger) is identical
    * in Spark and DuckDB under the same total order.
    */
  def userValueQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val totals = Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * lit(100) + lit(0.5))).as("total_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("total_cents").desc, col("user_id"))
    totals
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n_users"),
           min(col("total_cents")).as("min_cents"),
           max(col("total_cents")).as("max_cents"),
           sum(col("total_cents")).as("sum_cents"))
      .orderBy(col("quartile"))
  }

  /** Referential-integrity audit across the warehouse's FK chain
    * (lineitem→orders, orders→customer, customer→nation): orphan counts
    * per edge — the data-quality gate a pipeline runs after every load.
    * Each edge is ONE anti-join; parent key sets are dimension-sized and
    * broadcast (AQE), so the audit costs a scan per child table.
    */
  def fkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    // total + orphan counts fused into ONE conditional aggregate over
    // a left join against the DISTINCT parent keys, so each edge scans
    // its child table once (not a count pass plus an anti-join pass),
    // and lineitem is the corpus-scale child.
    // Distinct parent keys make the left join row-preserving (a PK
    // duplicate can never double-count children), so count(1) is the
    // old total and count(match is null) the old anti-join count.
    def edge(name: String, child: DataFrame, childKey: String,
             parent: DataFrame, parentKey: String): DataFrame =
      child
        .join(parent.select(col(parentKey)).distinct(),
              col(childKey) === col(parentKey), "left")
        .agg(count(lit(1)).as("n_children"),
             count(when(col(parentKey).isNull, lit(1))).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_children"), col("n_orphans"),
                (col("n_orphans") === 0).as("intact"))
    edge("lineitem->orders",
         Tables.lineitem(spark, dir).select(col("l_orderkey")), "l_orderkey",
         Tables.orders(spark, dir), "o_orderkey")
      .union(edge("orders->customer",
                  Tables.orders(spark, dir).select(col("o_custkey")),
                  "o_custkey", Tables.customer(spark, dir), "c_custkey"))
      .union(edge("customer->nation",
                  Tables.customer(spark, dir).select(col("c_nationkey")),
                  "c_nationkey", Tables.nation(spark, dir), "n_nationkey"))
      .orderBy(col("fk_edge"))
  }

  /** Key-skew profile of the event stream: the distribution-health
    * numbers that decide salting/AQE strategy BEFORE a big join — top-5
    * heaviest user keys plus each key's share of rows and the ratio to a
    * perfectly uniform share. One map-side-combined groupBy; the ranking
    * runs on the aggregated key table.
    */
  def keySkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_rows"))
    val totals = broadcast(
      counts.agg(sum(col("n_rows")).as("total_rows"),
                 count(lit(1)).as("n_keys")))
    counts
      .crossJoin(totals)
      .orderBy(col("n_rows").desc, col("user_id"))
      .limit(5)
      .select(
        col("user_id"), col("n_rows"),
        round(col("n_rows").cast("double") / col("total_rows").cast("double"),
              6).as("row_share"),
        round(col("n_rows").cast("double") /
                (col("total_rows").cast("double") / col("n_keys").cast("double")),
              4).as("skew_vs_uniform"))
  }

  /** Open-order backlog aging: non-finalized orders by priority × order
    * month, with exact integer-cent value totals — the fulfillment-ops
    * rollup. One map-side-combined aggregation over a pruned
    * (status, priority, date, price) scan.
    */
  def orderBacklog(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .filter(col("o_orderstatus") =!= "F")
      .groupBy(col("o_orderpriority"),
               date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
           sum(floor(col("o_totalprice") * lit(100) + lit(0.5)))
             .as("backlog_cents"))
      .orderBy(col("o_orderpriority"), col("month"))

  // ---- DuckDB oracles ----------------------------------------------------

  /** TPC-H Q7 (volume shipping), generalized: cross-border revenue per
    * (supplier nation, customer nation, ship year) for 1995–1996, one
    * row per UNORDERED nation pair (`supp < cust` lexically). Revenue is
    * the exact integer-cent form `⌊price·(1−discount)·100 + 0.5⌋` per
    * row — identical double ops both engines, then an order-free long
    * sum, so no float aggregate ever crosses the oracle.
    *
    * Scale shape: the date filter sits on the lineitem scan (row-group
    * pruning); customer/supplier/nation broadcast (AQE falls back to
    * shuffle when a dim outgrows the hint); the only fact shuffle is the
    * lineitem⋈orders join, and the final groupBy key space is tiny
    * (nation² × years), so partial aggregation collapses map-side.
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val ns = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val nc = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(Dims.gateTable(spark, dir, "customer")(Tables.customer(spark, dir)
              .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
      .join(Dims.gateTable(spark, dir, "supplier")(Tables.supplier(spark, dir)
              .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(ns), col("s_nationkey") === col("s_nk"))
      .join(broadcast(nc), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") < col("cust_nation"))
      .select(col("supp_nation"), col("cust_nation"),
              year(col("l_shipdate")).cast("long").as("l_year"),
              floor(col("l_extendedprice") * (lit(1) - col("l_discount")) *
                      lit(100) + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("revenue_cents"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    * lost to returns (`l_returnflag = 'R'`) with their nation. Exact
    * integer-cent revenue per row → order-free long sum, then a
    * distributed top-k (`TakeOrderedAndProject`, plan-guarded) — the
    * shuffle moves only per-customer partials, and the limit means the
    * driver receives 20 rows regardless of table size.
    */
  def q10ReturnedCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"),
              floor(col("l_extendedprice") * (lit(1) - col("l_discount")) *
                      lit(100) + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("lost_cents"))
      .join(Dims.gateTable(spark, dir, "customer")(Tables.customer(spark, dir)
              .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
            col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
              col("n_items"), col("lost_cents"))
      .orderBy(col("lost_cents").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H Q18 (large-volume customers): orders whose total line
    * quantity exceeds 250 units, with customer attached — the
    * aggregate-filtered join shape (SQL's `HAVING` subquery). Line
    * quantities are integral by construction, so the per-order sum is
    * an exact long; the order join reuses the aggregation's
    * `l_orderkey` hash partitioning (same key — no third shuffle), the
    * customer dim broadcasts, and the final ranking is a distributed
    * top-100.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"),
              floor(col("l_quantity") + lit(0.5)).cast("long").as("qty"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("qty")).as("total_qty"))
      .filter(col("total_qty") > 250)
      .join(Tables.orders(spark, dir)
              .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
                      floor(col("o_totalprice") * lit(100) + lit(0.5))
                        .cast("long").as("price_cents")),
            col("l_orderkey") === col("o_orderkey"))
      .join(Dims.gateTable(spark, dir, "customer")(Tables.customer(spark, dir)
              .select(col("c_custkey"), col("c_name"))),
            col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              col("o_orderdate"), col("price_cents"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)

  /** TPC-H Q2's shape — the CORRELATED scalar subquery (min-cost
    * supplier per part within a region) — expressed as Spark SQL so
    * Catalyst's subquery decorrelation does the rewrite: the correlated
    * `min` becomes a per-part aggregate joined back on the correlation
    * key, never a rescan-per-row loop (PlanSpec pins the absence of a
    * scalar-subquery node in the physical plan). [[minPriceSupplier]]
    * is the pre-decorrelated cousin; THIS form exists to keep the
    * decorrelation path itself exercised — at 100 TB the rewrite is the
    * difference between one shuffle and |part| scans. No partsupp table
    * in the driver testdata, so supply cost derives from lineitem
    * per-unit prices in exact integer cents.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("graft_q2_part")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_q2_supplier")
    Tables.nation(spark, dir).createOrReplaceTempView("graft_q2_nation")
    Tables.region(spark, dir).createOrReplaceTempView("graft_q2_region")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_q2_lineitem")
    spark.sql(q2Sql(
      "graft_q2_part", "graft_q2_supplier", "graft_q2_nation",
      "graft_q2_region", "graft_q2_lineitem"))
  }

  /** Q2 text, shared verbatim with the DuckDB oracle (only the table
    * names differ) — the correlated subquery must be the SAME sentence
    * both engines decorrelate.
    */
  private def q2Sql(part: String, supplier: String, nation: String,
                    region: String, lineitem: String): String =
    s"""WITH cost AS (
       |  SELECT l_partkey, l_suppkey,
       |         min(CAST(floor(l_extendedprice / l_quantity * 100 + 0.5)
       |                  AS BIGINT)) AS cost_cents
       |  FROM $lineitem GROUP BY 1, 2
       |)
       |SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
       |       c.cost_cents
       |FROM $part p
       |JOIN cost c ON c.l_partkey = p.p_partkey
       |JOIN $supplier s ON s.s_suppkey = c.l_suppkey
       |JOIN $nation n ON n.n_nationkey = s.s_nationkey
       |JOIN $region r ON r.r_regionkey = n.n_regionkey
       |WHERE r.r_name = 'EUROPE' AND p.p_size <= 25
       |  AND c.cost_cents = (
       |    SELECT min(c2.cost_cents)
       |    FROM cost c2
       |    JOIN $supplier s2 ON s2.s_suppkey = c2.l_suppkey
       |    JOIN $nation n2 ON n2.n_nationkey = s2.s_nationkey
       |    JOIN $region r2 ON r2.r_regionkey = n2.n_regionkey
       |    WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
       |ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
       |LIMIT 100""".stripMargin

  /** TPC-H Q4's shape — EXISTS over a date-sliced orders scan, planned
    * as a LEFT SEMI join with the correlated range predicate riding in
    * the join condition (no pair materialization, no count-then-filter).
    * The driver lineitem has no commit/receipt dates, so "promise
    * broken" is adapted to "shipped after the order date". The orders
    * date slice is a static pushdown-eligible filter; lineitem prunes
    * to two columns before the semi join.
    */
  def q4PriorityPromise(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
    val l = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l,
           col("o_orderkey") === col("l_orderkey") &&
             col("l_shipdate") > col("o_orderdate"),
           "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Gini coefficient of per-user value concentration within each event
    * type — the inequality audit next to [[userValueQuartiles]]'s
    * banding and [[keySkewProfile]]'s top-k: one number per type saying
    * how much of the value mass a few heavy users own (0 = uniform,
    * →1 = one user owns everything), the same diversity statistic a
    * training-mix audit runs on per-source token mass.
    *
    * Exactness: with per-user totals in integer cents, the classic
    * sorted-rank identity `G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)` is
    * computed entirely in longs — ties compress into one row per
    * (type, cents) with count `c` and preceding-rank offset `r`, whose
    * rank-block contribution `cents·(2·c·r + c·(c+1))` is an exact
    * integer (and tie order cannot matter: equal values contribute the
    * same sum under any rank assignment). Only the final division is a
    * double, of two exact longs — deterministic against the oracle.
    *
    * Scale shape: two aggregation shuffles (per-user totals, then
    * tie-compression), and the prefix-sum window runs over the DISTINCT
    * VALUE manifest per type — bounded by the value domain, not the
    * user count (the compaction_plan manifest-window argument); a 100 TB
    * run additionally bands cents before the window and lifts the
    * products to DECIMAL(38,0), the t_closeness convention.
    */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val byValue = Tables
      .events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(floor(col("value") * lit(100) + lit(0.5)).cast("long"))
        .as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val agg = byValue
      .withColumn("r", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_users"),
           sum(col("cents") * col("c")).as("total_cents"),
           sum(col("cents") *
             (lit(2L) * col("c") * col("r") + col("c") * (col("c") + lit(1L))))
             .as("w2"))
    agg.select(
      col("event_type"), col("n_users"), col("total_cents"),
      round(when(col("n_users") * col("total_cents") === 0L, lit(null))
              .otherwise(
                (col("w2") - (col("n_users") + lit(1L)) * col("total_cents"))
                  .cast("double") /
                  (col("n_users") * col("total_cents")).cast("double")), 6)
        .as("gini"))
      .orderBy(col("event_type"))
  }

  /** Lineitem revenue in exact integer cents — the shared measure of the
    * Q14/Q19 shapes below.
    */
  private def revCents: org.apache.spark.sql.Column =
    floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(100) +
      lit(0.5)).cast("long")

  /** TPC-H Q14's shape (promotion effect): the conditional-share
    * aggregate — promo revenue over total revenue for one ship month,
    * both sums exact longs so only the final percentage is a double
    * (identical expression order on both engines). The month slice
    * pushes into the lineitem scan; the part dim broadcasts.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-10-01 00:00:00").cast("timestamp"))
      .join(Dims.gateTable(spark, dir, "part")(Tables.part(spark, dir)
              .select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", revCents).otherwise(0L))
             .as("promo_cents"),
           sum(revCents).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
              round(when(col("total_cents") === 0L, lit(null))
                      .otherwise(lit(100.0) * col("promo_cents").cast("double") /
                        col("total_cents").cast("double")), 6)
                .as("promo_share"))

  /** TPC-H Q19's shape (discounted revenue): the OR-of-ANDs predicate
    * spanning both join sides — the planner stress nothing else here
    * exercises. Catalyst must factor the single-table disjuncts out of
    * the cross-table OR so BOTH scans still get pushed filters (the
    * lineitem scan keeps an Or over the quantity bands, the part scan
    * an Or over brand×size), instead of filtering only post-join —
    * PlanSpec pins both PushedFilters. At 100 TB that factoring is the
    * difference between scanning three quantity bands and scanning
    * every row.
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .join(Dims.gateTable(spark, dir, "part")(Tables.part(spark, dir)
              .select(col("p_partkey"), col("p_brand"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_items"),
           sum(revCents).as("revenue_cents"))

  /** TPC-H Q13's shape (customer order-count distribution): the OUTER
    * join that must keep order-less customers (an inner join would
    * silently drop the zero bucket — the whole point of the query),
    * with the join condition filtering non-urgent orders INSIDE the
    * join (a WHERE would turn the outer join back into an inner one),
    * then a histogram of the per-customer counts. Two aggregations:
    * the second runs on the per-customer frame, metadata-scale.
    */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select(col("c_custkey"))
      .join(Tables.orders(spark, dir)
              .filter(col("o_orderpriority") =!= "1-URGENT")
              .select(col("o_orderkey"), col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q11's shape (important stock): a HAVING clause gated on an
    * UNCORRELATED scalar subquery — the per-group total must clear a
    * fraction of the GLOBAL total, so the plan computes the global
    * aggregate once (scalar subquery → one job, its result a literal in
    * the post-aggregation filter), never per group. Shared SQL text
    * like Q2 so both engines plan the same sentence; the 2‰ gate is
    * integer cross-multiplied. No partsupp table in the driver data, so
    * "stock value" adapts to per-part revenue from one nation's
    * suppliers.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_q11_lineitem")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_q11_supplier")
    Tables.nation(spark, dir).createOrReplaceTempView("graft_q11_nation")
    spark.sql(q11Sql("graft_q11_lineitem", "graft_q11_supplier",
                     "graft_q11_nation"))
  }

  private def q11Sql(lineitem: String, supplier: String,
                     nation: String): String = {
    val cents =
      "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)"
    val from =
      s"""FROM $lineitem JOIN $supplier ON l_suppkey = s_suppkey
         |     JOIN $nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'""".stripMargin
    s"""SELECT l_partkey, CAST(sum($cents) AS BIGINT) AS value_cents
       |$from
       |GROUP BY l_partkey
       |HAVING sum($cents) * 1000 > (SELECT sum($cents) $from) * 2
       |ORDER BY value_cents DESC, l_partkey""".stripMargin
  }

  /** TPC-H Q20's shape (potential part promotion): the NESTED stack
    * nothing else exercises — an IN subquery whose grouped inner query
    * carries a CORRELATED scalar aggregate in its HAVING clause
    * (supplier dominates a part when their shipped quantity clears 1/6
    * of the part's total; the correlation key is the grouping column).
    * Catalyst must decorrelate the inner aggregate into a per-part
    * total joined back on `l_partkey` AND plan the outer IN as a semi
    * join — two rewrites stacked; a naive plan rescans lineitem per
    * (supplier, part) group. Shared SQL sentence (the Q2 discipline);
    * quantities are integral doubles, so the ×6 gate is exact.
    */
  def q20DominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_q20_supplier")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_q20_lineitem")
    spark.sql(q20Sql("graft_q20_supplier", "graft_q20_lineitem"))
  }

  private def q20Sql(supplier: String, lineitem: String): String =
    s"""SELECT s_suppkey, s_name FROM $supplier WHERE s_suppkey IN (
       |  SELECT l_suppkey FROM $lineitem l1
       |  GROUP BY l_suppkey, l_partkey
       |  HAVING sum(l_quantity) * 6 > (SELECT sum(l_quantity)
       |                                FROM $lineitem l2
       |                                WHERE l2.l_partkey = l1.l_partkey)
       |) ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q6 (forecasting revenue change): the pure filter-aggregate —
    * three scan-pushable predicates, zero joins, one row out. The
    * revenue measure `extendedprice · discount` converts to exact cents
    * PER ROW (a raw double-product sum would be aggregation-order
    * dependent across engines). The simplest query in the suite, and
    * the canonical scan-throughput probe.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
           sum(floor(col("l_extendedprice") * col("l_discount") * lit(100) +
             lit(0.5)).cast("long")).as("revenue_cents"))

  /** TPC-H Q12's shape (shipping modes and order priority): two-level
    * conditional counting — lines band by delivery lateness (no
    * shipmode column in the driver schema; late = shipped more than 60
    * days after the order date, the Q21 SLA) and each band counts
    * high- vs low-priority orders with conditional sums. One join, one
    * tiny aggregation.
    */
  def q12DelayPriority(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
              .select(col("o_orderkey"), col("o_orderdate"),
                      col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
      .withColumn("band",
                  when(col("l_shipdate") >
                         col("o_orderdate") + expr("INTERVAL 60 DAY"),
                       "late").otherwise("ontime"))
      .groupBy(col("band"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
             .otherwise(0L)).as("high_line_count"),
           sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
             .otherwise(0L)).as("low_line_count"))
      .orderBy(col("band"))

  /** TPC-H Q8's shape (national market share): for orders by EUROPE
    * customers, the yearly share of revenue supplied by one nation —
    * numerator and denominator both exact cents from ONE pass
    * (conditional sum), the six-table join tree with every dimension
    * broadcast, share a guarded double.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), revCents.as("cents"))
      .join(Tables.orders(spark, dir)
              .select(col("o_orderkey"), col("o_custkey"),
                      year(col("o_orderdate")).cast("long").as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
      .join(Dims.gateTable(spark, dir, "customer")(
              Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
                .join(Tables.nation(spark, dir)
                        .select(col("n_nationkey"), col("n_regionkey")),
                      col("c_nationkey") === col("n_nationkey"))
                .join(Tables.region(spark, dir)
                        .filter(col("r_name") === "EUROPE")
                        .select(col("r_regionkey")),
                      col("n_regionkey") === col("r_regionkey"))
                .select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"))
      .join(Dims.gateTable(spark, dir, "supplier")(Tables.supplier(spark, dir)
              .select(col("s_suppkey"), col("s_nationkey"))
              .join(Tables.nation(spark, dir)
                      .select(col("n_nationkey"), col("n_name").as("supp_nation")),
                    col("s_nationkey") === col("n_nationkey"))
              .select(col("s_suppkey"), col("supp_nation"))),
            col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_5", col("cents"))
             .otherwise(0L)).as("nation_cents"),
           sum(col("cents")).as("total_cents"))
      .select(col("o_year"), col("nation_cents"), col("total_cents"),
              round(when(col("total_cents") === 0L, lit(null))
                      .otherwise(col("nation_cents").cast("double") /
                        col("total_cents").cast("double")), 6)
                .as("mkt_share"))
      .orderBy(col("o_year"))

  /** TPC-H Q9's shape (product-type profit): profit per (supplier
    * nation, order year) where cost adapts to 60% of the part's retail
    * price per unit (no partsupp table) — revenue and cost both
    * convert to exact cents per row, so the profit sum is an exact
    * long. The q7 join tree plus the part dimension.
    */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey"),
              col("l_quantity"), revCents.as("rev_cents"))
      .join(Dims.gateTable(spark, dir, "part")(Tables.part(spark, dir)
              .select(col("p_partkey"), col("p_retailprice"))),
            col("l_partkey") === col("p_partkey"))
      .withColumn("cost_cents",
                  floor(col("p_retailprice") * lit(60.0) * col("l_quantity") +
                    lit(0.5)).cast("long"))
      .join(Tables.orders(spark, dir)
              .select(col("o_orderkey"),
                      year(col("o_orderdate")).cast("long").as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
      .join(Dims.gateTable(spark, dir, "supplier")(Tables.supplier(spark, dir)
              .select(col("s_suppkey"), col("s_nationkey"))
              .join(Tables.nation(spark, dir)
                      .select(col("n_nationkey"), col("n_name").as("nation")),
                    col("s_nationkey") === col("n_nationkey"))
              .select(col("s_suppkey"), col("nation"))),
            col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), col("o_year"))
      .agg(count(lit(1)).as("n_items"),
           sum(col("rev_cents") - col("cost_cents")).as("profit_cents"))
      .orderBy(col("nation"), col("o_year").desc)

  /** TPC-H Q15's shape (top supplier): the MAX-OVER-AGGREGATE — a
    * revenue "view" (one quarter's per-supplier totals) whose maximum
    * gates the final join; ties all surface (the reference query's
    * documented property). Shared SQL sentence; the scalar max
    * subquery evaluates once over the small aggregated frame.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_q15_supplier")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_q15_lineitem")
    spark.sql(q15Sql("graft_q15_supplier", "graft_q15_lineitem"))
  }

  private def q15Sql(supplier: String, lineitem: String): String =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
       |                             + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
       |  FROM $lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
       |    AND l_shipdate < TIMESTAMP '1997-04-01'
       |  GROUP BY 1
       |)
       |SELECT s_suppkey, s_name, total_cents
       |FROM $supplier JOIN rev ON s_suppkey = l_suppkey
       |WHERE total_cents = (SELECT max(total_cents) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q17's shape (small-quantity-order revenue): the correlated
    * AVG brake — lines of one brand whose quantity is under 20% of
    * their part's average order quantity. The third member of the
    * decorrelation family (Q2 correlated min, Q20 correlated HAVING):
    * Catalyst rewrites the per-part average into an aggregate joined on
    * the correlation key. Quantities are integral doubles, so
    * `0.2 · avg` is the same IEEE pair on both engines.
    */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_q17_lineitem")
    Tables.part(spark, dir).createOrReplaceTempView("graft_q17_part")
    spark.sql(q17Sql("graft_q17_lineitem", "graft_q17_part"))
  }

  private def q17Sql(lineitem: String, part: String): String =
    s"""SELECT count(*) AS n_items,
       |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
       |                           + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
       |FROM $lineitem l1 JOIN $part p ON p.p_partkey = l1.l_partkey
       |WHERE p.p_brand = 'Brand#5'
       |  AND l1.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
       |                       FROM $lineitem l2
       |                       WHERE l2.l_partkey = l1.l_partkey)""".stripMargin

  /** Data-quality expectation suite — the Great-Expectations-style
    * gate a pipeline runs before promoting a batch: named assertions
    * (row-count floor, null keys, value range, future timestamps,
    * duplicate ids, FK orphans, empty documents) in ONE result table
    * with observed values and verdicts. All events-side checks ride a
    * single conditional-sum scan (never one scan per assertion), the
    * orphan check is the fk_integrity anti join, and everything is
    * integer-exact. A failed row is the signal to quarantine the batch.
    */
  def expectSuite(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .events(spark, dir)
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_users"),
           sum(when(col("value") < 0 || col("value") > 10000, 1L)
             .otherwise(0L)).as("out_of_range"),
           sum(when(col("ts") > lit("2030-01-01 00:00:00").cast("timestamp"),
                    1L).otherwise(0L)).as("future_ts"),
           (count(lit(1)) - count_distinct(col("event_id"))).as("dup_ids"))
    val o = Tables
      .orders(spark, dir)
      .join(Tables.customer(spark, dir).select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
    val d = Tables
      .documents(spark, dir)
      .agg(sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L))
        .as("empty_docs"))
    def check(name: String, observed: org.apache.spark.sql.Column,
              threshold: Long,
              passed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      struct(lit(name).as("check_name"), observed.as("observed"),
             lit(threshold).as("threshold"), passed.as("passed"))
    e.crossJoin(o).crossJoin(d)
      .select(explode(array(
        check("events_dup_ids", col("dup_ids"), 0L, col("dup_ids") === 0L),
        check("events_future_ts", col("future_ts"), 0L,
              col("future_ts") === 0L),
        check("events_null_user", col("null_users"), 0L,
              col("null_users") === 0L),
        check("events_rowcount_min", col("n_events"), 1000L,
              col("n_events") >= 1000L),
        check("events_value_range", col("out_of_range"), 0L,
              col("out_of_range") === 0L),
        check("docs_empty_text", col("empty_docs"), 0L,
              col("empty_docs") === 0L),
        check("orders_fk_orphans", col("orphans"), 0L, col("orphans") === 0L)
      )).as("c"))
      .select(col("c.check_name").as("check_name"),
              col("c.observed").as("observed"),
              col("c.threshold").as("threshold"),
              col("c.passed").as("passed"))
      .orderBy(col("check_name"))
  }

  /** Frequent 2-itemsets over order baskets — the A-priori support-count
    * pass of market-basket analysis, and the workload shape of
    * co-occurrence mining generally (parts per order here; tokens per
    * document or skills per user elsewhere). Top 20 co-ordered part
    * pairs by support, names attached.
    *
    * Scale shape: the pair expansion is the repo's standard in-bucket
    * pattern (the [[graft.operators.DedupOps]] posting-list argument):
    * each order's DISTINCT sorted item list expands to its
    * C(|basket|, 2) pairs INSIDE the row — fan-out bounded by basket
    * size squared, never a corpus-wide self-join — then one pair
    * aggregation with map-side combine and a TakeOrdered top-20. The
    * oracle states the same thing as the O(n²) relational self-join,
    * so the hash match proves the expansion lost no pair.
    */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    // collect_set, not distinct()+collect_list: the same sorted
    // distinct-parts array in ONE exchange keyed on l_orderkey (with
    // map-side partial sets) instead of a distinct exchange on
    // (orderkey, partkey) followed by a second exchange on orderkey
    // (3 Exchange → 2, one lineitem-scale shuffle fewer)
    val baskets = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")) > 1)
    val pairs = baskets
      .select(DedupOps.inBucketPairs(col("parts"))((a, b) =>
        struct(a.as("pa"), b.as("pb"))).as("p"))
      .select(col("p.pa").as("part_a"), col("p.pb").as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(20)
    val names = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    pairs
      .join(Dims.gateTable(spark, dir, "part")(names),
            col("part_a") === col("p_partkey"))
      .withColumnRenamed("p_name", "name_a").drop("p_partkey")
      .join(Dims.gateTable(spark, dir, "part")(names),
            col("part_b") === col("p_partkey"))
      .withColumnRenamed("p_name", "name_b").drop("p_partkey")
      .select(col("part_a"), col("part_b"), col("name_a"), col("name_b"),
              col("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
  }

  /** All-pairs BFS hop distances over the gated trade graph — the
    * frontier-expansion iteration shape ([[tradeTriangles]] is one
    * 3-way join, [[OlapOps]] components/PageRank elsewhere are
    * contraction and fixed-point; this is the third graph primitive:
    * breadth-first reach). Distances iterate to FIXED POINT — expand
    * the current distance frame one edge, keep the min hop per pair,
    * stop when the row count stops growing — so the result is the true
    * shortest hop count, not a fixed-iteration approximation; the
    * oracle recomputes it with a recursive CTE whose state space
    * ((pair, hops) triples, hops < |V|) is finite under UNION dedup.
    * Everything is exact integers.
    *
    * Scale: the frame never exceeds |V|² rows (the NATION graph — a
    * few hundred pairs); each round is one tiny join + aggregate with
    * a per-round localCheckpoint to cap lineage, and the driver loop is
    * bounded by the graph diameter ≤ |V|. For corpus-scale graphs the
    * same loop runs on the cluster unchanged — only the fixed-point
    * count check is driver-side, exactly like `dedup_clusters`' rounds.
    */
  def tradeReach(spark: SparkSession, dir: String): DataFrame = {
    val e = tradeGatedEdges(spark, dir)
    val bi = e
      .select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      .distinct()
      .localCheckpoint()
    var dist = bi.withColumn("hops", lit(1L)).localCheckpoint()
    var n = dist.count()
    var done = false
    while (!done) {
      // broadcast the one-edge expansion side: both frames are bounded
      // by |nations|², so every BFS round is a broadcast join + one
      // tiny aggregate instead of two sort-merge exchanges (guide §3.1)
      val grown = dist
        .join(broadcast(bi.withColumnRenamed("src", "mid")
                .withColumnRenamed("dst", "nxt")),
              col("dst") === col("mid"))
        .filter(col("src") =!= col("nxt"))
        .select(col("src"), col("nxt").as("dst"),
                (col("hops") + 1L).as("hops"))
        .union(dist)
        .groupBy(col("src"), col("dst"))
        .agg(min(col("hops")).as("hops"))
        .localCheckpoint()
      val n2 = grown.count()
      done = n2 == n
      n = n2
      dist = grown
    }
    dist
      .select(col("src").as("nation_a"), col("dst").as("nation_b"),
              col("hops"))
      .orderBy(col("nation_a"), col("nation_b"))
  }

  /** Supplier revenue league table with the rank-statistics window
    * family not exercised elsewhere: exact integer-cent revenue per
    * supplier, then `rank`, `percent_rank`, `cume_dist`, and decile
    * `ntile` over ONE ordering — rank ties broken into a total order
    * by suppkey so every rank column is deterministic. percent_rank
    * and cume_dist are exact small-integer ratios ((rank−1)/(n−1),
    * rank/n) evaluated as the same doubles on both engines.
    *
    * Scale: the revenue aggregate is the only corpus-scale shuffle;
    * the unpartitioned window runs over the SUPPLIER dimension —
    * dimension-table-sized, the same argument as `user_value_quartiles`
    * (window on the per-key aggregate, never the fact table).
    */
  def supplierLeague(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables
      .lineitem(spark, dir)
      .select(col("l_suppkey"),
              floor(col("l_extendedprice") * (lit(1) - col("l_discount")) *
                lit(100) + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("cents")).as("revenue_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("revenue_cents").desc, col("l_suppkey"))
    rev
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .orderBy(col("rnk"))
  }

  /** Association rules from the frequent pairs — the A-priori step
    * after [[basketPairs]]: every pair with support ≥ 3 emits BOTH
    * directed rules A→B with confidence = supp(A,B)/supp(A) and
    * lift = N·supp(A,B)/(supp(A)·supp(B)). Pair and single-item
    * supports are exact longs off the same distinct (order, part)
    * frame; confidence/lift are the shared longs→double divisions, and
    * the `positive` verdict (lift > 1: the pair co-occurs MORE than
    * independence predicts) is the exact integer cross-multiplication
    * `N·supp(A,B) > supp(A)·supp(B)`.
    *
    * Scale: the pair expansion stays inside each basket row (fan-out
    * bounded by basket size, as basketPairs documents); item supports
    * are one extra groupBy on the SAME distinct frame; the support
    * threshold prunes before the join-back, so the rule frame is
    * frequent-pairs-sized. The single-item support table has one row
    * per distinct part — SF-scaling — so it joins through the measured
    * [[Dims.gateTable]] gate (broadcast at dev scale, plain shuffled
    * join once the part count outgrows the bound).
    */
  // the distinct (orderkey, partkey) frame is consumed by THREE
  // subtrees of basket_rules (basket count, item supports, pair
  // supports), each of which would re-scan lineitem through the distinct
  // exchange. Persisted per dataset so lineitem is scanned (and the
  // distinct computed) once; the consumers read the cached frame.
  private def basketItems(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "basketItems")(
      Tables
        .lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .distinct())

  def basketRules(spark: SparkSession, dir: String): DataFrame = {
    // left on the shared distinct() ON MEASUREMENT: the basket_pairs
    // rewrite (collect_set, one exchange) was tried here too and
    // REGRESSED 1.36 s → 1.65 s — with THREE consumers
    // (basket count, item supports, pair supports) the shared
    // distinct's cheap codegen HashAggregate beats re-running the
    // ObjectHashAggregate set-build above the reused exchange per
    // consumer. basket_pairs (ONE consumer) keeps the collect_set form,
    // where it wins. Guide §1.1: measure, don't assume.
    val items = basketItems(spark, dir)
    // basket total rides as a broadcast one-row frame — no driver-side
    // count at plan-build time (a query call should build a plan, not
    // run jobs; the old collect ran a distinct-count per invocation)
    val nBaskets = items
      .agg(count_distinct(col("l_orderkey")).as("n_baskets"))
    val itemSupp = items
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("supp"))
    val pairSupp = items
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")) > 1)
      .select(DedupOps.inBucketPairs(col("parts"))((a, b) =>
        struct(a.as("pa"), b.as("pb"))).as("p"))
      .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .agg(count(lit(1)).as("supp_ab"))
      .filter(col("supp_ab") >= 3)
    val directed = pairSupp
      .select(col("pa").as("antecedent"), col("pb").as("consequent"),
              col("supp_ab"))
      .union(pairSupp.select(col("pb").as("antecedent"),
                             col("pa").as("consequent"), col("supp_ab")))
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    directed
      .join(Dims.gateTable(spark, dir, "part")(
              itemSupp.withColumnRenamed("l_partkey", "antecedent")
                .withColumnRenamed("supp", "supp_a")),
            "antecedent")
      .join(Dims.gateTable(spark, dir, "part")(
              itemSupp.withColumnRenamed("l_partkey", "consequent")
                .withColumnRenamed("supp", "supp_c")),
            "consequent")
      .crossJoin(broadcast(nBaskets))
      .select(
        col("antecedent"), col("consequent"), col("supp_ab"), col("supp_a"),
        col("supp_c"),
        round(d(col("supp_ab")) / d(col("supp_a")), 6).as("confidence"),
        round(d(col("n_baskets")) * d(col("supp_ab")) /
                (d(col("supp_a")) * d(col("supp_c"))), 6).as("lift"),
        (col("n_baskets") * col("supp_ab") > col("supp_a") * col("supp_c"))
          .as("positive"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** TPC-H Q21's shape (suppliers who kept orders waiting): for 'F'
    * orders, the flagged supplier shipped late while EVERY other
    * supplier on the order shipped on time — the one TPC-H query that
    * stacks a semi join AND an anti join on the same fact. The driver
    * lineitem has no commit/receipt dates, so "late" adapts to "shipped
    * more than 60 days after the order date" (`EventAggregationJob`-era
    * SLA framing); the nation slice keeps the reference query's shape.
    *
    * Spark plan, deliberately the classic Q21 rewrite rather than
    * nested EXISTS text: the late-lines frame is derived ONCE from the
    * status-filtered orders join, then the semi join (some other
    * supplier exists) probes the 2-column lineitem projection and the
    * anti join (no other supplier was late) probes the late frame —
    * all three joins key on `l_orderkey`, so EnsureRequirements reuses
    * one hash partitioning end-to-end instead of re-shuffling per
    * branch; supplier and nation broadcast. Equivalence to the
    * EXISTS/NOT EXISTS oracle text: "late" depends only on the order's
    * own date, so every l3 candidate in the NOT EXISTS sees the same
    * `o_orderdate` the late frame baked in.
    */
  def q21WaitSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val ordersF = Tables
      .orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lines = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val late = lines
      .join(ordersF, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAY"))
      .select(col("l_orderkey"), col("l_suppkey"))
    // MEASURED AND KEPT ON THE SEMI/ANTI FORM: the single-aggregation
    // variant (per-(order, supplier) late-line counts
    // + a late-supplier window + a count_distinct(supplier) aggregate on
    // the 2-column lineitem projection, numwait = sum of late-line
    // counts) was implemented and probed same-box min-of-5 at sf0.1:
    // semi/anti 1.203 s vs single-aggregation 1.375 s — the
    // count_distinct's two-phase (orderkey, suppkey) expansion costs
    // more than the semi join it replaces. Keeping the classic rewrite: all three joins key on
    // l_orderkey, so one hash partitioning serves end-to-end.
    val l2 = lines.select(col("l_orderkey").as("l2_orderkey"),
                          col("l_suppkey").as("l2_suppkey"))
    val l3 = late.select(col("l_orderkey").as("l3_orderkey"),
                         col("l_suppkey").as("l3_suppkey"))
    late
      .join(l2,
            col("l_orderkey") === col("l2_orderkey") &&
              col("l_suppkey") =!= col("l2_suppkey"),
            "left_semi")
      .join(l3,
            col("l_orderkey") === col("l3_orderkey") &&
              col("l_suppkey") =!= col("l3_suppkey"),
            "left_anti")
      .join(Dims.gateTable(spark, dir, "supplier")(
              Tables.supplier(spark, dir)
                .join(broadcast(Tables.nation(spark, dir)
                        .filter(col("n_name") === "NATION_7")),
                      col("s_nationkey") === col("n_nationkey"))
                .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** TPC-H Q22's shape (global sales opportunity): above-average-balance
    * customers with no RECENT orders, rolled up by segment. Two adapted
    * wrinkles: the driver data has no phone country codes (segment
    * stands in) and every customer has SOME order (so the anti join is
    * date-sliced — dormant since mid-1999 — which keeps Q22's NOT
    * EXISTS shape and adds the correlated-filter variant nothing else
    * exercises). The average-balance threshold is decided in EXACT
    * integers — `acctbal_cents · n_pos > sum_pos_cents` cross-multiplied
    * like t_closeness — so no float average can diverge from the
    * oracle's; the one-row threshold frame broadcasts, the anti join
    * keys on custkey, and the date slice pushes into the orders scan.
    */
  def q22DormantBalance(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables
      .customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
              floor(col("c_acctbal") * lit(100) + lit(0.5)).cast("long")
                .as("acctbal_cents"))
    val thr = cust
      .filter(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("acctbal_cents")).as("sum_pos"))
    val recent = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") >=
        lit("1999-06-01 00:00:00").cast("timestamp"))
      .select(col("o_custkey"))
    cust
      .join(broadcast(thr))
      .filter(col("acctbal_cents") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("numcust"),
           sum(col("acctbal_cents")).as("totacctbal_cents"))
      .orderBy(col("segment"))
  }

  /** TPC-H Q16's shape — the NOT IN anti join over a subquery, the one
    * join form nothing else here exercises: Spark must plan it
    * NULL-AWARE (a single NULL in the subquery legally empties the
    * result, so a plain anti join is wrong) — Catalyst rewrites it to a
    * broadcast null-aware anti join rather than a per-row rescan, and
    * the spec pins that shape. Supplier "complaints" adapt to negative
    * account balance (no comment column in the driver schema); the
    * distinct-supplier count per (brand, size) is the Q16 aggregate.
    * Shared-sentence pattern like Q2: Spark and DuckDB plan the SAME
    * SQL text.
    */
  def q16PartSuppliers(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("graft_q16_part")
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_q16_lineitem")
    Tables.supplier(spark, dir).createOrReplaceTempView("graft_q16_supplier")
    spark.sql(
      q16Sql("graft_q16_part", "graft_q16_lineitem", "graft_q16_supplier"))
  }

  private def q16Sql(part: String, lineitem: String,
                     supplier: String): String =
    s"""SELECT p.p_brand, p.p_size,
       |       count(DISTINCT l.l_suppkey) AS supplier_cnt
       |FROM $lineitem l
       |JOIN $part p ON p.p_partkey = l.l_partkey
       |WHERE p.p_size <= 15
       |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM $supplier
       |                          WHERE s_acctbal < 0)
       |GROUP BY 1, 2
       |ORDER BY supplier_cnt DESC, p_brand, p_size
       |LIMIT 40""".stripMargin

  /** Triangle census of the nation trade graph — the graph-analytics
    * shape next to `pagerank_types`: nodes are nations, an undirected
    * edge means the pair trades HEAVILY (pair volume above 1.2× the
    * mean pair volume — the gate is the cross-multiplied integer
    * `5·w·n_pairs > 6·total_w`, so no float average decides an edge and
    * the threshold adapts to any scale factor), and each nation's
    * triangle count measures how clustered its trade partners are.
    *
    * Scale shape: the volume aggregation is the q7-style fact join
    * (dims broadcast, one shuffle on the nation pair); everything after
    * runs on the EDGE LIST, bounded by |nations|² — metadata scale.
    * Triangles enumerate by ORIENTATION: every edge is stored once as
    * (u < v), and the 3-way join e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) finds
    * each triangle exactly once as its sorted node triple — no
    * double-counting, no distinct. On a billion-edge graph the same
    * plan holds with degree-based orientation bounding the join
    * fan-out (the standard compact-forward argument); here the node
    * set is the nation table, so plain lexicographic orientation
    * suffices.
    */
  /** Gated undirected trade edges shared by [[tradeTriangles]] and
    * [[tradeReach]]: nation pairs whose summed trade volume clears the
    * data-adaptive 1.2× mean-pair gate (integer cross-multiplied).
    *
    * Persisted per dataset: the edge list is consumed by TWO queries
    * and by THREE subtrees of the triangle query's single plan (e1 ⋈
    * e2 ⋈semi e3), each of which would re-run the full
    * lineitem⋈orders⋈customer⋈supplier⋈nation aggregation (unpersisted:
    * 50 Exchange nodes and 2 independent lineitem scans; persisted: the
    * corpus-scale subtree appears once). The frame itself is bounded by
    * |nations|² — metadata scale — so persisting it is the written
    * edge-list table any production graph pass materializes.
    */
  private def tradeGatedEdges(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "tradeGatedEdges")(
      tradeGatedEdgesPlan(spark, dir))

  private def tradeGatedEdgesPlan(spark: SparkSession, dir: String): DataFrame = {
    val trade = Tables
      .lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(Dims.gateTable(spark, dir, "customer")(Tables.customer(spark, dir)
              .select(col("c_custkey"), col("c_nationkey").as("cn"))),
            col("o_custkey") === col("c_custkey"))
      .join(Dims.gateTable(spark, dir, "supplier")(Tables.supplier(spark, dir)
              .select(col("s_suppkey"), col("s_nationkey").as("sn"))),
            col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
              .select(col("n_nationkey").as("snk"), col("n_name").as("a"))),
            col("sn") === col("snk"))
      .join(broadcast(Tables.nation(spark, dir)
              .select(col("n_nationkey").as("cnk"), col("n_name").as("b"))),
            col("cn") === col("cnk"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_trades"))
    val und = trade
      .select(least(col("a"), col("b")).as("u"),
              greatest(col("a"), col("b")).as("v"), col("n_trades"))
      .groupBy(col("u"), col("v"))
      .agg(sum(col("n_trades")).as("w"))
    val tot = und.agg(sum(col("w")).as("total_w"),
                      count(lit(1)).as("n_pairs"))
    und
      .join(broadcast(tot))
      .filter(lit(5L) * col("w") * col("n_pairs") > lit(6L) * col("total_w"))
      .select(col("u"), col("v"))
  }

  def tradeTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = tradeGatedEdges(spark, dir)
    // edge-list joins carry unconditional broadcast hints: the frame is
    // bounded by |nations|² (fixed-cardinality, the Dims doctrine for
    // nation-derived frames), so the wedge/close joins run broadcast
    // over the persisted edge list instead of three SortMergeJoin
    // exchanges (guide §3.1)
    val tris = edges
      .select(col("u").as("ta"), col("v").as("tb"))
      .join(broadcast(edges.select(col("u").as("tb2"), col("v").as("tc"))),
            col("tb") === col("tb2"))
      .join(broadcast(edges.select(col("u").as("ta3"), col("v").as("tc3"))),
            col("ta") === col("ta3") && col("tc") === col("tc3"),
            "left_semi")
    tris
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("nation"))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("nation"))
  }

  /** 2-D Pareto skyline of the part catalog — minimize price, maximize
    * size: every part no other part beats on both axes (the "best
    * value" frontier query; Börzsönyi et al. ICDE'01). Dominance:
    * A beats B iff price_A ≤ price_B ∧ size_A ≥ size_B with at least
    * one strict. In 2-D that collapses to two running conditions — a
    * part survives iff (1) no STRICTLY cheaper part is at least as big
    * (cumulative max-size over cheaper prices) and (2) no SAME-price
    * part is strictly bigger (per-price max == own size) — so the whole
    * skyline is one per-price aggregation plus a window over the
    * DISTINCT-PRICE manifest, never a self-join.
    *
    * Scale: the groupBy(price) shuffle is the only corpus-scale
    * movement; the unpartitioned window runs on the distinct-cents
    * manifest, bounded by the price DOMAIN (≤10⁴ rows per 100 currency
    * units of range) — the same manifest-not-corpus argument as
    * `gini_concentration` — and ships back as a broadcast join. Prices
    * compare as exact cents; the oracle states dominance as the
    * textbook NOT EXISTS, so a hash match checks the rewrite, not a
    * shared formulation.
    */
  def skylinePareto(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables
      .part(spark, dir)
      .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
              floor(col("p_retailprice") * 100 + lit(0.5)).cast("long")
                .as("price_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("price_cents"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   -1)
    val manifest = p
      .groupBy(col("price_cents"))
      .agg(max(col("p_size")).as("mx"))
      .withColumn("cm_strict", max(col("mx")).over(w))
    p.join(Dims.gateTable(spark, dir, "part")(manifest), Seq("price_cents"))
      .filter((col("cm_strict").isNull || col("cm_strict") < col("p_size")) &&
        col("mx") === col("p_size"))
      .select(col("p_partkey"), col("p_size"), col("price_cents"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  /** Gated trade-edge CTE chain shared by the trade_triangles and
    * trade_reach oracles — one definition of the graph, like the Spark
    * side's [[tradeGatedEdges]].
    */
  private val tradeEdgesCtes: String =
    """trade AS (
      |  SELECT ns.n_name AS a, nc.n_name AS b, count(*) AS n_trades
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  WHERE ns.n_name <> nc.n_name
      |  GROUP BY 1, 2
      |),
      |und AS (
      |  SELECT least(a, b) AS u, greatest(a, b) AS v,
      |         CAST(sum(n_trades) AS BIGINT) AS w
      |  FROM trade GROUP BY 1, 2
      |),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS total_w,
      |               count(*) AS n_pairs FROM und),
      |edges AS (SELECT u, v FROM und, tot
      |          WHERE 5 * w * n_pairs > 6 * total_w)""".stripMargin

  val oracles: Map[String, String] = Map(
    "kpi_grouping_sets" ->
      s"""SELECT event_type, status,
         |       CAST(grouping(event_type) * 2 + grouping(status) AS BIGINT)
         |         AS gid,
         |       count(*) AS n_events,
         |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
         |            AS BIGINT) AS cents
         |FROM (SELECT e.*, ${Tables.statusSql} AS status
         |      FROM (${Tables.eventsSql}) e) ee
         |GROUP BY GROUPING SETS ((event_type, status), (event_type),
         |                        (status))
         |ORDER BY gid, event_type NULLS FIRST, status NULLS FIRST"""
        .stripMargin,
    "supplier_league" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                             + 0.5) AS BIGINT)) AS BIGINT)
        |           AS revenue_cents
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_suppkey, revenue_cents,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       round(percent_rank() OVER w, 6) AS pct_rank,
        |       round(cume_dist() OVER w, 6) AS cume,
        |       CAST(ntile(10) OVER w AS BIGINT) AS decile
        |FROM rev
        |WINDOW w AS (ORDER BY revenue_cents DESC, l_suppkey)
        |ORDER BY rnk""".stripMargin,
    "basket_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |),
        |nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
        |isupp AS (
        |  SELECT l_partkey, count(*) AS supp FROM items GROUP BY 1
        |),
        |psupp AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS supp_ab
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |),
        |directed AS (
        |  SELECT pa AS antecedent, pb AS consequent, supp_ab FROM psupp
        |  UNION ALL
        |  SELECT pb, pa, supp_ab FROM psupp
        |)
        |SELECT d.antecedent, d.consequent, d.supp_ab,
        |       sa.supp AS supp_a, sc.supp AS supp_c,
        |       round(CAST(d.supp_ab AS DOUBLE) / CAST(sa.supp AS DOUBLE), 6)
        |         AS confidence,
        |       round(CAST(nb.n AS DOUBLE) * CAST(d.supp_ab AS DOUBLE)
        |             / (CAST(sa.supp AS DOUBLE) * CAST(sc.supp AS DOUBLE)), 6)
        |         AS lift,
        |       nb.n * d.supp_ab > sa.supp * sc.supp AS positive
        |FROM directed d
        |JOIN isupp sa ON d.antecedent = sa.l_partkey
        |JOIN isupp sc ON d.consequent = sc.l_partkey
        |CROSS JOIN nb
        |ORDER BY antecedent, consequent""".stripMargin,
    "skyline_pareto" ->
      """WITH p AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents
        |  FROM part
        |)
        |SELECT p_partkey, p_size, price_cents
        |FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
        |ORDER BY price_cents, p_partkey""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey
        |) c_orders
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q11_important_parts" ->
      q11Sql("lineitem", "supplier", "nation"),
    "q20_dominant_suppliers" ->
      q20Sql("supplier", "lineitem"),
    "q15_top_supplier" ->
      q15Sql("supplier", "lineitem"),
    "expect_suite" ->
      s"""WITH e AS (
         |  SELECT count(*) AS n_events,
         |         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_users,
         |         CAST(sum(CASE WHEN value < 0 OR value > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS out_of_range,
         |         CAST(sum(CASE WHEN ts > TIMESTAMP '2030-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS future_ts,
         |         count(*) - count(DISTINCT event_id) AS dup_ids
         |  FROM (${Tables.eventsSql}) ev
         |),
         |o AS (SELECT count(*) AS orphans FROM orders
         |      WHERE NOT EXISTS (SELECT 1 FROM customer
         |                        WHERE c_custkey = o_custkey)),
         |d AS (SELECT CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |             AS empty_docs FROM documents)
         |SELECT check_name, observed, threshold, passed FROM (
         |  SELECT 'events_dup_ids' AS check_name, dup_ids AS observed,
         |         CAST(0 AS BIGINT) AS threshold, dup_ids = 0 AS passed FROM e
         |  UNION ALL SELECT 'events_future_ts', future_ts, 0, future_ts = 0 FROM e
         |  UNION ALL SELECT 'events_null_user', null_users, 0, null_users = 0 FROM e
         |  UNION ALL SELECT 'events_rowcount_min', n_events, 1000, n_events >= 1000 FROM e
         |  UNION ALL SELECT 'events_value_range', out_of_range, 0, out_of_range = 0 FROM e
         |  UNION ALL SELECT 'docs_empty_text', empty_docs, 0, empty_docs = 0 FROM d
         |  UNION ALL SELECT 'orders_fk_orphans', orphans, 0, orphans = 0 FROM o
         |) checks ORDER BY check_name""".stripMargin,
    "q17_small_quantity" ->
      q17Sql("lineitem", "part"),
    "q6_forecast_revenue" ->
      """SELECT count(*) AS n_items,
        |       CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5)
        |                     AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q12_delay_priority" ->
      """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
        |            THEN 'late' ELSE 'ontime' END AS band,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q8_market_share" ->
      """WITH j AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         ns.n_name AS supp_nation,
        |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |              AS BIGINT) AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE r_name = 'EUROPE'
        |),
        |a AS (
        |  SELECT o_year,
        |         CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN cents
        |                       ELSE 0 END) AS BIGINT) AS nation_cents,
        |         CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM j GROUP BY 1
        |)
        |SELECT o_year, nation_cents, total_cents,
        |       round(CASE WHEN total_cents = 0 THEN NULL
        |             ELSE CAST(nation_cents AS DOUBLE) /
        |                  CAST(total_cents AS DOUBLE) END, 6) AS mkt_share
        |FROM a ORDER BY o_year""".stripMargin,
    "q9_product_profit" ->
      """SELECT ns.n_name AS nation,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                           + 0.5) AS BIGINT)
        |                - CAST(floor(p_retailprice * 60.0 * l_quantity + 0.5)
        |                       AS BIGINT)) AS BIGINT) AS profit_cents
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "q14_promo_share" ->
      """WITH j AS (
        |  SELECT p_type,
        |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |              AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate < TIMESTAMP '1997-10-01'
        |),
        |a AS (
        |  SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
        |              AS BIGINT) AS promo_cents,
        |         CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM j
        |)
        |SELECT promo_cents, total_cents,
        |       round(CASE WHEN total_cents = 0 THEN NULL
        |             ELSE 100.0 * CAST(promo_cents AS DOUBLE) /
        |                  CAST(total_cents AS DOUBLE) END, 6) AS promo_share
        |FROM a""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT count(*) AS n_items,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                           + 0.5) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "basket_pairs" ->
      """WITH ip AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pr AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |         count(*) AS support
        |  FROM ip a JOIN ip b ON a.l_orderkey = b.l_orderkey
        |                     AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |),
        |top AS (SELECT * FROM pr ORDER BY support DESC, part_a, part_b
        |        LIMIT 20)
        |SELECT part_a, part_b, p1.p_name AS name_a, p2.p_name AS name_b,
        |       support
        |FROM top
        |JOIN part p1 ON p1.p_partkey = part_a
        |JOIN part p2 ON p2.p_partkey = part_b
        |ORDER BY support DESC, part_a, part_b""".stripMargin,
    "q16_part_suppliers" ->
      q16Sql("part", "lineitem", "supplier"),
    "trade_triangles" ->
      s"""WITH $tradeEdgesCtes,
        |tris AS (
        |  SELECT e1.u AS ta, e1.v AS tb, e2.v AS tc
        |  FROM edges e1
        |  JOIN edges e2 ON e1.v = e2.u
        |  WHERE EXISTS (SELECT 1 FROM edges e3
        |                WHERE e3.u = e1.u AND e3.v = e2.v)
        |)
        |SELECT nation, count(*) AS n_triangles
        |FROM (SELECT ta AS nation FROM tris
        |      UNION ALL SELECT tb FROM tris
        |      UNION ALL SELECT tc FROM tris) n
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // recursive CTE under UNION dedup: the (pair, hops) state space is
    // finite (hops < 25 nations), so the recursion provably terminates
    // and min(hops) is the true BFS distance the Spark fixed point finds
    "trade_reach" ->
      s"""WITH RECURSIVE $tradeEdgesCtes,
        |bi AS (SELECT u AS src, v AS dst FROM edges
        |       UNION SELECT v, u FROM edges),
        |rr(src, dst, hops) AS (
        |  SELECT src, dst, 1 FROM bi
        |  UNION
        |  SELECT rr.src, bi.dst, rr.hops + 1
        |  FROM rr JOIN bi ON rr.dst = bi.src
        |  WHERE rr.hops < 24 AND rr.src <> bi.dst
        |)
        |SELECT src AS nation_a, dst AS nation_b,
        |       CAST(min(hops) AS BIGINT) AS hops
        |FROM rr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "gini_concentration" ->
      s"""WITH e AS (${Tables.eventsSql}),
         |ut AS (
         |  SELECT event_type, user_id,
         |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         |           AS cents
         |  FROM e GROUP BY 1, 2
         |),
         |bv AS (SELECT event_type, cents, count(*) AS c FROM ut GROUP BY 1, 2),
         |rk AS (
         |  SELECT *, coalesce(sum(c) OVER (PARTITION BY event_type
         |              ORDER BY cents
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |            0) AS r
         |  FROM bv
         |),
         |a AS (
         |  SELECT event_type, CAST(sum(c) AS BIGINT) AS n_users,
         |         CAST(sum(cents * c) AS BIGINT) AS total_cents,
         |         CAST(sum(cents * (2 * c * r + c * (c + 1))) AS BIGINT) AS w2
         |  FROM rk GROUP BY 1
         |)
         |SELECT event_type, n_users, total_cents,
         |       round(CASE WHEN n_users * total_cents = 0 THEN NULL
         |             ELSE CAST(w2 - (n_users + 1) * total_cents AS DOUBLE) /
         |                  CAST(n_users * total_cents AS DOUBLE) END, 6) AS gini
         |FROM a ORDER BY event_type""".stripMargin,
    "q21_wait_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND n.n_name = 'NATION_7'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate
        |                          + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q22_dormant_balance" ->
      """WITH cents AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS acctbal_cents
        |  FROM customer
        |),
        |thr AS (SELECT count(*) AS n_pos, sum(acctbal_cents) AS sum_pos
        |        FROM cents WHERE c_acctbal > 0)
        |SELECT c_mktsegment AS segment, count(*) AS numcust,
        |       CAST(sum(acctbal_cents) AS BIGINT) AS totacctbal_cents
        |FROM cents, thr
        |WHERE acctbal_cents * thr.n_pos > thr.sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-06-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q2_min_cost_supplier" ->
      q2Sql("part", "supplier", "nation", "region", "lineitem"),
    "q4_priority_promise" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
        |       total_qty
        |FROM (
        |  SELECT l_orderkey,
        |         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
        |           AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING total_qty > 250
        |) q
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q10_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100
        |                           + 0.5) AS BIGINT)) AS BIGINT) AS lost_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_cents DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |       count(*) AS n_rows,
        |       CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM (
        |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |         CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |         CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |              AS BIGINT) AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |    AND ns.n_name < nc.n_name
        |)
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "order_backlog" ->
      """SELECT o_orderpriority, date_trunc('month', o_orderdate) AS month,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS backlog_cents
        |FROM orders WHERE o_orderstatus <> 'F'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "fk_integrity" ->
      """WITH e AS (
        |  SELECT 'lineitem->orders' AS fk_edge,
        |         (SELECT count(*) FROM lineitem) AS n_children,
        |         (SELECT count(*) FROM lineitem l
        |          WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
        |  UNION ALL
        |  SELECT 'orders->customer',
        |         (SELECT count(*) FROM orders),
        |         (SELECT count(*) FROM orders o
        |          WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                            WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL
        |  SELECT 'customer->nation',
        |         (SELECT count(*) FROM customer),
        |         (SELECT count(*) FROM customer c
        |          WHERE NOT EXISTS (SELECT 1 FROM nation n
        |                            WHERE n.n_nationkey = c.c_nationkey))
        |)
        |SELECT fk_edge, CAST(n_children AS BIGINT) AS n_children,
        |       CAST(n_orphans AS BIGINT) AS n_orphans,
        |       n_orphans = 0 AS intact
        |FROM e ORDER BY fk_edge""".stripMargin,
    "key_skew_profile" ->
      s"""WITH c AS (
         |  SELECT user_id, count(*) AS n_rows
         |  FROM (${Tables.eventsSql}) e GROUP BY user_id
         |),
         |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
         |             count(*) AS n_keys FROM c)
         |SELECT user_id, n_rows,
         |       round(CAST(n_rows AS DOUBLE) / CAST(total_rows AS DOUBLE), 6) AS row_share,
         |       round(CAST(n_rows AS DOUBLE) /
         |             (CAST(total_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)), 4) AS skew_vs_uniform
         |FROM c CROSS JOIN t
         |ORDER BY n_rows DESC, user_id LIMIT 5""".stripMargin,
    "user_value_quartiles" ->
      s"""WITH t AS (
         |  SELECT user_id,
         |         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
         |  FROM (${Tables.eventsSql}) e GROUP BY user_id
         |),
         |q AS (
         |  SELECT total_cents,
         |         CAST(ntile(4) OVER (ORDER BY total_cents DESC, user_id) AS BIGINT) AS quartile
         |  FROM t
         |)
         |SELECT quartile, count(*) AS n_users,
         |       min(total_cents) AS min_cents,
         |       max(total_cents) AS max_cents,
         |       CAST(sum(total_cents) AS BIGINT) AS sum_cents
         |FROM q GROUP BY quartile ORDER BY quartile""".stripMargin,
    "kpi_cube" ->
      s"""WITH e AS (
         |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
         |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM (${Tables.eventsSql}) ee
         |)
         |SELECT coalesce(event_type, 'ALL') AS event_type,
         |       coalesce(hr, -1) AS hour,
         |       count(*) AS n_events,
         |       CAST(sum(cents) AS BIGINT) AS sum_cents
         |FROM e GROUP BY CUBE (event_type, hr) ORDER BY 1, 2""".stripMargin,
    "user_activity_pivot" ->
      s"""SELECT user_id,
         |       count(*) FILTER (WHERE event_type = 'click') AS click,
         |       count(*) FILTER (WHERE event_type = 'error') AS error,
         |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
         |       count(*) FILTER (WHERE event_type = 'signup') AS signup,
         |       count(*) FILTER (WHERE event_type = 'view') AS view
         |FROM (${Tables.eventsSql}) e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "lineitem_measures" ->
      """WITH u AS (
        |  SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_orderkey, 'l_tax', l_tax FROM lineitem
        |)
        |SELECT measure, count(*) AS n_values,
        |       round(sum(value), 4) AS total,
        |       round(avg(value), 6) AS avg_value
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin,
    "orders_no_returns" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin,
    "big_spender_segments" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |       round(avg(c_acctbal), 6) AS avg_acctbal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "min_price_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, round(avg(l_extendedprice), 6) AS avg_price
        |  FROM lineitem GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_partkey
        |                               ORDER BY avg_price, l_suppkey) AS rn
        |  FROM ps
        |)
        |SELECT l_partkey AS partkey, l_suppkey AS suppkey, avg_price
        |FROM r WHERE rn = 1 ORDER BY partkey""".stripMargin,
    "kpi_rollup" ->
      s"""WITH e AS (SELECT *, ${Tables.statusSql} AS status FROM (${Tables.eventsSql}) ee)
         |SELECT coalesce(event_type, 'ALL') AS event_type,
         |       coalesce(status, 'ALL') AS status,
         |       count(*) AS n_events,
         |       round(sum(value), 4) AS sum_value,
         |       round(avg(value), 6) AS avg_value
         |FROM e GROUP BY ROLLUP (event_type, status)
         |ORDER BY 1, 2""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_extendedprice), 6) AS avg_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "top_customers" ->
      """SELECT o_custkey AS custkey, c_name,
        |       round(sum(o_totalprice), 4) AS total_spent,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2
        |ORDER BY total_spent DESC, custkey LIMIT 10""".stripMargin,
    "supplier_parts" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts,
        |       round(sum(l_quantity), 4) AS total_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
