package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** Event-sequence analytics over the event stream: funnel conversion and
  * cohort retention — the product-analytics queries a streaming platform's
  * read API grows next (same single-table shape as the reference's
  * `/series`: `read-api/main.py:293-370`, just with sequential
  * semantics added).
  *
  * Scale shape: every stage is a groupBy/join keyed on `user_id` — one
  * partitioning reused across stages (co-partitioned joins after the
  * first shuffle; AQE keeps the small stage outputs broadcast). No
  * windows over unbounded partitions, no driver-side loops.
  */
object FunnelOps {

  /** Strict-sequence funnel view → click → purchase: a user converts a
    * stage only with an event STRICTLY AFTER their previous stage's
    * first event (min-ts semantics, the standard product-funnel
    * definition). Emits per-stage user counts and conversion vs the
    * funnel head.
    */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = e
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("v_ts"))
    val c = e
      .filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("c_ts"))
    val p = e
      .filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("p_ts"))
    def stage(df: DataFrame, name: String, ord: Int): DataFrame =
      df.agg(count(lit(1)).cast("long").as("n_users"))
        .select(lit(name).as("stage"), lit(ord.toLong).as("stage_order"),
                col("n_users"))
    stage(v, "view", 1)
      .union(stage(c, "click", 2))
      .union(stage(p, "purchase", 3))
      .crossJoin(
        broadcast(v.agg(count(lit(1)).cast("double").as("n_first"))))
      .select(col("stage"), col("stage_order"), col("n_users"),
              round(col("n_users").cast("double") / col("n_first"), 6)
                .as("conv_rate"))
      .orderBy(col("stage_order"))
  }

  /** Cohort retention: users grouped by first-activity day; for each
    * cohort, distinct active users at day offsets 0..13. The (user, day)
    * dedup happens BEFORE the join (smallest frame shuffles), and the
    * final matrix is tiny regardless of input scale.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables
      .events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val first = act
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    act
      .join(first, "user_id")
      .withColumn("day_offset",
                  datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset") <= 13)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** First-order Markov transition counts between consecutive events of
    * each user (lead over the per-user timeline) — the journey-graph
    * aggregation behind "next-action" analytics. One keyed window pass
    * (partition user_id, tie-broken total order), one tiny aggregation.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Day-of-week × hour activity heatmap — the ops-dashboard staple for
    * spotting diurnal/weekly load shape. Integer-only; one combined
    * aggregation pass.
    */
  def eventsHourlyHeatmap(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
               hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"),
           count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("dow"), col("hour"))

  // ---- DuckDB oracles ----------------------------------------------------

  /** Shared by `event_transitions` (batch lead window) and
    * `stream_transitions_drain` (the same pairs via the keyed streaming
    * processor through an actual writeStream drain).
    */
  private val eventTransitionsSql: String =
    s"""WITH e AS (${Tables.eventsSql}),
       |t AS (
       |  SELECT event_type AS prev_type,
       |         lead(event_type, 1) OVER (PARTITION BY user_id
       |                                   ORDER BY ts, event_id) AS next_type
       |  FROM e
       |)
       |SELECT prev_type, next_type, count(*) AS n_transitions
       |FROM t WHERE next_type IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Top user-journey paths: the 20 most common 3-step event-type
    * sequences across all user timelines (the path-analysis report next
    * to [[eventTransitions]]' Markov pairs). Two `lead`s over the same
    * per-user (ts, event_id) window — ONE shuffle and ONE sort serve
    * both — then a tiny count aggregation; ties broken by path text for
    * a total order. Per-user window partitions are the same
    * retention-bounded shape every sequence operator here documents.
    */
  def topPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(20)
  }

  /** Window for [[windowFunnel]], in µs (7 days). */
  private val FunnelWindowMicros = 604800000000L

  /** Hot-user cap for [[windowFunnel]] (`graft.funnel.maxEvents`): a
    * bot with 10⁷ funnel events must not own an unbounded aggregation
    * buffer. Only the LATEST this-many funnel events per user enter the
    * fold — enforced by the bounded-buffer [[graft.plans.TopK]] pass
    * (O(cap) memory per key at every stage), NOT by slicing after an
    * unbounded collect. Truncation changes a user's depth only when
    * their history exceeds the cap, and those users are surfaced in the
    * `n_at_cap` audit column; the oracle applies the identical
    * truncation, so parity holds at any data. Default is ~60× the
    * densest testdata user and generous for any human timeline.
    */
  private val FunnelMaxEvents = 4096

  /** The session's hot-user cap: `graft.funnel.maxEvents`, else
    * [[FunnelMaxEvents]]. Read here for the batch fold and for the
    * streaming twin's cap audit.
    */
  private[graft] def maxEvents(spark: SparkSession): Int =
    spark.conf.get("graft.funnel.maxEvents", FunnelMaxEvents.toString).toInt

  /** "Not reached" sentinel for the funnel fold: far BELOW any real µs
    * timestamp, chosen so `event_us − sentinel` cannot overflow BIGINT
    * — which makes the window check self-guarding (`t − NEG ≫ window`
    * is always false), so no explicit reached-test is needed.
    */
  private val FunnelSentinel = -1000000000000000000L

  /** ClickHouse-`windowFunnel`-style sequence matching: the deepest
    * view → click → purchase chain each user completes with the WHOLE
    * chain inside a 7-day window of its first event, reported as a
    * depth histogram. Unlike [[funnelConversion]] (min-ts stage
    * semantics, no window), this is true windowed sequence matching:
    * a purchase only counts if some view-started chain reaches it in
    * time.
    *
    * The matcher is a LEFT FOLD over each user's time-ordered funnel
    * events with a 3-slot state: slot k holds the LATEST chain-start
    * timestamp among chains that have reached depth k. Latest dominates
    * for the future — the window is measured from the chain's first
    * event, so a fresher start admits every continuation an older one
    * would (depth already achieved lives in the deeper slots; a view
    * that RESTARTS the funnel late therefore correctly opens a new
    * window rather than being shadowed by the first view). The fold is
    * a higher-order `aggregate` over a sorted per-user list, and the
    * DuckDB oracle replays the identical fold with `list_reduce`
    * (events encoded as BIGINT[3] so the accumulator and element types
    * unify). Integer-only state — engine-exact; a step landing exactly
    * at the window edge or at the chain-start instant is admitted
    * (at-or-after, ≤-window).
    *
    * Scale: events filter to the three funnel types BEFORE the per-user
    * collect; per-user funnel histories are retention-bounded (the
    * production form also slices a time range first — same caveat
    * family as any per-entity sequence scan).
    */
  def windowFunnel(spark: SparkSession, dir: String): DataFrame =
    windowFunnelAt(spark, dir, FunnelWindowMicros)

  /** [[windowFunnel]] at a 12-hour window — tight enough that the
    * corpus produces a genuinely mixed depth histogram (the 7-day
    * default converts every test user, a single-row gate; measured at
    * sf0.01 this splits ≈14/100/36 across depths 1/2/3), proving the
    * window knob cannot desync the engines. Oracle generated by the
    * same builder at the same window.
    */
  def windowFunnelTight(spark: SparkSession, dir: String): DataFrame =
    windowFunnelAt(spark, dir, TightWindowMicros)

  private val TightWindowMicros = 43200000000L

  private def windowFunnelAt(spark: SparkSession, dir: String,
                             windowMicros: Long): DataFrame = {
    val big = lit(FunnelSentinel)
    val w = lit(windowMicros)
    val maxEv = maxEvents(spark)
    val step = when(col("event_type") === "view", 1)
      .when(col("event_type") === "click", 2)
      .otherwise(3)
    val events = Tables.events(spark, dir)
    // depth 0 = active users with NO funnel progress: the histogram
    // covers every user seen in the stream, not just funnel participants
    val allUsers = events.select(col("user_id")).distinct()
    // hot-user guard (see FunnelMaxEvents): latest-N per user through
    // the bounded TopK pass; `rk` hits maxEv exactly when the user's
    // history is at/over the cap, which both engines can test
    val capped = graft.plans.TopK.perKey(
      events
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
                col("event_id").as("id"), step.as("st")),
      Seq("user_id"), Seq("us" -> false, "id" -> false), maxEv, "rk")
    val folded = capped
      .select(col("user_id"), col("rk"),
              struct(col("us"), col("id"), col("st")).as("e"))
      .groupBy(col("user_id"))
      .agg((max(col("rk")) === maxEv).as("at_cap"),
           aggregate(
        array_sort(collect_list(col("e"))),
        array(big, big, big),
        (a, e) => {
          val us = e.getField("us")
          val st = e.getField("st")
          array(
            when(st === 1, greatest(element_at(a, 1), us))
              .otherwise(element_at(a, 1)),
            when(st === 2 && us - element_at(a, 1) <= w,
                 greatest(element_at(a, 2), element_at(a, 1)))
              .otherwise(element_at(a, 2)),
            when(st === 3 && us - element_at(a, 2) <= w,
                 greatest(element_at(a, 3), element_at(a, 2)))
              .otherwise(element_at(a, 3)))
        }).as("s"))
      .select(col("user_id"), col("at_cap"),
              when(element_at(col("s"), 3) > big, 3)
                .when(element_at(col("s"), 2) > big, 2)
                .when(element_at(col("s"), 1) > big, 1)
                .otherwise(0).cast("int").as("depth"))
    allUsers
      .join(folded, Seq("user_id"), "left")
      .select(coalesce(col("depth"), lit(0)).as("depth"),
              coalesce(col("at_cap"), lit(false)).as("at_cap"))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_users"),
           sum(when(col("at_cap"), 1L).otherwise(0L)).as("n_at_cap"))
      .orderBy(col("depth"))
  }

  /** Fixed-point scale for [[pagerankTypes]]: 10¹⁰ rank units = mass 1.
    * Chosen so every intermediate (`rank·cnt`, `85·Σcontrib`) stays far
    * inside BIGINT on both engines at any test SF.
    */
  private val PrScale = 10000000000L

  /** PageRank iterations — fixed so the oracle can unroll them. */
  private val PrIters = 10

  /** PageRank over the event-type transition graph (damping 0.85,
    * [[PrIters]] power iterations) — the iterative-graph-algorithm shape
    * (join ranks to edges → aggregate contributions → refresh ranks)
    * that complements [[graft.operators.DedupOps]]' connected
    * components. Everything is FIXED-POINT integer arithmetic
    * ([[PrScale]] units, `div` floor division), so the result is
    * bit-exact across engines and across any partitioning/summation
    * order — the same trick the repo's micro-unit money sums use, here
    * making a 10-step iterative float algorithm oracle-checkable.
    * Dangling mass and floor remainders are dropped (PageRank with an
    * implicit sink), so ranks sum to ≤ one mass unit; each node keeps at
    * least the teleport floor `0.15/N`.
    *
    * Scale shape: the edge list is one shuffle over the raw table
    * (map-side combined); each iteration joins ranks (|V| rows) to
    * edges (|V|² max) and re-aggregates — all metadata-scale frames
    * here, and at a 100 TB edge list the same loop holds with ranks
    * broadcast. The edge and node frames are `localCheckpoint`ed ONCE
    * (they feed all ten iterations — without pinning, each DAG
    * occurrence would recompute the window+groupBy subtree); the rank
    * frames themselves stay lazy lineage, ten tiny joins deep, so the
    * whole refinement runs as ONE job instead of ten scheduler
    * round-trips. The node-set cardinality is read driver-side once (a
    * handful of event types — the teleport constant needs it).
    */
  def pagerankTypes(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val edges = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("cnt"))
    val outc = edges.groupBy(col("src")).agg(sum(col("cnt")).as("out_cnt"))
    val withOut = edges
      .join(outc, "src")
      .localCheckpoint()
    val nodes = withOut
      .select(col("src").as("node"))
      .union(withOut.select(col("dst")))
      .distinct()
      .localCheckpoint()
    val n = nodes.count()
    val teleport = (15L * PrScale) / (100L * n)
    var ranks = nodes.select(col("node"), lit(PrScale / n).as("rank"))
    // r13 examined, left as shuffle joins ON MEASUREMENT: broadcasting
    // the per-round rank/contrib vectors (the canonical PageRank shape
    // for a corpus-scale edge list) was tried and REGRESSED 0.63 s →
    // 2.15 s at sf0.1 — with EVERY frame here bounded by the event-type
    // domain, the 2·PrIters sequential broadcast builds (each a blocking
    // driver job) cost more than the tiny 8-partition shuffles they
    // replace, and at scale the frames stay domain-bounded so the
    // trade never flips. Guide §1.1: empirical loop overrides the
    // first-principles default.
    for (_ <- 1 to PrIters) {
      val contribs = withOut
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(rank * cnt) div out_cnt").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
                (lit(teleport) +
                  expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
    }
    ranks
      .select(col("node").as("event_type"), col("rank").as("rank_scaled"),
              expr(s"(rank * 1000000) div ${PrScale}L").as("rank_ppm"))
      .orderBy(col("event_type"))
  }

  /** Oracle twin of one [[pagerankTypes]] iteration, as a CTE. */
  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (
       |  SELECT nd.node,
       |         CAST((15 * ${PrScale}) // (100 * n.nn)
       |              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
       |  FROM nodes nd CROSS JOIN n
       |  LEFT JOIN (
       |    SELECT e.dst, CAST(sum((r.rank * e.cnt) // e.out_cnt) AS BIGINT) AS s
       |    FROM edges e JOIN $prev r ON r.node = e.src
       |    GROUP BY e.dst
       |  ) c ON c.dst = nd.node
       |)""".stripMargin

  /** Time-to-convert distribution — the latency companion of
    * [[funnelConversion]]'s depth counts: for every user whose first
    * `view` is later followed by a `purchase`, the seconds between the
    * first view and the first subsequent purchase, summarized with
    * exact nearest-rank p50/p90 (the mergeable
    * [[graft.functions.ExactPercentile]] UDAF — map-side combinable,
    * so no per-user window and no global sort) plus min/max/mean. The
    * per-user reduction is two `min` aggregates and one broadcast-able
    * join on user_id; deltas are exact integer seconds.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables
      .events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val v0 = ev
      .filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("v0"))
    ev
      .filter(col("event_type") === "purchase")
      .join(v0, "user_id")
      .filter(col("us") > col("v0"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("p0"), max(col("v0")).as("v0u"))
      .select(expr("(p0 - v0u) div 1000000").as("delta_secs"))
      .agg(count(lit(1)).as("n_converted"),
           min(col("delta_secs")).as("min_secs"),
           max(col("delta_secs")).as("max_secs"),
           round(sum(col("delta_secs")).cast("double") /
                   count(lit(1)).cast("double"), 6).as("mean_secs"),
           graft.functions.ExactPercentile
             .p50(col("delta_secs").cast("double")).as("p50_secs"),
           graft.functions.ExactPercentile
             .p90(col("delta_secs").cast("double")).as("p90_secs"))
      // zero conversions: ExactPercentile's empty buffer yields NaN
      // while the oracle's empty-list index yields NULL — pin NULL on
      // both engines (min/max/mean already null naturally)
      .select(col("n_converted"), col("min_secs"), col("max_secs"),
              when(col("n_converted") === 0, lit(null))
                .otherwise(col("mean_secs")).as("mean_secs"),
              when(col("n_converted") === 0, lit(null))
                .otherwise(col("p50_secs")).as("p50_secs"),
              when(col("n_converted") === 0, lit(null))
                .otherwise(col("p90_secs")).as("p90_secs"))
  }

  /** A/B conversion analysis over a hash-split experiment: users split
    * into arms by the first md5 nibble of their id (portable across
    * engines — the same salted-hash assignment a real experiment
    * platform uses, demonstrated unsalted here), conversion = any
    * purchase event, and the arms compare through the pooled
    * two-proportion z statistic
    * `z = (p_A − p_B) / √(p̂(1−p̂)(1/n_A + 1/n_B))`. All counts are
    * exact longs; z combines them with the IDENTICAL double expression
    * on both engines; `significant` is |z| > 1.96 (α = 0.05 two-sided).
    * Degenerate splits (an empty arm, or p̂ ∈ {0,1} making the variance
    * 0) null the statistic.
    *
    * Scale: one per-user aggregation (max-flag conversion — no distinct
    * explosion), then a 2-row arm rollup. Nothing after the first
    * shuffle exceeds metadata size.
    */
  def abTestConversion(spark: SparkSession, dir: String): DataFrame = {
    val d = (c: org.apache.spark.sql.Column) => c.cast("double")
    val perUser = Tables
      .events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max((col("event_type") === "purchase").cast("long"))
        .as("converted"))
      .withColumn("arm",
                  when(substring(md5(col("user_id").cast("string")), 1, 1)
                         .isin("0", "1", "2", "3", "4", "5", "6", "7"),
                       "A").otherwise("B"))
    val arms = perUser
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
    val wide = arms
      .groupBy()
      .agg(max(when(col("arm") === "A", col("n_users"))).as("n_a"),
           max(when(col("arm") === "A", col("n_conv"))).as("conv_a"),
           max(when(col("arm") === "B", col("n_users"))).as("n_b"),
           max(when(col("arm") === "B", col("n_conv"))).as("conv_b"))
    val pa = d(col("conv_a")) / d(col("n_a"))
    val pb = d(col("conv_b")) / d(col("n_b"))
    val pooled = (d(col("conv_a")) + d(col("conv_b"))) /
      (d(col("n_a")) + d(col("n_b")))
    val se = sqrt(pooled * (lit(1.0) - pooled) *
      (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))
    val degenerate = col("n_a").isNull || col("n_b").isNull ||
      (col("conv_a") + col("conv_b") === 0) ||
      (col("conv_a") + col("conv_b") === col("n_a") + col("n_b"))
    wide.select(
      col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round(when(degenerate, lit(null)).otherwise((pa - pb) / se), 4)
        .as("z_stat"),
      when(degenerate, lit(null))
        .otherwise(abs((pa - pb) / se) > 1.96).as("significant"))
  }

  /** Shared by `window_funnel` (batch capped fold) and
    * `stream_funnel_drain` (the uncapped streaming fold through an
    * actual writeStream drain; equal whenever no user exceeds the
    * cap — every gate corpus).
    */
  private lazy val windowFunnelSql: String =
    windowFunnelSqlAt(FunnelWindowMicros)

  private def windowFunnelSqlAt(windowMicros: Long): String =
      s"""WITH e AS (${Tables.eventsSql}),
         |fr AS (
         |  SELECT user_id,
         |         [epoch_us(ts),
         |          CASE event_type WHEN 'view' THEN 1
         |                          WHEN 'click' THEN 2 ELSE 3 END,
         |          event_id] AS ev,
         |         epoch_us(ts) AS us, event_id,
         |         row_number() OVER (PARTITION BY user_id
         |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
         |  FROM e WHERE event_type IN ('view', 'click', 'purchase')
         |),
         |f AS (SELECT * FROM fr WHERE rk <= $FunnelMaxEvents),
         |folded AS (
         |  SELECT user_id,
         |         max(rk) = $FunnelMaxEvents AS at_cap,
         |         list_reduce(
         |           list_prepend(
         |             [CAST($FunnelSentinel AS BIGINT),
         |              $FunnelSentinel, $FunnelSentinel],
         |             list(ev ORDER BY us, event_id)),
         |           (a, e) -> [
         |             CASE WHEN e[2] = 1 THEN greatest(a[1], e[1]) ELSE a[1] END,
         |             CASE WHEN e[2] = 2
         |                    AND e[1] - a[1] <= $windowMicros
         |                  THEN greatest(a[2], a[1]) ELSE a[2] END,
         |             CASE WHEN e[2] = 3
         |                    AND e[1] - a[2] <= $windowMicros
         |                  THEN greatest(a[3], a[2]) ELSE a[3] END]) AS s
         |  FROM f GROUP BY user_id
         |)
         |,
         |depths AS (
         |  SELECT user_id, at_cap,
         |         CASE WHEN s[3] > $FunnelSentinel THEN 3
         |              WHEN s[2] > $FunnelSentinel THEN 2
         |              WHEN s[1] > $FunnelSentinel THEN 1
         |              ELSE 0 END AS d
         |  FROM folded
         |)
         |SELECT CAST(COALESCE(d, 0) AS INTEGER) AS depth,
         |       count(*) AS n_users,
         |       CAST(sum(CASE WHEN COALESCE(at_cap, false) THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_at_cap
         |FROM (SELECT DISTINCT user_id FROM e) u
         |LEFT JOIN depths USING (user_id)
         |GROUP BY 1 ORDER BY depth""".stripMargin

  val oracles: Map[String, String] = Map(
    "ab_test_conversion" ->
      s"""WITH e AS (${Tables.eventsSql}),
         |u AS (
         |  SELECT user_id,
         |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |           AS converted,
         |         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
         |                   IN ('0','1','2','3','4','5','6','7')
         |              THEN 'A' ELSE 'B' END AS arm
         |  FROM e GROUP BY user_id
         |),
         |arms AS (
         |  SELECT arm, count(*) AS n_users,
         |         CAST(sum(converted) AS BIGINT) AS n_conv
         |  FROM u GROUP BY 1
         |),
         |wide AS (
         |  SELECT max(CASE WHEN arm = 'A' THEN n_users END) AS n_a,
         |         max(CASE WHEN arm = 'A' THEN n_conv END) AS conv_a,
         |         max(CASE WHEN arm = 'B' THEN n_users END) AS n_b,
         |         max(CASE WHEN arm = 'B' THEN n_conv END) AS conv_b
         |  FROM arms
         |),
         |z AS (
         |  SELECT *,
         |         CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |         CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         |         (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
         |           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pooled,
         |         (n_a IS NULL OR n_b IS NULL
         |          OR conv_a + conv_b = 0
         |          OR conv_a + conv_b = n_a + n_b) AS degenerate
         |  FROM wide
         |)
         |SELECT n_a, conv_a, n_b, conv_b,
         |       round(pa, 6) AS rate_a, round(pb, 6) AS rate_b,
         |       round(CASE WHEN degenerate THEN NULL
         |             ELSE (pa - pb) / sqrt(pooled * (CAST(1 AS DOUBLE) - pooled)
         |                  * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
         |                     + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE)))
         |             END, 4) AS z_stat,
         |       CASE WHEN degenerate THEN NULL
         |       ELSE abs((pa - pb) / sqrt(pooled * (CAST(1 AS DOUBLE) - pooled)
         |            * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
         |               + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))))
         |            > CAST(1.96 AS DOUBLE) END AS significant
         |FROM z""".stripMargin,
    "funnel_latency" ->
      s"""WITH e AS (${Tables.eventsSql}),
         |v AS (SELECT user_id, min(epoch_us(ts)) AS v0 FROM e
         |      WHERE event_type = 'view' GROUP BY 1),
         |p AS (SELECT e.user_id, min(epoch_us(ts)) AS p0, max(v.v0) AS v0u
         |      FROM e JOIN v USING (user_id)
         |      WHERE event_type = 'purchase' AND epoch_us(ts) > v.v0
         |      GROUP BY e.user_id),
         |d AS (SELECT CAST((p0 - v0u) // 1000000 AS BIGINT) AS delta_secs
         |      FROM p)
         |SELECT count(*) AS n_converted,
         |       min(delta_secs) AS min_secs, max(delta_secs) AS max_secs,
         |       round(CAST(sum(delta_secs) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 6) AS mean_secs,
         |       list_sort(list(CAST(delta_secs AS DOUBLE)))
         |         [CAST(floor(count(*) * 0.5) AS INT) + 1] AS p50_secs,
         |       list_sort(list(CAST(delta_secs AS DOUBLE)))
         |         [CAST(floor(count(*) * 0.9) AS INT) + 1] AS p90_secs
         |FROM d""".stripMargin,
    "top_paths" ->
      s"""WITH e AS (${Tables.eventsSql}),
         |t AS (
         |  SELECT event_type AS t1,
         |         lead(event_type, 1) OVER w AS t2,
         |         lead(event_type, 2) OVER w AS t3
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |)
         |SELECT t1 || '>' || t2 || '>' || t3 AS path,
         |       count(*) AS n_paths
         |FROM t WHERE t3 IS NOT NULL
         |GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20""".stripMargin,
    "window_funnel" -> windowFunnelSql,
    // the streaming funnel fold (StreamDrain.streamFunnelDrain) needs
    // no cap — O(1) state per event — and equals the capped batch fold
    // whenever no user exceeds the cap (every gate corpus; the cap
    // audit column is batch-side bookkeeping either way)
    "stream_funnel_drain" -> windowFunnelSql,
    // mixed-depth histogram at the 12 h window: the knob-proof row
    "window_funnel_tight" -> windowFunnelSqlAt(TightWindowMicros),
    "pagerank_types" ->
      s"""WITH e AS (${Tables.eventsSql}),
         |t AS (
         |  SELECT event_type AS src,
         |         lead(event_type) OVER (PARTITION BY user_id
         |                                ORDER BY ts, event_id) AS dst
         |  FROM e
         |),
         |e0 AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
         |  FROM t WHERE dst IS NOT NULL GROUP BY 1, 2
         |),
         |edges AS (
         |  SELECT e0.*, o.out_cnt
         |  FROM e0 JOIN (SELECT src, CAST(sum(cnt) AS BIGINT) AS out_cnt
         |                FROM e0 GROUP BY 1) o USING (src)
         |),
         |nodes AS (
         |  SELECT DISTINCT node
         |  FROM (SELECT src AS node FROM edges
         |        UNION ALL SELECT dst FROM edges)
         |),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
         |r0 AS (
         |  SELECT node, CAST(${PrScale} // n.nn AS BIGINT) AS rank
         |  FROM nodes CROSS JOIN n
         |),
         |${(1 to PrIters).map(i => prIterSql(s"r${i - 1}", s"r$i")).mkString(",\n")}
         |SELECT node AS event_type, rank AS rank_scaled,
         |       CAST((rank * 1000000) // ${PrScale} AS BIGINT) AS rank_ppm
         |FROM r$PrIters ORDER BY event_type""".stripMargin,
    "events_hourly_heatmap" ->
      s"""SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         |       CAST(hour(ts) AS BIGINT) AS hour,
         |       count(*) AS n_events,
         |       count(DISTINCT user_id) AS n_users
         |FROM (${Tables.eventsSql}) e
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "event_transitions" -> eventTransitionsSql,
    // the drain's pairing processor emits each observed transition
    // exactly once, so the counted read-back shares the batch oracle
    "stream_transitions_drain" -> eventTransitionsSql,
    // same pairing fed files stored OUT of event-time order inside each
    // micro-batch: a within-trigger sort regression emits wrong edges
    // and flips this unchanged oracle
    "stream_shuffled_transitions_drain" -> eventTransitionsSql,
    "funnel_conversion" ->
      s"""WITH e AS (${Tables.eventsSql}),
         |v AS (SELECT user_id, min(ts) AS v_ts FROM e
         |      WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM e
         |      JOIN v ON e.user_id = v.user_id
         |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
         |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM e
         |      JOIN c ON e.user_id = c.user_id
         |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1),
         |n AS (
         |  SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_order,
         |         CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
         |  UNION ALL
         |  SELECT 'click', CAST(2 AS BIGINT),
         |         CAST((SELECT count(*) FROM c) AS BIGINT)
         |  UNION ALL
         |  SELECT 'purchase', CAST(3 AS BIGINT),
         |         CAST((SELECT count(*) FROM p) AS BIGINT)
         |),
         |f AS (SELECT CAST(count(*) AS DOUBLE) AS n_first FROM v)
         |SELECT stage, stage_order, n_users,
         |       round(CAST(n_users AS DOUBLE) / n_first, 6) AS conv_rate
         |FROM n CROSS JOIN f ORDER BY stage_order""".stripMargin,
    "cohort_retention" ->
      s"""WITH e AS (${Tables.eventsSql}),
         |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM e),
         |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
         |SELECT f.cohort_day,
         |       CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
         |       count(*) AS n_users
         |FROM a JOIN f ON a.user_id = f.user_id
         |WHERE date_diff('day', f.cohort_day, a.day) <= 13
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
