package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan shape guards: the properties that matter at cluster
  * scale must survive refactors — filters reaching the parquet scan,
  * dimensions broadcast, top-k planned as TakeOrderedAndProject, and the
  * raw-ns pushdown for time-sliced event reads.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q3/q5 join dimensions are broadcast, not shuffled") {
    val q3 = planOf(OlapOps.q3Shipping(spark, sf("sf0.01")))
    assert(q3.contains("BroadcastHashJoin"))
    val q5 = planOf(OlapOps.q5LocalSupplier(spark, sf("sf0.01")))
    assert(q5.contains("BroadcastHashJoin"))
    assert(!q5.contains("SortMergeJoin"))
  }

  test("order-by + limit plans as distributed top-k") {
    assert(planOf(KpiOps.kpiLookup(spark, sf("sf0.01")))
      .contains("TakeOrderedAndProject"))
    assert(planOf(OlapOps.topCustomers(spark, sf("sf0.01")))
      .contains("TakeOrderedAndProject"))
  }

  test("dimension predicates push into the parquet scan") {
    val p = planOf(KpiOps.kpiLookup(spark, sf("sf0.01")))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(event_type,click)"))
  }

  test("time-range reads push raw-ns bounds into the scan") {
    val p = planOf(
      Tables.eventsTimeRange(spark, sf("sf0.01"),
                             "2024-01-05 00:00:00", "2024-01-10 00:00:00"))
    assert(p.contains("GreaterThanOrEqual(ts,") &&
      p.contains("LessThanOrEqual(ts,"))
    // and the same rows as filtering after conversion
    val pushed = Tables
      .eventsTimeRange(spark, sf("sf0.01"),
                       "2024-01-05 00:00:00", "2024-01-10 00:00:00")
      .count()
    val naive = Tables
      .events(spark, sf("sf0.01"))
      .filter(col("ts").between(lit("2024-01-05 00:00:00").cast("timestamp"),
                                lit("2024-01-10 00:00:00").cast("timestamp")))
      .count()
    assert(pushed == naive)
  }

  test("round-6 detectors keep their manifest-window / single-scan shapes") {
    // skyline: the window must run over the per-price AGGREGATE (the
    // distinct-cents manifest), which broadcasts back — never a window
    // over the raw table or a dominance self-join
    val sky = planOf(OlapOps.skylinePareto(spark, sf("sf0.01")))
    assert(sky.contains("BroadcastHashJoin"), sky)
    assert(!sky.contains("SortMergeJoin") && !sky.contains("CartesianProduct"))
    assert(sky.split("Window").length - 1 == 1, s"expected 1 window:\n$sky")

    // drift_ks: one cumulative window, fed by an aggregate (the
    // distinct-cents frame), not the raw scan
    val ks = planOf(SeriesOps.driftKs(spark, sf("sf0.01")))
    assert(ks.split("Window").length - 1 == 1)
    assert(!ks.contains("CartesianProduct"))

    // slo_burn_rate: both SLO windows ride ONE conditional-sum pass —
    // exactly two scans total (anchor + data), zero analytic windows
    val slo = planOf(KpiOps.sloBurnRate(spark, sf("sf0.01")))
    val scans = slo.split("Scan parquet").length - 1
    assert(scans == 2, s"expected 2 scans (anchor + data), got $scans:\n$slo")
    assert(!slo.contains("WindowExec") && !slo.contains("Window ["))

    // cusum / entropy / mutual info / burstiness: pure aggregation
    // pipelines — no window operator anywhere
    for (df <- Seq(SeriesOps.cusumChangepoints(spark, sf("sf0.01")),
                   SeriesOps.hourlyEntropy(spark, sf("sf0.01")),
                   SeriesOps.mutualInfo(spark, sf("sf0.01")),
                   SeriesOps.burstinessFano(spark, sf("sf0.01")))) {
      val p = planOf(df)
      assert(!p.contains("WindowExec") && !p.contains("Window ["), p)
    }

    // image pairs: bucketed expansion, never an image-pair cross join
    val img = planOf(MultimodalOps.imageDupPairs(spark, sf("sf0.001")))
    assert(!img.contains("CartesianProduct") && !img.contains("SortMergeJoin"))
  }

  test("supplier_league window rides the aggregate; zipf_fit is window-free") {
    // rank statistics run on the per-supplier AGGREGATE (dimension-
    // sized), never the lineitem fact table: exactly one Window, fed
    // by the revenue HashAggregate (which sits BELOW it in the plan
    // text — operators print top-down)
    val sl = planOf(OlapOps.supplierLeague(spark, sf("sf0.01")))
    assert(sl.split("Window").length - 1 == 1, s"expected 1 window:\n$sl")
    val wIdx = sl.indexOf("Window")
    assert(sl.indexOf("HashAggregate", wIdx) > wIdx,
           s"window must consume the revenue aggregate, not the scan:\n$sl")
    // zipf: pure aggregation + bounded fold, no window operator
    val zf = planOf(PipelineOps.zipfFit(spark, sf("sf0.01")))
    assert(!zf.contains("WindowExec") && !zf.contains("Window ["))
  }

  test("dup_span_fraction counts spans without a window (hot-span skew-safe)") {
    // the r4 form used count() over (partition by gh): one WindowExec task
    // materializes every posting of a hot boilerplate span, and AQE cannot
    // split window partitions. The groupBy+join form must never regress.
    val plan = DedupOps.dupSpanFraction(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected WindowExec in:\n$plan")
    assert(plan.toString.contains("HashAggregate"))
  }

  test("strip_dup_spans inherits the skew-safe no-window shape") {
    // same guarantee as dup_span_fraction: dup-span detection must stay
    // groupBy+join (AQE-splittable) — never a window partitioned by the
    // span hash, which a hot boilerplate span would serialize
    val plan = DedupOps.stripDupSpans(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected WindowExec in:\n$plan")
  }

  test("cluster_representatives picks its argmax without a window") {
    // the representative is max(struct(quality, -doc_id)) inside the
    // cluster aggregation — a rank-over-window form would materialize
    // every mega-cluster in one task
    val plan = DedupOps.clusterRepresentatives(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected WindowExec in:\n$plan")
  }

  test("scd2_intervals runs all three windows off one shuffle") {
    // lag-filter, row_number and lead share partitioning (user_id) and
    // sort (ts, event_id): EnsureRequirements must plan exactly ONE
    // hash exchange (the final orderBy adds a range exchange only)
    val p = planOf(TemporalOps.scd2Intervals(spark, sf("sf0.001")))
    val hashExchanges = "hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"expected 1 hash exchange in:\n$p")
  }

  test("salted_join_agg joins on (key, salt), not key alone") {
    // the salt column must survive into the physical join keys — that
    // fan-out is the entire skew mitigation; result parity with the
    // unsalted join is pinned in ScaleTechniqueSpec
    val p = planOf(SkewOps.saltedJoinAgg(spark, sf("sf0.001")))
    assert(p.contains("__salt"), s"salt column absent from plan:\n$p")
  }

  test("kmeans assignment broadcasts the centroid set") {
    // emb ⨯ cents must plan as a broadcast nested-loop (tiny centroid
    // side shipped to every task), never a shuffled cartesian product
    val p = planOf(VectorOps.kmeansCentroids(spark, sf("sf0.001")))
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("gopher_rules is a pure per-row map (no shuffle before the sort)") {
    val p = planOf(TextOps.gopherRules(spark, sf("sf0.001")))
    assert(!p.contains("hashpartitioning"), s"unexpected shuffle in:\n$p")
  }

  test("q7_nation_volume: dims broadcast, ship-date bounds reach the scan") {
    val p = planOf(OlapOps.q7NationVolume(spark, sf("sf0.01")))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate,") &&
      p.contains("LessThan(l_shipdate,"))
  }

  test("q10_returned_customers: distributed top-k, returnflag at the scan") {
    val p = planOf(OlapOps.q10ReturnedCustomers(spark, sf("sf0.01")))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("EqualTo(l_returnflag,R)"))
  }

  test("q18_large_orders: top-k plan, order join reuses the agg partitioning") {
    val p = planOf(OlapOps.q18LargeOrders(spark, sf("sf0.01")))
    assert(p.contains("TakeOrderedAndProject"))
    // lineitem agg + orders side: two hash exchanges on the order key,
    // none added for the join itself
    assert("Exchange hashpartitioning\\((?:l_|o_)orderkey".r
      .findAllIn(p).length <= 2, p)
  }

  test("incr_agg_merge: full-outer merge reuses the groupBy partitioning") {
    val p = planOf(TemporalOps.incrAggMerge(spark, sf("sf0.001")))
    assert(p.contains("FullOuter"))
    // two aggregation exchanges on user_id, and NO third one for the
    // join — the merge join must consume the partials' partitioning
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 2, p)
  }

  test("dp_counts: dim side broadcasts, no sort-merge join") {
    val p = planOf(PrivacyOps.dpCounts(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
  }

  test("compaction_plan: the window runs on the manifest, after aggregation") {
    val df = LayoutOps.compactionPlan(spark, sf("sf0.001"))
    val p = planOf(df)
    // exactly one window (the running sum), fed by the manifest
    // aggregate — never a window over raw event rows
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    val op = df.queryExecution.optimizedPlan.toString
    assert(op.indexOf("Window") > -1 && op.indexOf("Aggregate") > -1)
    // in the optimized tree the window's child subtree contains the
    // manifest aggregate (tree prints root-first: Window above Aggregate)
    assert(op.indexOf("Window") < op.lastIndexOf("Aggregate"))
  }

  test("column pruning reaches the scan (narrow ReadSchema)") {
    val p = planOf(SeriesOps.seriesAvg(spark, sf("sf0.01")))
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>"))
  }

  test("minhash signature is computed once, before the band explode") {
    // regression guard for the interpreted-expression duplication class:
    // one signature pass per document, carried through Generate as an
    // attribute — never re-derived per band/element_at reference.
    // r14: checked on the UNPERSISTED wideband builder — the default
    // pipeline (dedupMinhashLsh) is now FrameStore-persisted, and the
    // nested InMemoryRelation print duplicates expression text, which
    // this count would misread; the wideband variant runs the same
    // lshScoredPairs builder and guards the same duplication class.
    val op = DedupOps.dedupMinhashWideband(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    assert("minhash_signature".r.findAllIn(op).length == 1)
  }

  test("dedup_minhash_lsh evaluates the minhash signature once") {
    // the default pipeline is FrameStore-persisted: count signature
    // evaluations in its cached relation's plan, descending into query
    // stages (a materialized cache's plan is AQE's final plan) and once
    // into every distinct nested cache (the signature frame is one)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seen = scala.collection.mutable.Set[Int]()
    def sigs(p: SparkPlan): Int = {
      val own = p.expressions.map(_.collect {
        case m: graft.functions.MinHashSigExpr => m
      }.size).sum
      own + (p match {
        case a: AdaptiveSparkPlanExec => sigs(a.executedPlan)
        case q: QueryStageExec => sigs(q.plan)
        case s: InMemoryTableScanExec =>
          if (seen.add(System.identityHashCode(s.relation.cacheBuilder)))
            sigs(s.relation.cachedPlan)
          else 0
        case _ => p.children.map(sigs).sum
      })
    }
    val lsh = DedupOps.dedupMinhashLsh(spark, sf("sf0.001"))
    lsh.count() // materialized, as any earlier consumer leaves it
    val plan = lsh.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val cached = plan.collectFirst { case s: InMemoryTableScanExec => s }
    assert(cached.isDefined, s"dedup_minhash_lsh is not a cached relation: $plan")
    assert(sigs(cached.get.relation.cachedPlan) == 1)
  }

  test("winnowing and shingling evaluate once per row (with_size barrier)") {
    val w = TextOps.textWinnow(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    assert("winnow_fingerprints".r.findAllIn(w).length == 1)
    val j = DedupOps.dedupNgramJaccard(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    // in-bucket pair expansion: ONE shingle pass, no self-join
    assert("word_shingles".r.findAllIn(j).length == 1)
    assert(!j.contains("Join "))
  }

  test("nested-event parse evaluates from_json exactly once") {
    // JsonToStructs is codegen-fallback (no subexpression reuse): every
    // surviving reference in the optimized plan is a full reparse; the
    // explode(array(...)) barrier pins it to one
    val op = MiscOps.eventNestedParse(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    assert("from_json".r.findAllIn(op).length == 1)
  }

  test("simhash pairs: one simhash pass, no signature re-join") {
    val op = DedupOps.simhashPairs(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    assert("simhash64".r.findAllIn(op).length == 1)
    assert(!op.contains("Join"))
  }

  test("asof join: one keyed exchange, no nested-loop join") {
    val p = planOf(TemporalOps.asofJoin(spark, sf("sf0.001")))
    // the union trick must never degrade to a theta join
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
    // exchanges: hashpartitioning on event_type for the window pass (+
    // the KPI aggregation on the same key and the presentation sort) —
    // crucially NONE keyed by anything that would explode rows
    assert(p.contains("hashpartitioning"))
  }

  test("range join: interval side broadcast, residual range predicate kept") {
    val p = planOf(TemporalOps.rangeJoin(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // equi keys are (type, hour); the exact bounds survive as a residual
    assert(p.contains("w_start") && p.contains("w_end"))
  }

  test("stratified sample: pure map pass, filter before any exchange") {
    def sample() = PipelineOps.stratifiedSample(spark, sf("sf0.001"))
    // with small-sort planning off (as for an input too big to ship to
    // one task), the sample predicate must run scan-side: the only
    // exchange in the whole plan is the final presentation sort's range
    // partitioning
    Posture.withConf(spark,
                     "spark.sql.autoBroadcastJoinThreshold" -> Some("-1")) {
      val plan = sample().queryExecution.executedPlan
      val s = plan.toString
      assert("Exchange".r.findAllIn(s).length == 1 && s.contains("rangepartitioning"))
    }
    // small input: no exchange at all, the global sort runs in one task
    val small = sample()
    assert(!planOf(small).contains("Exchange"), planOf(small))
    import org.apache.spark.sql.execution.{CoalesceExec, SortExec}
    assert(small.queryExecution.sparkPlan.exists {
      case SortExec(_, true, CoalesceExec(1, _), _) => true
      case _ => false
    }, small.queryExecution.sparkPlan)
  }

  test("vocab top-k: single token shuffle with map-side partial aggregation") {
    val s = planOf(PipelineOps.vocabTopK(spark, sf("sf0.001")))
    // partial_sum before the exchange proves map-side combine; top-k is
    // TakeOrdered, not a global sort
    assert(s.contains("partial_sum") || s.contains("partial_count"))
    assert(s.contains("TakeOrderedAndProject"))
    assert("hashpartitioning".r.findAllIn(s).length == 1)
  }

  test("latest snapshot: no global sort before the per-key top-1 filter") {
    val p = TemporalOps.latestEvents(spark, sf("sf0.001")).queryExecution.executedPlan
    val s = p.toString
    // one hash exchange for the window partition + one range for output
    assert("hashpartitioning".r.findAllIn(s).length == 1)
  }

  test("bm25: token_counts pinned once per side, stats broadcast, top-50 as TakeOrdered") {
    val df = SearchOps.bm25Search(spark, sf("sf0.001"))
    val op = df.queryExecution.optimizedPlan.toString
    // two scans by design (stats + scoring), each with ONE pinned
    // token_counts evaluation behind the explode(array(...)) barrier
    assert("token_counts".r.findAllIn(op).length == 2)
    val p = planOf(df)
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    // scans prune to (doc_id, text)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("tfidf: single token_counts pass feeding the df window") {
    val df = SearchOps.tfidfTopterms(spark, sf("sf0.001"))
    val op = df.queryExecution.optimizedPlan.toString
    assert("token_counts".r.findAllIn(op).length == 1)
    assert(planOf(df).contains("TopKPerKey"))
  }

  test("funnel/cohort scans prune to the three event columns") {
    val p = planOf(FunnelOps.funnelConversion(spark, sf("sf0.001")))
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"))
    val c = planOf(FunnelOps.cohortRetention(spark, sf("sf0.001")))
    assert(c.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"))
  }

  test("kpi_cube: one Expand pass, no repeated scans") {
    val p = planOf(OlapOps.kpiCube(spark, sf("sf0.001")))
    assert("Expand".r.findAllIn(p).length >= 1)
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("source_mix_weights reads the corpus exactly once") {
    val p = planOf(PipelineOps.sourceMixWeights(spark, sf("sf0.001")))
    assert("Scan parquet".r.findAllIn(p).length == 1)
  }

  test("chunk_documents is a pure map pass: one scan, only the sort exchange") {
    val p = planOf(PipelineOps.chunkDocuments(spark, sf("sf0.001")))
    assert("Scan parquet".r.findAllIn(p).length == 1)
    // the presentation orderBy is the only exchange; no aggregation/join
    assert("Exchange".r.findAllIn(p).length <= 1)
    assert(!p.contains("HashAggregate") && !p.contains("Join"))
  }

  test("dup_span_fraction: both posting consumers read the cached grams frame") {
    val p = planOf(DedupOps.dupSpanFraction(spark, sf("sf0.001")))
    // the span count (groupBy) and the join-back both consume the
    // FrameStore-persisted grams frame instead of re-scanning and
    // re-shingling the corpus per subtree
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2)
  }

  test("perplexity_buckets assigns buckets without a per-lang window") {
    // tercile cutoffs are a mergeable aggregate + broadcast join; an
    // ntile() over a per-language window would materialize each
    // language's whole corpus in one task
    val plan = SearchOps.perplexityBuckets(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected WindowExec in:\n$plan")
    assert(plan.toString.contains("BroadcastHashJoin"))
  }

  test("zorder_layout is map + aggregate: no sort, window, or shuffle join") {
    val plan = LayoutOps.zorderLayout(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val p = plan.toString
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected WindowExec in:\n$plan")
    // global min/max stats reach the row computation as a broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("semdedup pair search joins on the cell key, never all-pairs") {
    val p = planOf(VectorOps.semdedup(spark, sf("sf0.001")))
    // the in-cell expansion must be an equi-join on cell (bounded
    // fan-out); a cartesian product would be the O(n^2) shape SemDeDup
    // exists to avoid
    assert(!p.contains("CartesianProduct"),
           s"all-pairs expansion in semdedup plan:\n$p")
  }

  test("no registered query plans a CartesianProduct (repo-wide sweep)") {
    // blanket scale-hygiene gate over the full query surface: every
    // cross-frame combination must be a broadcast of a tiny side
    // (BroadcastNestedLoopJoin over a one-row stats frame is fine) or a
    // keyed join — an unkeyed CartesianProduct is always a scale bug
    val frames = RegisteredFrames(spark, sf("sf0.001"))
    assert(frames.size == SparkEntry.queries.size)
    val offenders = frames.collect {
      case f if f.executedPlan.contains("CartesianProduct") => f.name
    }
    assert(offenders.isEmpty, s"CartesianProduct in: $offenders")
  }

  test("q2 decorrelates; q4 plans a semi join — never per-row rescans") {
    // Q2: Catalyst must rewrite the correlated min-subquery into an
    // aggregate + join on the correlation key; a surviving scalar
    // subquery in the physical plan would mean a rescan per part row
    val q2 = planOf(OlapOps.q2MinCostSupplier(spark, sf("sf0.001")))
    assert(!q2.toLowerCase.contains("scalarsubquery"),
           s"correlated subquery not decorrelated:\n$q2")
    assert(!q2.contains("CartesianProduct"))
    // Q4: EXISTS becomes a LEFT SEMI hash/merge join with the range
    // predicate in the join condition
    val q4 = planOf(OlapOps.q4PriorityPromise(spark, sf("sf0.001")))
    assert(q4.contains("LeftSemi"), s"no semi join in:\n$q4")
    assert(!q4.contains("CartesianProduct"))
  }

  test("time-slice pushdown guard: structural PushedFilters on both fixtures") {
    // the 100 TB time-slice path: ts bounds MUST reach the parquet scan
    // as pushed filters (row-group pruning), for the driver-generated
    // NTZ tables AND for Spark-written session-TIMESTAMP fixtures. This
    // reads FileSourceScanExec metadata structurally so a refactor of
    // Tables.eventsTimeRange can't silently regress to a post-cast
    // filter that strings wouldn't catch.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
      def go(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case _ => p.children ++ p.subqueries
        }
        p +: kids.flatMap(go)
      }
      go(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
    }
    def pushedTs(df: org.apache.spark.sql.DataFrame): Boolean =
      scans(df).exists(_.metadata.get("PushedFilters").exists(m =>
        m.contains("GreaterThanOrEqual(ts") && m.contains("LessThanOrEqual(ts")))
    // NTZ (driver parquet): the named query series_filtered
    val filtered = SeriesOps.seriesFiltered(spark, sf("sf0.001"))
    assert(pushedTs(filtered),
           s"ts bounds not pushed:\n${filtered.queryExecution.executedPlan}")
    // the dimension filter rides down too
    assert(scans(filtered).exists(_.metadata.get("PushedFilters")
      .exists(_.contains("In(event_type"))))
    // session-TIMESTAMP fixture: Spark-written parquet stores UTC-flagged
    // ts; the same loader must stay pushdown-eligible on that layout
    val session = spark
    import session.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pushdown").toString
    (1L to 50L).map(i =>
      (i, new java.sql.Timestamp(1704067200000L + i * 3600000L), i, "click",
       1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fixture = Tables.eventsTimeRange(spark, dir, "2024-01-01 12:00:00",
                                         "2024-01-02 00:00:00")
    assert(pushedTs(fixture),
           s"ts bounds not pushed on session-ts fixture:\n${
             fixture.queryExecution.executedPlan}")
    // and the sliced row count matches the naive post-cast filter
    assert(fixture.count() == 13L)
  }

  test("recall_matrix runs ONE signature pass per distinct k") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val dir = sf("sf0.001")
    // same (dataset, k) → the SAME persisted frame (one pass, FrameStore)
    assert(DedupOps.minhashSigFrame(spark, dir, 16) eq
      DedupOps.minhashSigFrame(spark, dir, 16))
    // cache-LEVEL traversal (r14: the minhash grid counts are
    // themselves a persisted frame, so the signature scans live one
    // cache level down): within one level, stop at InMemoryTableScan
    // boundaries; a level that evaluates the signature must BE a
    // signature relation's own cached computation — anywhere else is
    // the duplication this test guards against.
    def levelNodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _: InMemoryTableScanExec => Nil
        case _ => p.children
      }
      p +: kids.flatMap(levelNodes)
    }
    def sigAtLevel(p: SparkPlan): Boolean = levelNodes(p).exists {
      case _: AdaptiveSparkPlanExec => false
      case n => n.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.MinHashSigExpr]))
    }
    val plan = CalibrationOps.recallMatrix(spark, dir)
      .queryExecution.executedPlan
    // (a) the outer plan — the per-grid-row work that executes on EVERY
    // call — must never evaluate the signature: that is the original
    // per-row re-derivation regression class.
    assert(!sigAtLevel(plan), "signature pass outside every cache")
    // (b) all signature work reaches the rows through ONE shared cached
    // counts relation (r14): collect the outer-level cached relations
    // that TRANSITIVELY contain a signature evaluation (descending
    // through nested caches) — the four minhash rows must reference the
    // same one. How the signature scans nest INSIDE it can vary with
    // store-eviction timing across suites (an evicted sig frame
    // compiles inline into the counts build — still one pass per
    // build), so the exact inner relation count is deliberately not
    // asserted.
    def sigTransitively(p: SparkPlan): Boolean =
      sigAtLevel(p) || levelNodes(p).exists {
        case s: InMemoryTableScanExec => sigTransitively(s.relation.cachedPlan)
        case _ => false
      }
    val sigCarriers = levelNodes(plan)
      .collect { case s: InMemoryTableScanExec if
        sigTransitively(s.relation.cachedPlan) => s }
    assert(sigCarriers.size == 4,
           s"expected the 4 minhash rows to read a cached counts " +
             s"relation, got ${sigCarriers.size}")
    assert(sigCarriers.map(s =>
             System.identityHashCode(s.relation.cacheBuilder)).distinct.size
             == 1,
           "the minhash grid rows must share ONE cached counts relation")
  }

  test("ssjoin_prefix broadcast gate is MEASURED, never unconditional") {
    // the verification join's corpus shingle frame grows with the
    // dataset — a mandatory broadcast hint there wins over AQE and is a
    // guaranteed OOM at full scale. The default `auto` gate must decide
    // from an observed corpus size, so the same code path that
    // broadcasts a dev-scale corpus provably STOPS broadcasting when
    // the measurement says the corpus is big.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hints() = DedupOps.ssjoinPrefix(spark, sf("sf0.001"))
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }
    // auto + tiny corpus: the measured gate applies the hint
    assert(hints().nonEmpty, "auto gate should broadcast a tiny corpus")
    // auto + (simulated) huge corpus: threshold 0 → measurement exceeds
    // it → the SAME auto path must drop the hint
    Posture.withConf(spark, "graft.ssjoin.broadcastMaxChars" -> Some("0")) {
      assert(hints().isEmpty,
             "auto gate must not broadcast above the size threshold")
    }
  }

  test("SF-scaling dim broadcasts go through the measured Dims gate") {
    // customer/supplier/part (and frames derived from them) grow with
    // SF — a mandatory broadcast hint on them wins over AQE and is a
    // guaranteed OOM at full scale. Dims.gateTable hints only while the
    // measured base-table count is under graft.dims.broadcastMaxRows,
    // so the SAME auto path that broadcasts at dev scale provably stops
    // broadcasting when the measurement says the dim is big. Hint
    // counts are exact: the residue under threshold 0 must be ONLY the
    // fixed-cardinality hints (nation=25, region=5, one-row aggregates),
    // proving no mandatory broadcast wraps an SF-scaling side.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    def hintCount(df: DataFrame): Int =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }.size
    val d = sf("sf0.001")
    // auto + tiny dims: the measured gate applies every hint
    assert(hintCount(OlapOps.q3Shipping(spark, d)) == 1)
    assert(hintCount(PrivacyOps.piiScrub(spark, d)) == 1)
    assert(hintCount(OlapOps.basketPairs(spark, d)) == 2)
    assert(hintCount(OlapOps.basketRules(spark, d)) == 3)
    assert(hintCount(OlapOps.q5LocalSupplier(spark, d)) == 4)
    // auto + (simulated) huge dims: threshold 0 → measurement exceeds
    // it → only the fixed-cardinality hints survive
    Posture.withConf(spark, "graft.dims.broadcastMaxRows" -> Some("0")) {
      assert(hintCount(OlapOps.q3Shipping(spark, d)) == 0)
      assert(hintCount(PrivacyOps.piiScrub(spark, d)) == 0)
      assert(hintCount(OlapOps.basketPairs(spark, d)) == 0)
      assert(hintCount(OlapOps.basketRules(spark, d)) == 1,
             "only the one-row n_baskets frame may stay hinted")
      assert(hintCount(OlapOps.q5LocalSupplier(spark, d)) == 2,
             "only nation+region may stay hinted")
      // the un-hinted q3 still plans as a sound shuffled join
      val p = planOf(OlapOps.q3Shipping(spark, d))
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q21 stacks semi + anti joins on one order-key partitioning") {
    val p = planOf(OlapOps.q21WaitSuppliers(spark, sf("sf0.001")))
    // both existence checks must be joins, never per-row rescans
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(!p.contains("CartesianProduct"))
    // supplier + nation ride in as broadcasts
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q22: anti join on custkey, threshold broadcast, date slice pushed") {
    val p = planOf(OlapOps.q22DormantBalance(spark, sf("sf0.001")))
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    // the one-row (n_pos, sum_pos) frame must broadcast, never shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    // dormancy cutoff reaches the orders scan as a pushed filter
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"))
  }

  test("q16: NOT IN plans null-aware, never a per-row rescan") {
    val df = OlapOps.q16PartSuppliers(spark, sf("sf0.001"))
    val p = planOf(df)
    // the NOT IN subquery must become a NULL-AWARE anti join (a plain
    // LeftAnti would return wrong results if the subquery ever held a
    // NULL; a surviving in-subquery would rescan per probe row) — pin
    // the isNullAwareAntiJoin flag on the physical broadcast join
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def collectAll(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = pl match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => pl.children
      }
      pl +: kids.flatMap(collectAll)
    }
    val naaj = collectAll(df.queryExecution.executedPlan).collect {
      case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
    }
    assert(naaj.nonEmpty, s"NOT IN not planned null-aware:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("trade_triangles: fact dims broadcast; triangle join on the edge list") {
    val p = planOf(OlapOps.tradeTriangles(spark, sf("sf0.001")))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q19: single-table disjuncts factor out of the cross-table OR") {
    // the OR spans both join sides; Catalyst must still push an Or
    // filter onto EACH scan (quantity bands to lineitem, brand×size to
    // part) — losing the factoring means filtering only post-join
    val p = planOf(OlapOps.q19DisjunctiveRevenue(spark, sf("sf0.001")))
    assert(p.contains("Or(And(GreaterThanOrEqual(l_quantity,1.0)") ||
             (p.contains("PushedFilters") &&
               "Or\\(.*l_quantity".r.findFirstIn(p).isDefined),
           s"quantity bands not pushed to the lineitem scan:\n$p")
    assert("Or\\(.*p_brand|p_brand.*Or\\(".r.findFirstIn(p).isDefined ||
             p.contains("In(p_brand"),
           s"brand disjunction not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("pps_sample: weight totals broadcast back, sampling is a map pass") {
    val p = planOf(PipelineOps.ppsSample(spark, sf("sf0.001")))
    // the per-source weight-total frame must broadcast, never shuffle
    // the corpus for the join
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for the join:\n$p")
  }

  test("basket_pairs: pair expansion inside the row, top-k as TakeOrdered") {
    val df = OlapOps.basketPairs(spark, sf("sf0.001"))
    val p = planOf(df)
    // the C(n,2) expansion must be a Generate over each basket row —
    // a relational self-join of the item table would be the O(n²)
    // shape the operator exists to avoid
    assert(p.contains("Generate explode"), s"no in-row expansion:\n$p")
    assert(!p.contains("SortMergeJoin"), s"self-join expansion:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q13 keeps the outer join; q11 computes the global total once") {
    val q13 = planOf(OlapOps.q13OrderDistribution(spark, sf("sf0.001")))
    // the zero-order bucket only exists if the join stays LeftOuter —
    // a filter pushed below the join would quietly make it inner
    assert(q13.contains("LeftOuter"), s"outer join lost:\n$q13")
    // the priority filter rides the join/scan, not a post-join WHERE
    // that would drop NULL-extended rows
    val zero = OlapOps.q13OrderDistribution(spark, sf("sf0.001"))
      .filter(col("c_count") === 0).count()
    assert(zero >= 0) // shape query; zero bucket presence is data-dependent
    val q11 = OlapOps.q11ImportantParts(spark, sf("sf0.001"))
    val p11 = planOf(q11)
    // the HAVING's global total must be a scalar subquery evaluated
    // once, feeding the post-aggregation filter as a literal
    assert(p11.toLowerCase.contains("subquery"), s"no scalar subquery:\n$p11")
    assert(!p11.contains("CartesianProduct"))
  }

  test("q17 decorrelates the per-part average brake") {
    val p = planOf(OlapOps.q17SmallQuantity(spark, sf("sf0.001")))
    assert(!p.toLowerCase.contains("scalarsubquery"),
           s"correlated avg not decorrelated:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q20 decorrelates the HAVING aggregate and semi-joins the IN") {
    val p = planOf(OlapOps.q20DominantSuppliers(spark, sf("sf0.001")))
    // the correlated per-part total must become an aggregate + join on
    // the correlation key, never a surviving scalar subquery (= a
    // lineitem rescan per (supplier, part) group)
    assert(!p.toLowerCase.contains("scalarsubquery"),
           s"correlated HAVING not decorrelated:\n$p")
    assert(p.contains("LeftSemi"), s"IN not planned as a semi join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("alert routing broadcasts the rules table") {
    val p = planOf(AnomalyOps.alertRouting(spark, sf("sf0.001")))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    // routing semantics: every routed alert matches an enabled rule
    val bad = AnomalyOps
      .alertRouting(spark, sf("sf0.001"))
      .join(AnomalyOps.alertRules(spark), "rule_id")
      .filter(!col("enabled") || col("severity") =!= col("severity_threshold"))
      .count()
    assert(bad == 0)
  }
}
