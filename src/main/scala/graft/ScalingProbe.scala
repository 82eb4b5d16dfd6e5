package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve probe for the bench's heavy tail: materializes a
  * `copies`× replica of a base dataset and times the slowest queries at
  * both scales, so a hidden super-linearity (a quadratic pair
  * expansion, an accidental cross-copy join) shows up as a time ratio
  * well above the data ratio — the cheapest signal the single-scale
  * bench cannot produce.
  *
  * The replica is built by KEY-OFFSET REPLICATION: each copy i shifts
  * every synthetic key (custkey/orderkey/partkey/suppkey/event_id/
  * user_id/doc_id/vec_id) by i·(max+1), so the union of `copies` copies
  * is a self-consistent star schema with the SAME join selectivity,
  * filter rates, and key-group sizes as the base — the workload scales,
  * the distributions don't. Two deliberate mutations keep the content
  * families honest:
  *   - document text is token-suffixed per copy (`$1xi`), so shingle
  *     sets are disjoint ACROSS copies and near-dup structure scales
  *     linearly (verbatim copies would add 45·|docs| cross-copy
  *     near-dup pairs — super-linear by construction, not an operator
  *     fault);
  *   - embeddings rotate by i mod dim positions (negated for copies ≥
  *     dim — both isometries), so LSH buckets and IVF cells
  *     redistribute instead of stacking identical vectors per id.
  * region/nation are fixed dimensions and stay as-is; events densify
  * inside the same time range (10× traffic, same calendar), which is
  * the realistic growth axis for the streaming tables.
  *
  * Usage:
  * `runMain graft.ScalingProbe [baseDir] [scaledDir] [copies] [probesCsv]`
  * Prints one JSON line per probe query with min-of-2 seconds at each
  * scale and the ratio — plus, for the writeStream drains, a
  * state-telemetry line (state rows / bytes / files at both scales, via
  * `StreamDrain.stateTelemetry`) so "state is bounded" is a measured
  * number rather than prose. The optional 4th arg restricts the probe
  * set (e.g. the worst-tail five at 30×); SCALING.md records the
  * committed verdicts. Times come from [[Bench.time]]: a probe whose
  * query throws at either scale prints no line, the other probes still
  * run, and the probe exits 1 after the loop.
  */
object ScalingProbe {

  /** The bench tail: slowest 15 by BENCH_RUNS min-of-3 at sf0.1, plus
    * three representative writeStream drains (windowed agg state,
    * flatMapGroupsWithState detector, transformWithState LSH buckets) —
    * the streaming legs' scaling axis is densified traffic over the
    * same calendar, exactly what the replica models.
    */
  val probes: Seq[String] = Seq(
    "anomaly_score_window", "recall_matrix", "ann_ivf", "trade_triangles",
    "trade_reach", "basket_rules", "event_nested_parse", "ssjoin_prefix",
    "basket_pairs", "ann_lsh_bucketed", "q21_wait_suppliers",
    "q2_min_cost_supplier", "ann_topk", "cluster_representatives",
    "contamination_check",
    "stream_kpi_drain", "stream_alerts_drain", "stream_lshdedup_drain",
    "stream_session_drain", "stream_attribution_drain",
    // not a SparkEntry query: the TTL-bounded LSH state probe
    // (StreamDrain.lshTtlStateProbe) — history at the probed scale,
    // TTL passes, a fixed live window lands; final state must be
    // ~live-window-sized at EVERY scale (the bounded column SCALING.md
    // pairs with the honest linear-in-corpus no-TTL row)
    "stream_lshttl_state")

  /** State-telemetry targets: drain query → work-dir prefix + labeled
    * phases, each phase a set of statestore-reader passes to sum —
    * empty map for the agg / fMGWS default store, `stateVarName` for a
    * transformWithState column family, `joinSide` left+right for the
    * symmetric join buffers, `batchId` to read a MID-STREAM version.
    * Windowed-agg panes, detector GroupState keys, MaxBucket-capped LSH
    * membership, open session windows, and the watermark-bounded join
    * buffers — the five state families whose boundedness the 100 TB
    * posture rests on. The session drain reports two phases: mid-stream
    * (open sessions concurrently held after batch 1 — should track
    * concurrent sessions, not events) and final (after the sentinel's
    * watermark flush every real session is EVICTED — eviction proven,
    * not assumed).
    */
  private val drainState
      : Map[String, (String, Seq[(String, Seq[Map[String, String]])])] = Map(
    "stream_kpi_drain" ->
      (("graft_kpi_drain", Seq(("final", Seq(Map.empty))))),
    "stream_alerts_drain" ->
      (("graft_alerts_drain", Seq(("final", Seq(Map.empty))))),
    "stream_lshdedup_drain" ->
      (("graft_lshdedup_drain",
        Seq(("final", Seq(Map("stateVarName" -> "bucketMembers")))))),
    "stream_session_drain" ->
      (("graft_session_drain",
        Seq(("mid_batch1", Seq(Map("batchId" -> "1"))),
            ("final", Seq(Map.empty))))),
    "stream_attribution_drain" ->
      (("graft_attrib_drain",
        Seq(("final",
             Seq(Map("joinSide" -> "left"), Map("joinSide" -> "right")))))))

  def buildScaled(spark: SparkSession, base: String, out: String,
                  copies: Int): Unit = {
    // The embedding rotation has only dim (=64 in the driver fixtures)
    // distinct positions; copies 64..127 therefore compose the rotation
    // with NEGATION (also an isometry — norms and pairwise angles within
    // a copy are preserved, and −v points opposite every rotation of v,
    // so cross-copy vectors stay distinct instead of stacking identical
    // megabuckets). 2·dim = 128 distinct transforms bounds `copies`.
    require(copies >= 2 && copies <= 128,
            s"copies=$copies out of range: need 2..128 (2x embedding dim)")
    // marker encodes the BASE DIR too: a rerun against a different base
    // must rebuild, not silently time the new base against a stale
    // replica derived from the old one. Any OTHER (copies, base)
    // marker present means the tables on disk were built for a
    // different configuration — rebuild and clear the stale markers,
    // otherwise returning to a previously-used combination would
    // silently time queries against the wrong replica.
    val baseTag = java.lang.Integer.toHexString(base.hashCode)
    val marker = Paths.get(s"$out/_built_${copies}_$baseTag")
    if (Files.exists(marker)) return
    if (Files.isDirectory(Paths.get(out))) {
      import scala.jdk.CollectionConverters._
      val listing = Files.list(Paths.get(out))
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_built_"))
        .foreach(Files.deleteIfExists(_))
      finally listing.close()
    }
    def rd(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1
    def rep(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until copies).map(i => f(df, i)).reduce(_ unionAll _)

    val cSpan = span(rd("customer"), "c_custkey")
    val sSpan = span(rd("supplier"), "s_suppkey")
    val pSpan = span(rd("part"), "p_partkey")
    val oSpan = span(rd("orders"), "o_orderkey")
    val ev = rd("events")
    val eSpan = span(ev, "event_id")
    val uSpan = span(ev, "user_id")
    val dSpan = span(rd("documents"), "doc_id")
    val vSpan = span(rd("embeddings"), "vec_id")

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(rep(rd("customer")) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * cSpan))
    }, "customer")
    wr(rep(rd("supplier")) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * sSpan))
    }, "supplier")
    wr(rep(rd("part")) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * pSpan))
    }, "part")
    wr(rep(rd("orders")) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * oSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(i * cSpan))
    }, "orders")
    wr(rep(rd("lineitem")) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * oSpan))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pSpan))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * sSpan))
    }, "lineitem")
    wr(rep(ev) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eSpan))
        .withColumn("user_id", col("user_id") + lit(i * uSpan))
    }, "events")
    wr(rep(rd("documents")) { (df, i) =>
      val mutated =
        if (i == 0) df
        else df.withColumn(
          "text", regexp_replace(col("text"), "(\\S+)", "$1x" + i))
      mutated
        .withColumn("doc_id", col("doc_id") + lit(i * dSpan))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    wr(rep(rd("embeddings")) { (df, i) =>
      val r = i % 64
      val rot =
        if (r == 0) df
        else df.withColumn(
          "embedding",
          expr(s"concat(slice(embedding, ${r + 1}, size(embedding) - $r), " +
            s"slice(embedding, 1, $r))"))
      val oriented =
        if (i < 64) rot
        else rot.withColumn(
          "embedding", expr("transform(embedding, x -> -x)"))
      oriented.withColumn("vec_id", col("vec_id") + lit(i * vSpan))
    }, "embeddings")
    Files.createFile(marker)
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_scale10x")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val selected = args.lift(3)
      .map(_.split(",").toSet)
      .fold(probes) { want =>
        val unknown = want.diff(probes.toSet)
        require(unknown.isEmpty,
                s"unknown probe name(s): ${unknown.mkString(", ")} — a " +
                  "typo would otherwise run an empty probe that exits 0")
        probes.filter(want.contains)
      }
    // Bench's session, so the base-scale numbers are comparable to
    // BENCH_RUNS.json
    val spark = Posture.bench()

    buildScaled(spark, base, out, copies)

    Bench.warmup(spark, base, selected.filter(SparkEntry.queries.contains))

    def fmt(r: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(r))
    // min of 2 counts at one scale; None when a run threw
    def timeAt(name: String, dir: String): Option[Double] =
      Bench.time(spark, Seq(name -> SparkEntry.queries(name)), dir, 2,
                 Bench.Count)._1.headOption.map(_.wall.min)
    val failed = Seq.newBuilder[String]

    // reads the drain's LAST allocated work dir — must be called right
    // after timing the scale it describes, before the drain runs again
    def stateLines(name: String): Seq[(String, String)] =
      drainState.get(name).toSeq.flatMap { case (prefix, phases) =>
        phases.flatMap { case (label, readers) =>
          graft.streaming.StreamDrain.stateTelemetry(spark, prefix, readers)
            .map { case (rows, bytes, files) =>
              label -> s""""rows":$rows,"bytes":$bytes,"files":$files"""
            }
        }
      }

    selected.foreach { name =>
      if (name == "stream_lshttl_state") {
        // TTL-bounded state probe: not a timed SparkEntry query — the
        // deliverable is the state-row comparison, both runs sharing
        // the BASE corpus as the fixed live window
        def fields(m: Map[String, Long]): String =
          m.toSeq.sortBy(_._1)
            .map { case (k, v) => s""""$k":$v""" }.mkString(",")
        val sBase = graft.streaming.StreamDrain
          .lshTtlStateProbe(spark, base, base)
        val sBig = graft.streaming.StreamDrain
          .lshTtlStateProbe(spark, out, base)
        println(s"""{"telemetry":"ttl_state","query":"$name",""" +
          s""""base":{${fields(sBase)}},"scaled":{${fields(sBig)}},""" +
          s""""copies":$copies}""")
      } else {
        // a scale that fails skips this probe's lines; the rest still run
        val measured = for {
          tBase <- timeAt(name, base)
          stBase = stateLines(name).toMap
          tBig <- timeAt(name, out)
        } yield (tBase, stBase, tBig, stateLines(name).toMap)
        measured.fold[Unit](failed += name) { case (tBase, stBase, tBig, stBig) =>
          println(s"""{"query":"$name","base_s":${fmt(tBase)},""" +
            s""""scaled_s":${fmt(tBig)},"copies":$copies,""" +
            s""""ratio":${fmt(tBig / tBase)}}""")
          for ((label, b) <- stBase.toSeq.sortBy(_._1); s <- stBig.get(label))
            println(s"""{"telemetry":"state_store","query":"$name",""" +
              s""""phase":"$label","base":{$b},"scaled":{$s},""" +
              s""""copies":$copies}""")
        }
      }
    }

    // ssjoin_prefix is the standing worst-ratio watch item: candidate
    // counts at both scales separate candidate growth (algorithmic)
    // from execution slowdown (engine) — see DedupOps.ssjoinCandidateStats.
    // Only when the probe set includes it: a restricted run that
    // excluded ssjoin_prefix should not pay two corpus-scale scans.
    if (selected.contains("ssjoin_prefix")) {
      def candStats(dir: String): (Long, Long, Double) = {
        val r =
          graft.operators.DedupOps.ssjoinCandidateStats(spark, dir).head()
        (r.getLong(0), r.getLong(1), r.getDouble(2))
      }
      val (bd, bc, bp) = candStats(base)
      val (sd, sc, sp) = candStats(out)
      println(s"""{"telemetry":"ssjoin_candidates","base_docs":$bd,""" +
        s""""base_candidates":$bc,"base_per_doc":${fmt(bp)},""" +
        s""""scaled_docs":$sd,"scaled_candidates":$sc,""" +
        s""""scaled_per_doc":${fmt(sp)},""" +
        s""""candidate_ratio":${fmt(sc.toDouble / math.max(bc, 1L))}}""")
    }
    spark.stop()
    val failedNames = failed.result()
    if (failedNames.nonEmpty) {
      System.err.println(s"[scaling] ${failedNames.size} probes failed: " +
        failedNames.mkString(","))
      sys.exit(1)
    }
  }
}
