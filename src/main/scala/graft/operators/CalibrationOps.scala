package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** Recall calibration: MEASURED recall for each point of the
  * candidate-generation grid, in one table — the grounding for the
  * MinHash (k, bands) and sign-LSH (bits, probe) choices that the
  * monotonicity specs (ScaleTechniqueSpec) cannot give. A tuning decision at 100 TB is
  * "which recall/volume point do I buy"; this operator prints the menu
  * from the corpus itself instead of trusting the analytic curve alone
  * (for MinHash the analytic expectation rides along per row, so
  * measured-vs-predicted divergence is visible in place; sign-LSH
  * bucket recall depends on the data's direction distribution, which
  * has no closed form — `expected_recall` is NULL there by design).
  *
  * Schema: (family, param_a, param_b, n_truth, n_caught, recall,
  * expected_recall) — `minhash` rows are (k, bands) over the
  * [[DedupOps.sampleTruth]] bounded-sample truth set; `sign_lsh` rows
  * are (bits, probe) with truth = brute-force cosine top-5 for the
  * standard 20 query vectors and caught = the Hamming≤probe bucketed
  * top-5 (the probe-set join expressed as a distance predicate, which
  * the DuckDB oracle reproduces verbatim).
  *
  * This is an OFFLINE EVALUATION operator like [[DedupOps.lshRecall]]:
  * each grid point re-runs candidate generation, so it is strictly a
  * calibration pass over a bounded sample, never part of the production
  * dedup path. All folds are fixed-order (sorted pair lists, explicit
  * left-assoc products) so every double is bit-identical across
  * engines.
  */
object CalibrationOps {

  /** (k, bands) grid — dev default (16, 4) plus the two directions the
    * knobs move: fewer/more bands at fixed k (s-curve steepness) and
    * the production-k direction (32, 8).
    */
  private val MinhashGrid = Seq((16, 2), (16, 4), (16, 8), (32, 8))

  /** (bits, probe) grid — dev default (8, 0), multi-probe on, and the
    * coarser 4-bit code where buckets are big enough for probing to
    * matter less.
    */
  private val SignGrid = Seq((4, 0), (4, 1), (8, 0), (8, 1))

  /** IVF `nprobe` grid (cells fixed at the 10 label centroids, the
    * `ann_ivf` coarse quantizer) — the third recall knob: more probed
    * cells, more candidates, higher recall.
    */
  private val IvfGrid = Seq(1, 2, 3)
  private val IvfCells = 10L

  // ONE persisted (param_a, param_b, n_caught) frame holds all four
  // minhash grid counts — each count is the identical per-row aggregate
  // (same candidate generation, same sample filter, same exact-Jaccard
  // verification), but the four union branches FILTER one cached 4-row
  // frame instead of each carrying its own banding + bucket +
  // pair-expansion + verification subtree through planning and
  // execution.
  private def minhashCaughtCounts(spark: SparkSession,
                                  dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "minhashCaughtCounts")(
      MinhashGrid.map { case (k, b) =>
        DedupOps
          .minhashLshPairsSampled(spark, dir, k, b, DedupOps.RecallSampleDocs)
          .agg(count(lit(1)).as("n_caught"))
          .select(lit(k.toLong).as("param_a"), lit(b.toLong).as("param_b"),
                  col("n_caught"))
      }.reduce(_ unionByName _))

  def recallMatrix(spark: SparkSession, dir: String): DataFrame = {
    val t = DedupOps.sampleTruth(spark, dir)
    val counts = minhashCaughtCounts(spark, dir)
    val minhashRows = MinhashGrid.map { case (k, b) =>
      // sample filter pushed below the exact-Jaccard verification
      // (identical match set — the filter commutes with pair-local
      // scoring; see minhashLshPairsSampled), so each grid row verifies
      // only in-sample candidates instead of the whole corpus's. The
      // count comes from the shared [[minhashCaughtCounts]] frame — the
      // same aggregate value, one cached build.
      val caught = counts
        .filter(col("param_a") === k.toLong && col("param_b") === b.toLong)
        .select(col("n_caught"))
      t.crossJoin(caught)
        .select(
          lit("minhash").as("family"),
          lit(k.toLong).as("param_a"),
          lit(b.toLong).as("param_b"),
          col("n_true_pairs").as("n_truth"),
          col("n_caught"),
          round(col("n_caught").cast("double") /
                  greatest(col("n_true_pairs"), lit(1L)),
                6).as("recall"),
          DedupOps.expectedRecall(col("ps"), col("n_true_pairs"), b, k / b)
            .as("expected_recall"))
    }
    val truth = signTruth(spark, dir)
    val signRows = SignGrid.map { case (bits, probe) =>
      signLshRow(truth, signScored(spark, dir, bits), bits, probe)
    }
    (minhashRows ++ signRows ++ ivfRows(spark, dir, truth))
      .reduce(_ unionByName _)
      .orderBy(col("family"), col("param_a"), col("param_b"))
  }

  /** `ivf` matrix rows: recall of the probed-cell top-5 against the
    * same exact-cosine truth, at each [[IvfGrid]] `nprobe`. The label
    * coarse quantizer, member assignment, and cell ranking are built
    * ONCE (the `rn <= nprobe` filter is the only per-row difference),
    * mirroring `annIvf`'s semantics exactly: members live in their
    * nearest cell, queries probe their `nprobe` nearest.
    */
  private def ivfRows(spark: SparkSession, dir: String,
                      truth: DataFrame): Seq[DataFrame] = {
    val ranked = VectorOps.ivfRanked(spark, dir)
    val assigned = ranked
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("cell"), col("v"), col("nrm"))
    IvfGrid.map { p =>
      val probes = ranked
        .filter(col("vec_id") < 20 && col("rn") <= p)
        .select(col("label").as("cell"), col("vec_id").as("query_id"),
                col("v").as("qv"), col("nrm").as("qn"))
      val caught = top5(
        assigned
          .join(probes, Seq("cell"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cosine", cosine))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val nc = truth
        .join(caught, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_caught"))
      nt.crossJoin(nc)
        .select(
          lit("ivf").as("family"),
          lit(IvfCells).as("param_a"),
          lit(p.toLong).as("param_b"),
          col("n_truth"), col("n_caught"),
          round(col("n_caught").cast("double") /
                  greatest(col("n_truth"), lit(1L)),
                6).as("recall"),
          lit(null).cast("double").as("expected_recall"))
    }
  }

  private def top5(scored: DataFrame): DataFrame =
    graft.plans.TopK
      .perKey(scored, Seq("query_id"),
              Seq("cosine" -> false, "vec_id" -> true), 5, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"))

  private val cosine =
    round(VectorOps.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)

  /** Exact cosine top-5 truth — built ONCE and shared by every
    * `sign_lsh` and `ivf` grid row; only the candidate side depends on
    * the row's parameters. Tiny (100 (query, neighbor) pairs) but
    * expensive to derive, so persisted per dataset, and lazily:
    * plan-only inspection (schema, explain) must not trigger cluster
    * work, which an eager localCheckpoint would.
    */
  private def signTruth(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "signTruth") {
      val emb = VectorOps.normed(spark, dir)
      top5(
        emb
          .join(broadcast(VectorOps.queryVecs(emb)),
                col("vec_id") =!= col("query_id"))
          .withColumn("cosine", cosine))
    }

  /** The scored sign-LSH candidate pass at `bits`, cut at the grid's
    * WIDEST probe radius and persisted per (dataset, bits): Hamming ≤
    * probe as a join predicate over the two codes — multi-probe LSH's
    * probe set (the code plus its Hamming-≤probe flips) expressed as a
    * distance test (the oracle states it the same way). Each grid row
    * filters `hamming <= probe` from this frame, which restores
    * exactly the old per-row join condition (the maxProbe cut is a
    * superset and hamming rides along), so match sets are unchanged
    * while the corpus-side BNL pass runs once per bits value instead
    * of once per (bits, probe) row (§1.2, §5). Every input derives
    * from `(spark, dir)`, which with `bits` is the whole store key.
    */
  private def signScored(spark: SparkSession, dir: String, bits: Int): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, s"signScored bits=$bits") {
      val maxProbe = SignGrid.collect { case (b, p) if b == bits => p }.max
      val emb = VectorOps.normed(spark, dir)
      val qb = VectorOps.queryVecs(emb)
        .withColumn("qbucket", VectorOps.bucketCode(col("qv"), bits))
      val cb = emb.withColumn("bucket", VectorOps.bucketCode(col("v"), bits))
      val hamming = (1 to bits)
        .map(i =>
          when(substring(col("qbucket"), i, 1) =!=
                 substring(col("bucket"), i, 1),
               1).otherwise(0))
        .reduce(_ + _)
      cb.join(broadcast(qb),
              col("vec_id") =!= col("query_id") && hamming <= maxProbe)
        .withColumn("hamming", hamming)
        .withColumn("cosine", cosine)
        .select(col("query_id"), col("vec_id"), col("hamming"), col("cosine"))
    }

  /** One `sign_lsh` matrix row: recall of the bucketed top-5 against
    * the exact top-5 at (bits, probe), over the shared [[signScored]]
    * pass for this bits value.
    */
  private def signLshRow(truth: DataFrame, scored: DataFrame,
                         bits: Int, probe: Int): DataFrame = {
    val caught = top5(scored.filter(col("hamming") <= probe))

    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nc = truth
      .join(caught, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("n_caught"))
    nt.crossJoin(nc)
      .select(
        lit("sign_lsh").as("family"),
        lit(bits.toLong).as("param_a"),
        lit(probe.toLong).as("param_b"),
        col("n_truth"), col("n_caught"),
        round(col("n_caught").cast("double") /
                greatest(col("n_truth"), lit(1L)),
              6).as("recall"),
        lit(null).cast("double").as("expected_recall"))
  }

  // ---- DuckDB oracle -----------------------------------------------------

  /** Band + candidate + verified-caught CTEs at (k, bands), suffixed so
    * every grid point lives in one WITH chain.
    */
  private def minhashCaughtSql(k: Int, b: Int): String = {
    val rpb = k / b
    val sfx = s"_k${k}b$b"
    val cat = (1 to rpb)
      .map(i => s"CAST(sig[$rpb * t.bi + $i] AS VARCHAR)")
      .mkString(" || '|' || ")
    s"""bands$sfx AS (
       |  SELECT doc_id, bi, md5($cat) AS band_hash
       |  FROM sig_$k, UNNEST(range(0, $b)) t(bi)
       |),
       |bsz$sfx AS (SELECT bi, band_hash, count(*) AS n FROM bands$sfx GROUP BY 1, 2),
       |cand$sfx AS (
       |  SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
       |  FROM bands$sfx a
       |  JOIN bands$sfx c ON a.bi = c.bi AND a.band_hash = c.band_hash AND a.doc_id < c.doc_id
       |  JOIN bsz$sfx z ON z.bi = a.bi AND z.band_hash = a.band_hash
       |  WHERE z.n <= ${DedupOps.MaxBucket}
       |),
       |caught$sfx AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_caught FROM (
       |    SELECT round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
       |                 / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))), 6) AS jaccard
       |    FROM cand$sfx JOIN sh x ON doc1 = x.doc_id JOIN sh y ON doc2 = y.doc_id
       |    WHERE doc1 < ${DedupOps.RecallSampleDocs} AND doc2 < ${DedupOps.RecallSampleDocs}
       |  ) WHERE jaccard >= ${DedupOps.JaccardThreshold}
       |)""".stripMargin
  }

  private def minhashRowSql(k: Int, b: Int): String = {
    val rpb = k / b
    val sfx = s"_k${k}b$b"
    val sPow = List.fill(rpb)("s").mkString("*")
    val miss = List.fill(b)(s"(1.0 - $sPow)").mkString(" * ")
    s"""SELECT 'minhash' AS family, CAST($k AS BIGINT) AS param_a, CAST($b AS BIGINT) AS param_b,
       |       n_true_pairs AS n_truth, n_caught,
       |       round(CAST(n_caught AS DOUBLE) / greatest(n_true_pairs, 1), 6) AS recall,
       |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |               list_transform(js, s -> 1.0 - $miss)),
       |             (a, b) -> a + b) / greatest(n_true_pairs, 1), 6) AS expected_recall
       |FROM agg, caught$sfx""".stripMargin
  }

  private val vDotSql =
    "list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]), (a, b) -> a + b)"

  private def signBucketSql(bits: Int): String =
    s"""bk$bits AS (
       |  SELECT vec_id,
       |         array_to_string(list_transform(v[1:$bits],
       |           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM ven
       |)""".stripMargin

  private def signCaughtSql(bits: Int, probe: Int): String = {
    val sfx = s"_s${bits}p$probe"
    s"""vcc$sfx AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_caught FROM vtruth
       |  JOIN (
       |    SELECT query_id, neighbor_id FROM (
       |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |             row_number() OVER (PARTITION BY q.vec_id
       |               ORDER BY round($vDotSql / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS rank
       |      FROM ven q JOIN bk$bits qb ON q.vec_id = qb.vec_id
       |           JOIN ven c ON c.vec_id <> q.vec_id
       |           JOIN bk$bits cb ON c.vec_id = cb.vec_id
       |      WHERE q.vec_id < 20
       |        AND len(list_filter(range(1, ${bits + 1}),
       |              i -> substr(qb.bucket, CAST(i AS INT), 1) <> substr(cb.bucket, CAST(i AS INT), 1))) <= $probe
       |    ) WHERE rank <= 5
       |  ) USING (query_id, neighbor_id)
       |)""".stripMargin
  }

  private def signRowSql(bits: Int, probe: Int): String =
    s"""SELECT 'sign_lsh' AS family, CAST($bits AS BIGINT) AS param_a, CAST($probe AS BIGINT) AS param_b,
       |       n_truth, n_caught,
       |       round(CAST(n_caught AS DOUBLE) / greatest(n_truth, 1), 6) AS recall,
       |       CAST(NULL AS DOUBLE) AS expected_recall
       |FROM vnt, vcc_s${bits}p$probe""".stripMargin

  /** Label coarse quantizer + cell ranking, shared by every `ivf` row. */
  private val ivfBaseSql =
    s"""ivfcent AS (
       |  SELECT label, list(c ORDER BY pos) AS centroid FROM (
       |    SELECT label, r.pos, round(avg(CAST(embedding[r.pos] AS DOUBLE)), 6) AS c
       |    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) r(pos)
       |    GROUP BY label, r.pos
       |  ) GROUP BY label
       |),
       |ivfrank AS (
       |  SELECT q.vec_id, c.label,
       |         row_number() OVER (PARTITION BY q.vec_id
       |           ORDER BY round(list_reduce(list_transform(range(1, len(q.v) + 1),
       |                    i -> (q.v[i] - c.centroid[i]) * (q.v[i] - c.centroid[i])), (a, b) -> a + b), 6),
       |                    c.label) AS rn
       |  FROM ven q, ivfcent c
       |),
       |ivfassigned AS (
       |  SELECT r.vec_id, r.label AS cell, v.v, v.nrm
       |  FROM ivfrank r JOIN ven v ON v.vec_id = r.vec_id WHERE r.rn = 1
       |)""".stripMargin

  private def ivfCaughtSql(p: Int): String =
    s"""ivfq$p AS (
       |  SELECT r.vec_id AS query_id, r.label AS cell, v.v AS qv, v.nrm AS qn
       |  FROM ivfrank r JOIN ven v ON v.vec_id = r.vec_id
       |  WHERE r.vec_id < 20 AND r.rn <= $p
       |),
       |ivfc$p AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_caught FROM vtruth
       |  JOIN (
       |    SELECT query_id, neighbor_id FROM (
       |      SELECT q.query_id, c.vec_id AS neighbor_id,
       |             row_number() OVER (PARTITION BY q.query_id
       |               ORDER BY round(list_reduce(list_transform(range(1, len(q.qv) + 1),
       |                        i -> q.qv[i] * c.v[i]), (a, b) -> a + b) / (q.qn * c.nrm), 6) DESC,
       |                        c.vec_id) AS rank
       |      FROM ivfq$p q JOIN ivfassigned c
       |        ON c.cell = q.cell AND c.vec_id <> q.query_id
       |    ) WHERE rank <= 5
       |  ) USING (query_id, neighbor_id)
       |)""".stripMargin

  private def ivfRowSql(p: Int): String =
    s"""SELECT 'ivf' AS family, CAST($IvfCells AS BIGINT) AS param_a, CAST($p AS BIGINT) AS param_b,
       |       n_truth, n_caught,
       |       round(CAST(n_caught AS DOUBLE) / greatest(n_truth, 1), 6) AS recall,
       |       CAST(NULL AS DOUBLE) AS expected_recall
       |FROM vnt, ivfc$p""".stripMargin

  val oracles: Map[String, String] = Map(
    "recall_matrix" -> {
      val ks = MinhashGrid.map(_._1).distinct.sorted
      val bitses = SignGrid.map(_._1).distinct.sorted
      val ctes = Seq(
        ks.map(k => DedupOps.sigSql(k, s"_$k")).mkString(",\n"),
        MinhashGrid.map { case (k, b) => minhashCaughtSql(k, b) }
          .mkString(",\n"),
        s"""truth AS (
           |  SELECT a.doc_id AS d1, c.doc_id AS d2,
           |         round(CAST(len(list_intersect(a.shingles, c.shingles)) AS DOUBLE)
           |               / (len(a.shingles) + len(c.shingles) - len(list_intersect(a.shingles, c.shingles))), 6) AS j
           |  FROM sh a JOIN sh c ON a.doc_id < c.doc_id
           |  WHERE a.doc_id < ${DedupOps.RecallSampleDocs} AND c.doc_id < ${DedupOps.RecallSampleDocs}
           |),
           |tt AS (SELECT * FROM truth WHERE j >= ${DedupOps.JaccardThreshold}),
           |agg AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           |         list(j ORDER BY d1, d2) AS js
           |  FROM tt
           |)""".stripMargin,
        s"""ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
           |ven AS (SELECT *, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM ve),
           |vtruth AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |           row_number() OVER (PARTITION BY q.vec_id
           |             ORDER BY round($vDotSql / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS rank
           |    FROM ven q JOIN ven c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 20
           |  ) WHERE rank <= 5
           |),
           |vnt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM vtruth)""".stripMargin,
        bitses.map(signBucketSql).mkString(",\n"),
        SignGrid.map { case (bits, p) => signCaughtSql(bits, p) }
          .mkString(",\n"),
        ivfBaseSql,
        IvfGrid.map(ivfCaughtSql).mkString(",\n")
      ).mkString(",\n")
      val rows =
        (MinhashGrid.map { case (k, b) => minhashRowSql(k, b) } ++
          SignGrid.map { case (bits, p) => signRowSql(bits, p) } ++
          IvfGrid.map(ivfRowSql))
          .mkString("\nUNION ALL\n")
      DedupOps.shingleSql + ",\n" + ctes +
        s"\nSELECT * FROM (\n$rows\n) ORDER BY family, param_a, param_b"
    }
  )
}
