package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Dot products, norms, and distances are native Catalyst expressions
  * ([[graft.functions.VecDotExpr]] et al.): one primitive loop per row
  * over the raw float array, widening per element — a deterministic
  * sequential left fold that DuckDB's `list_reduce` over double-cast
  * lists reproduces bit-for-bit, keeping every score oracle-checkable
  * (the earlier `zip_with`+`aggregate` HOF formulation was interpreted
  * and boxed each element per candidate×query pair).
  *
  * Scale path: brute-force top-k broadcasts the (small) query set against
  * the full candidate table — one pass, no shuffle of the big side, and
  * `row_number` top-k runs per-query-partition. The bucketed variant
  * (sign-bit LSH over the leading dimensions, i.e. random-hyperplane
  * hashing with axis-aligned planes) is the 100 TB path: candidates are
  * co-shuffled by bucket so each query compares against its bucket only.
  */
object VectorOps {

  private[operators] def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  private[operators] def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.vecDot(a, b)

  private[operators] def norm(c: Column): Column =
    graft.functions.VectorExprs.vecNorm(c)

  /** The canonical embedding projection (vec_id, embedding AS v,
    * nrm = norm(v)) every cosine search scores over.
    */
  private[operators] def normed(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", norm(col("v")))

  /** The query side of [[normed]]: vectors with vec_id < 20 as
    * (query_id, qv, qn).
    */
  private[operators] def queryVecs(emb: DataFrame): DataFrame =
    emb
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** Brute-force cosine top-10 neighbors for query vectors (vec_id < 20)
    * against all other vectors — the exact ANN baseline.
    */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = normed(spark, dir)
    val queries = queryVecs(emb)
    val scored = emb
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
                  round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
    // per-key top-k via the dedicated operator (TopKPerKeyPlan): bounded
    // buffers + partial pre-shuffle pass instead of WindowExec's full
    // partition sort; bit-identical to the row_number formulation
    graft.plans.TopK
      .perKey(scored, Seq("query_id"),
              Seq("cosine" -> false, "vec_id" -> true), 10, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"),
              col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Bucket-code width (dims → 2^bits buckets): the DEV-scale value the
    * DuckDB oracles encode. Production corpora want more planes (16-24
    * bits for billions of vectors); [[annLshWideband]] runs the wider
    * 12-bit code under its own oracle.
    */
  private val SignBits = 8

  /** Near-dup cosine threshold of [[embedNearDup]] and [[semdedup]],
    * calibrated to the synthetic embeddings' cosine spread (real
    * text-embedding near-dup pipelines run 0.9+).
    */
  private val NearDupCosine = 0.3

  /** Sign-bit bucket code over the first `bits` dimensions — a
    * deterministic random-hyperplane LSH (axis-aligned planes), giving
    * 2^bits buckets.
    */
  private[operators] def bucketCode(v: Column, bits: Int): Column =
    array_join(
      transform(slice(v, 1, bits), x => when(x >= 0, "1").otherwise("0")), "")

  /** LSH-bucketed ANN: top-5 cosine neighbors within the same sign-bucket.
    * The scale variant: candidates co-partitioned by bucket, so the join
    * fan-out is |bucket|², not |table|².
    */
  def annLshBucketed(spark: SparkSession, dir: String): DataFrame =
    annLshBucketedAt(spark, dir, SignBits)

  /** [[annLshBucketed]] at an explicit code width. */
  private def annLshBucketedAt(spark: SparkSession, dir: String,
                               bits: Int): DataFrame = {
    val emb = normed(spark, dir)
      .withColumn("bucket", bucketCode(col("v"), bits))
    val left = emb.select(
      col("bucket"),
      col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = emb
      .join(left, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
                  round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
    graft.plans.TopK
      .perKey(scored, Seq("query_id"),
              Seq("cosine" -> false, "vec_id" -> true), 5, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"),
              col("cosine"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs within buckets
    * (cosine ≥ [[NearDupCosine]]).
    */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = normed(spark, dir)
      .withColumn("bucket", bucketCode(col("v"), SignBits))
    val right = emb.select(col("bucket"), col("vec_id").as("vec2"),
                           col("v").as("v2"), col("nrm").as("n2"))
    emb
      .join(right, Seq("bucket"))
      .filter(col("vec_id") < col("vec2"))
      .withColumn("cosine",
                  round(dot(col("v"), col("v2")) / (col("nrm") * col("n2")), 6))
      .filter(col("cosine") >= NearDupCosine)
      .select(col("vec_id").as("vec1"), col("vec2"), col("cosine"))
      .orderBy(col("vec1"), col("vec2"))
  }

  /** Coarse-quantizer cell ranking shared by [[annIvf]] and
    * `CalibrationOps.ivfRows`: label-mean centroids, broadcast
    * crossJoin, per-vector `row_number` over (round(d2,6), label).
    * ONE definition so a tie-break or rounding change cannot
    * desynchronize the recall calibration from the operator it
    * measures (the minhashSigFrame convention). Rows are [[normed]]'s
    * (vec_id, v, nrm) plus the cell `label`, `d2` and `rn`.
    *
    * Persisted per dataset: the centroid aggregate +
    * crossJoin + window subtree was re-derived by EVERY consumer
    * subtree — `recall_matrix`'s three ivf grid rows each reference it
    * twice (member assignment + query probes, different filters, so
    * ReuseExchange cannot share them) and `ann_ivf`/`ann_ivf_probed`
    * once more — six-plus evaluations per bench pass for one
    * |corpus|×|labels| frame. Keyed on `dir` alone: the builder derives
    * every input from `(spark, dir)`, so no caller can hand it a frame
    * the key does not name.
    */
  private[operators] def ivfRanked(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "ivfRanked")(ivfRankedPlan(spark, dir))

  private def ivfRankedPlan(spark: SparkSession, dir: String): DataFrame = {
    val centroids = Tables
      .embeddings(spark, dir)
      .select(col("label"), posexplode(asDouble(col("embedding"))))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("col")), 6).as("c"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .getField("c").as("centroid"))
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("d2"), 6), col("label"))
    normed(spark, dir)
      .crossJoin(broadcast(centroids))
      .withColumn("d2",
                  graft.functions.VectorExprs.vecDist2(col("v"),
                                                       col("centroid")))
      .withColumn("rn", row_number().over(wCell))
  }

  /** IVF (inverted-file) ANN: coarse cells are per-label centroids
    * (elementwise mean — one k-means M-step over the given labels);
    * every vector is assigned to its nearest cell, queries probe their
    * own cell only, and exact cosine top-5 runs within the cell. The
    * centroid table is tiny and broadcast; assignment is a single
    * map-side pass — the standard IVF shape at 100 TB (cells ≫ this
    * demo's 10, probes > 1 in production; the dataflow is identical).
    *
    * Determinism: centroids are rounded to 6 dp before any distance, so
    * both engines measure against identical cell centers; cell argmin
    * ties break on label, rank ties on neighbor id.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfAt(spark, dir, 1)

  /** [[annIvf]] at an explicit probe count. */
  private def annIvfAt(spark: SparkSession, dir: String,
                       nprobe: Int): DataFrame = {
    val ranked = ivfRanked(spark, dir)

    // members live in exactly their nearest cell; QUERIES probe their
    // `nprobe` nearest cells — the standard IVF recall lever: more
    // probed cells, more candidates
    val assigned = ranked
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("cell"), col("v"), col("nrm"))

    val queries = ranked
      .filter(col("vec_id") < 20 && col("rn") <= nprobe)
      .select(col("label").as("cell"), col("vec_id").as("query_id"),
              col("v").as("qv"), col("nrm").as("qn"))
    val scoredCell = assigned
      .join(queries, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
                  round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
    graft.plans.TopK
      .perKey(scoredCell, Seq("query_id"),
              Seq("cosine" -> false, "vec_id" -> true), 5, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
              col("cosine"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** [[annIvf]] at nprobe = 2 under its own oracle ([[annIvfSqlAt]] at
    * the same probe count), so the probe count provably cannot desync
    * the engines.
    */
  def annIvfProbed(spark: SparkSession, dir: String): DataFrame =
    annIvfAt(spark, dir, 2)

  /** [[annLshBucketed]] at bits = 12 — finer sign buckets (fewer
    * candidates per bucket, lower recall) under its own oracle.
    */
  def annLshWideband(spark: SparkSession, dir: String): DataFrame =
    annLshBucketedAt(spark, dir, 12)

  /** Per-label centroid statistics — the aggregation building block of an
    * IVF coarse quantizer (here over the given labels; k-means iterations
    * would repeat this agg with assignments recomputed).
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
           round(avg(norm(col("v"))), 6).as("avg_norm"))
      .orderBy(col("label"))

  /** Symmetric int8 quantization summary per embedding
    * ([[graft.functions.VecQuantStatsExpr]]): scale = 127/amax, elements
    * round-half-up then clamp to [−127, 127]. The quantized payload
    * itself would ship as a binary column; the summary row (scale +
    * checksum/min/max) is what the catalog stores and what the oracle
    * hash-checks. Pure map pass — no shuffle before the presentation
    * sort; the struct is consumed behind a generate-barrier so the
    * kernel runs once per vector.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(col("vec_id"),
              explode(array(graft.functions.VectorExprs.vecQuantStats(
                col("embedding")))).as("qs"))
      .select(col("vec_id"), col("qs.n_dims").as("n_dims"),
              col("qs.scale").as("scale"), col("qs.q_sum").as("q_sum"),
              col("qs.q_min").as("q_min"), col("qs.q_max").as("q_max"))
      .orderBy(col("vec_id"))

  /** Output dimensionality of [[embedRpSketch]]. */
  private val SketchDims = 8

  /** Deterministic random-projection sketch: 64-dim float embeddings →
    * 8 projected coordinates under a fixed integer weight lattice
    * w(i,j) = ((i+1)(j+1) mod 11) − 5 (Achlioptas-style sparse
    * projection — at 100 TB the sketch is what feeds coarse ANN /
    * clustering so full vectors are touched only for final re-ranking).
    * The modulus must exceed the projection count: mod 7 would make row
    * i=6 a constant (7·(j+1) ≡ 0) and row i=7 an alias of row 0 — with
    * mod 11 all eight (i+1) residues are distinct and non-zero, so the
    * rows are genuinely independent. Pure per-row map (no shuffle); each
    * coordinate is a sequential index-ordered fold, so the sketch is
    * engine-exact. (Upgrade path for a true hot loop: a native kernel
    * like VecDotExpr with codegen — the HOF form here is clarity-first.)
    */
  def embedRpSketch(spark: SparkSession, dir: String): DataFrame = {
    val sketchCols = (0 until SketchDims).map { i =>
      round(
        aggregate(
          // index-lambda transform handles zero-length arrays natively
          // (sequence(0, -1) would step BACKWARDS and crash element_at)
          transform(
            col("embedding"),
            (x, j) =>
              x.cast("double") *
                (((lit(i + 1) * (j + lit(1))) % 11) - lit(5)).cast("double")),
          lit(0.0),
          (a, x) => a + x),
        4).as(s"s$i")
    }
    Tables
      .embeddings(spark, dir)
      .select(col("vec_id") +: sketchCols: _*)
      .orderBy(col("vec_id"))
  }

  /** Cell count / Lloyd iterations for [[kmeansCentroids]] — dev-scale
    * constants the static oracle encodes (production IVF trains
    * √n-to-thousands of cells over many iterations on a sample; the
    * dataflow per iteration is identical).
    */
  private val KmeansCells = 10
  private val KmeansIters = 2

  /** IVF coarse-quantizer TRAINING — the piece [[annIvf]] takes as
    * given (its cells come from labels): [[KmeansIters]] deterministic
    * Lloyd iterations. Init is the first [[KmeansCells]] vectors
    * (deterministic, the standard "first-k sample" seeding for an
    * oracle-checkable fixture; k-means++ would need a portable RNG);
    * each iteration assigns every vector to its nearest centroid
    * (squared distance rounded to 6 dp BEFORE the argmin so both
    * engines break ties identically, ties → lowest cell) and recomputes
    * centroids as element-wise means rounded to 6 dp (so the next
    * iteration measures against bit-identical centers — same idiom as
    * [[annIvf]]).
    *
    * Scale shape: assignment is a broadcast of the tiny centroid table
    * against one pass over the vectors; the argmin is a
    * `min(struct(dist, cell))` AGGREGATE (partial-combinable, no
    * window); the mean is one groupBy(cell, pos) — per iteration that
    * is one broadcast pass + one shuffle on (cells × dims) keys, the
    * canonical distributed-Lloyd plan. Output is long-form
    * (cell, pos, c) + member counts: scalar-only, so the oracle gate
    * can sort and hash it.
    */
  /** E-step → M-step mean: centroids of an assignment, rounded to 6 dp
    * (ONE definition of the Lloyd mean, used per-iteration and for the
    * final output).
    */
  private def meansOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("v")))
      .groupBy(col("cell"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("c"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .getField("c").as("centroid"))

  /** (vec_id, v, cell) after [[KmeansIters]] deterministic Lloyd
    * iterations — see [[kmeansCentroids]] for init/tie-break rules.
    * Persisted per dataset, shared by [[kmeansCentroids]] and
    * [[semdedup]] (same rationale as DedupOps' cascade store: the
    * iterative clustering runs once per dataset, and at cluster scale
    * this is the written assignment table downstream curation stages
    * join against).
    */
  private[operators] def kmeansAssign(spark: SparkSession,
                                      dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "kmeansAssign") {
      val emb = Tables
        .embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").as("v"))
      var cents = emb
        .filter(col("vec_id") < KmeansCells)
        .select(col("vec_id").as("cell"),
                transform(col("v"), x => round(x.cast("double"), 6))
                  .as("centroid"))
      var lastAssigned: DataFrame = null
      for (_ <- 1 to KmeansIters) {
        val assigned = emb
          .crossJoin(broadcast(cents))
          .withColumn(
            "d",
            round(graft.functions.VectorExprs.vecDist2(col("v"),
                                                       col("centroid")),
                  6))
          .groupBy(col("vec_id"), col("v"))
          .agg(min(struct(col("d"), col("cell"))).as("m"))
          .select(col("vec_id"), col("v"), col("m.cell").as("cell"))
        lastAssigned = assigned
        cents = meansOf(assigned)
      }
      lastAssigned
    }

  def kmeansCentroids(spark: SparkSession, dir: String): DataFrame = {
    val assigned = kmeansAssign(spark, dir)
    val counts = assigned
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    meansOf(assigned)
      .select(col("cell"), posexplode(col("centroid")))
      .select(col("cell"), col("pos").cast("long").as("pos"),
              col("col").as("c"))
      .join(counts, "cell")
      .select(col("cell"), col("pos"), col("c"), col("n_members"))
      .orderBy(col("cell"), col("pos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication INSIDE k-means cells — cluster the embedding space
    * coarsely, then call two documents duplicates when their cosine
    * inside the same cell clears [[NearDupCosine]] (the paper uses 0.95+
    * on real text embeddings; 0.3 is calibrated to this synthetic
    * corpus' cosine spread). A vector is
    * DROPPED when a lower-id cell-mate is that similar — the
    * keep-one-per-semantic-neighborhood rule; `dup_of` names the
    * lowest such partner so the verdict is auditable.
    *
    * This is the missing middle ground between [[embedNearDup]] (LSH
    * buckets: recall bounded by the s-curve) and exact all-pairs
    * (O(n²)): the paper's observation is that semantic duplicates
    * share a coarse cluster, so the pair search is Σ|cell|² ≪ n² and
    * each cell's expansion is an independent task — the same
    * bounded-bucket scale shape as the MinHash LSH family (a hot cell
    * is capped by k-means balance, and production runs k ∝ √n cells).
    * Shares the persisted Lloyd assignment with [[kmeansCentroids]];
    * the drop rule is a partial-combinable `min(struct)` aggregate —
    * no window, no driver loop.
    */
  def semdedup(spark: SparkSession, dir: String): DataFrame = {
    val assigned = kmeansAssign(spark, dir).withColumn("nrm", norm(col("v")))
    val mates = assigned.select(col("cell"), col("vec_id").as("vec2"),
                                col("v").as("v2"), col("nrm").as("n2"))
    val dupOf = assigned
      .join(mates, Seq("cell"))
      .filter(col("vec2") < col("vec_id"))
      .withColumn("cosine",
                  round(dot(col("v"), col("v2")) / (col("nrm") * col("n2")),
                        6))
      .filter(col("cosine") >= NearDupCosine)
      .groupBy(col("vec_id"))
      .agg(min(struct(col("vec2"), col("cosine"))).as("m"))
      .select(col("vec_id"), col("m.vec2").as("dup_of"),
              col("m.cosine").as("dup_cosine"))
    assigned
      .select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of").isNull.as("kept"),
              col("dup_of"), col("dup_cosine"))
      .orderBy(col("vec_id"))
  }

  /** PQ geometry — M subspaces × K codewords over the 64-dim embedding
    * (production PQ uses M=8..64, K=256; the dataflow is identical and
    * the static oracle encodes these dev-scale constants).
    */
  private val PqSubspaces = 4
  private val PqSubDim = 16
  private val PqCodes = 8
  private val PqIters = 2

  /** (vec_id, m, sv) subvector frame: each vector split into
    * [[PqSubspaces]] contiguous blocks, double-cast like the oracle.
    */
  private def subvectors(spark: SparkSession, dir: String): DataFrame =
    Tables
      .embeddings(spark, dir)
      .select(col("vec_id"),
              explode(array((0 until PqSubspaces).map(m =>
                struct(lit(m.toLong).as("m"),
                       transform(slice(col("embedding"),
                                       m * PqSubDim + 1, PqSubDim),
                                 x => x.cast("double")).as("sv"))): _*))
                .as("p"))
      .select(col("vec_id"), col("p.m").as("m"), col("p.sv").as("sv"))

  /** Subspace Lloyd mean (the [[meansOf]] idiom keyed by (m, code)). */
  private def pqMeansOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("code"), posexplode(col("sv")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(round(avg(col("col")), 6).as("c"))
      .groupBy(col("m"), col("code"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .getField("c").as("centroid"))

  /** Nearest-codeword assignment of a subvector frame against a
    * codebook table (E-step and the final encode are the same map).
    */
  private def pqAssignAgainst(sub: DataFrame, cents: DataFrame): DataFrame =
    sub
      .join(broadcast(cents), "m")
      .withColumn("d",
                  round(graft.functions.VectorExprs.vecDist2(col("sv"),
                          col("centroid")), 6))
      .groupBy(col("vec_id"), col("m"), col("sv"))
      .agg(min(struct(col("d"), col("code"))).as("mm"))
      .select(col("vec_id"), col("m"), col("sv"),
              col("mm.code").as("code"), col("mm.d").as("qerr"))

  /** TRAINED codebook table (m, code, centroid) after [[PqIters]]
    * Lloyd iterations — persisted per dataset.
    */
  private def pqCents(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "pqCents") {
      val sub = subvectors(spark, dir)
      var cents = sub
        .filter(col("vec_id") < PqCodes)
        .select(col("m"), col("vec_id").as("code"),
                transform(col("sv"), x => round(x, 6)).as("centroid"))
      for (_ <- 1 to PqIters) cents = pqMeansOf(pqAssignAgainst(sub, cents))
      cents
    }

  /** Final PQ encode frame (vec_id, m, sv, code, qerr) against the
    * TRAINED codebooks — persisted per dataset and shared by
    * [[pqCodebooks]] / [[pqEncode]], so codes and codebook are one
    * consistent pair.
    */
  private def pqAssign(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "pqAssign") {
      pqAssignAgainst(subvectors(spark, dir), pqCents(spark, dir))
    }

  /** Product-quantization codebook TRAINING (Jégou et al. TPAMI'11) —
    * the vector-compression half of a production ANN stack: the
    * embedding splits into [[PqSubspaces]] contiguous subvectors and
    * each subspace learns its own [[PqCodes]]-entry codebook by the
    * SAME deterministic Lloyd recipe as [[kmeansCentroids]] (first-k
    * seeding, distances and means rounded to 6 dp before every argmin
    * so both engines tie-break identically). A vector then stores M
    * small codes instead of d floats — 64 dims → 4 bytes here, 32×
    * compression; with K=256 production gets 8 bits per subspace.
    *
    * Scale shape: ALL subspaces train in the SAME jobs — the subvector
    * frame carries `m` as a key, so each Lloyd iteration is one
    * broadcast of the (M × K)-row codebook table + one
    * groupBy(m, code, pos) mean shuffle, never a per-subspace job
    * loop. Long-form scalar output (m, code, pos, c, n_members).
    */
  def pqCodebooks(spark: SparkSession, dir: String): DataFrame = {
    val counts = pqAssign(spark, dir)
      .groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("n_members"))
    pqCents(spark, dir)
      .select(col("m"), col("code"), posexplode(col("centroid")))
      .select(col("m"), col("code"), col("pos").cast("long").as("pos"),
              col("col").as("c"))
      // left join: a codeword that attracted no vectors (dead code) is
      // still part of the trained codebook — shown with 0 members
      .join(counts, Seq("m", "code"), "left")
      .withColumn("n_members", coalesce(col("n_members"), lit(0L)))
      .orderBy(col("m"), col("code"), col("pos"))
  }

  /** PQ ENCODE — the apply half of [[pqCodebooks]]: every vector's M
    * nearest-codeword ids plus the per-subspace squared quantization
    * error (the reconstruction-quality audit; Σ qerr over m is the
    * vector's total reconstruction error, and asymmetric-distance
    * search would precompute query-to-codeword tables against exactly
    * these codes). Pure broadcast map over the subvector frame — the
    * compression pass a 100 TB embedding store runs before writing.
    */
  def pqEncode(spark: SparkSession, dir: String): DataFrame =
    pqAssign(spark, dir)
      .select(col("vec_id"), col("m"), col("code"), col("qerr"))
      .orderBy(col("vec_id"), col("m"))

  /** PQ ADC search (the asymmetric-distance query path of Jégou
    * TPAMI'11) — what makes [[pqCodebooks]]/[[pqEncode]] a SEARCH
    * structure, not just compression: each query computes one small
    * (M × K) distance table against the codebooks, and every database
    * vector's approximate distance is then M table LOOKUPS on its
    * codes — the full d-dim vectors are never touched at query time.
    * Top-10 per query by ADC distance (self excluded, like
    * [[annTopK]]).
    *
    * Determinism: per-(query, subspace, code) distances round to 6 dp
    * and convert to EXACT micro-unit longs before the per-vector sum,
    * so the 4-term addition is order-free (a double sum's grouping
    * order is not) and the ranking key is an integer. Scale shape: the
    * distance table is queries × (M·K) rows — broadcast; the lookup
    * join keys on (m, code) against the encode frame; the top-k is the
    * dedicated bounded-buffer operator, no window sort.
    */
  def pqSearch(spark: SparkSession, dir: String): DataFrame = {
    val queries = subvectors(spark, dir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qsv"))
    val dt = queries
      .join(broadcast(pqCents(spark, dir)), "m")
      .select(col("query_id"), col("m"), col("code"),
              floor(round(graft.functions.VectorExprs.vecDist2(col("qsv"),
                      col("centroid")), 6) * lit(1000000) + lit(0.5))
                .cast("long").as("dq_micro"))
    val scored = pqAssign(spark, dir)
      .select(col("vec_id"), col("m"), col("code"))
      .join(broadcast(dt), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dq_micro")).as("adc_micro"))
    graft.plans.TopK
      .perKey(scored, Seq("query_id"),
              Seq("adc_micro" -> true, "vec_id" -> true), 10, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              col("adc_micro"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---- DuckDB oracles ----------------------------------------------------

  /** One PQ Lloyd iteration as oracle CTEs (the subspace-keyed twin of
    * [[kmeansIterSql]]).
    */
  private def pqIterSql(i: Int): String =
    s"""pa$i AS (
       |  SELECT vec_id, m, sv, code FROM (
       |    SELECT s.vec_id, s.m, s.sv, c.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY round(list_reduce(list_transform(range(1, len(s.sv) + 1),
       |                      j -> (s.sv[j] - c.centroid[j]) * (s.sv[j] - c.centroid[j])), (a, b) -> a + b), 6), c.code) AS rn
       |    FROM sv s JOIN pc${i - 1} c USING (m)
       |  ) WHERE rn = 1
       |),
       |pm$i AS (
       |  SELECT m, code, r.pos, round(avg(sv[r.pos]), 6) AS c
       |  FROM pa$i, UNNEST(range(1, len(sv) + 1)) r(pos)
       |  GROUP BY m, code, r.pos
       |),
       |pc$i AS (SELECT m, code, list(c ORDER BY pos) AS centroid
       |         FROM pm$i GROUP BY m, code)""".stripMargin

  /** Shared PQ oracle prefix: subvector frame, seeded codebooks,
    * [[PqIters]] Lloyd iterations, and the final encode pass `enc`.
    */
  private def pqBaseSql: String = {
    val iters = (1 to PqIters).map(pqIterSql).mkString(",\n")
    s"""WITH sv AS (
       |  SELECT vec_id, r.m AS m,
       |         list_transform(embedding[(r.m * $PqSubDim + 1):(r.m * $PqSubDim + $PqSubDim)],
       |                        x -> CAST(x AS DOUBLE)) AS sv
       |  FROM embeddings, UNNEST(range(0, $PqSubspaces)) r(m)
       |),
       |pc0 AS (
       |  SELECT m, vec_id AS code, list_transform(sv, x -> round(x, 6)) AS centroid
       |  FROM sv WHERE vec_id < $PqCodes
       |),
       |$iters,
       |enc AS (
       |  SELECT vec_id, m, code, d AS qerr FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |           round(list_reduce(list_transform(range(1, len(s.sv) + 1),
       |                  j -> (s.sv[j] - c.centroid[j]) * (s.sv[j] - c.centroid[j])), (a, b) -> a + b), 6) AS d,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY round(list_reduce(list_transform(range(1, len(s.sv) + 1),
       |                      j -> (s.sv[j] - c.centroid[j]) * (s.sv[j] - c.centroid[j])), (a, b) -> a + b), 6), c.code) AS rn
       |    FROM sv s JOIN pc$PqIters c USING (m)
       |  ) WHERE rn = 1
       |)""".stripMargin
  }

  /** Shared CTE: double-cast vectors + norms via the same left fold,
    * plus the sign-bucket code at an explicit width, so the wider twin
    * (`ann_lsh_wideband`) shares one builder with the default.
    */
  private def embSqlAt(bits: Int): String =
    s"""WITH e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |en AS (
       |  SELECT *, sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm,
       |         array_to_string(list_transform(v[1:$bits], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
       |  FROM e
       |)""".stripMargin

  private val embSql = embSqlAt(SignBits)

  /** LSH-bucket ANN oracle at an explicit bucket width. */
  private def annLshSqlAt(bits: Int): String =
    s"""${embSqlAt(bits)}
       |SELECT query_id, neighbor_id, bucket, cosine, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
       |         round($dotSql / (q.nrm * c.nrm), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY q.vec_id
       |                ORDER BY round($dotSql / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM en q JOIN en c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** IVF ANN oracle at an explicit query-side probe count: members live
    * in their nearest cell (rn = 1); queries search their `nprobe`
    * nearest cells — the same ranked-cells frame [[ivfRanked]] shares
    * with the Spark side.
    */
  private def annIvfSqlAt(nprobe: Int): String =
    s"""$embSql,
       |cent AS (
       |  SELECT label, r.pos, floor((avg(v[r.pos])) * 1e6 + 0.5) / 1e6 AS c
       |  FROM e, UNNEST(range(1, len(v) + 1)) r(pos)
       |  GROUP BY label, r.pos
       |),
       |cents AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
       |ranked AS (
       |  SELECT en.vec_id, cents.label, en.v, en.nrm,
       |         row_number() OVER (PARTITION BY en.vec_id ORDER BY
       |           floor((list_reduce(list_transform(range(1, len(en.v) + 1),
       |                  i -> (en.v[i] - cents.centroid[i]) * (en.v[i] - cents.centroid[i])), (a, b) -> a + b)) * 1e6 + 0.5) / 1e6,
       |           cents.label) AS rn
       |  FROM en, cents
       |),
       |assigned AS (SELECT vec_id, label AS cell, v, nrm FROM ranked WHERE rn = 1),
       |probing AS (SELECT vec_id, label AS cell, v, nrm FROM ranked
       |            WHERE vec_id < 20 AND rn <= $nprobe)
       |SELECT query_id, neighbor_id, cell, cosine, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.cell AS cell,
       |         round($dotSql / (q.nrm * c.nrm), 6) AS cosine,
       |         CAST(row_number() OVER (PARTITION BY q.vec_id
       |                ORDER BY round($dotSql / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS BIGINT) AS rank
       |  FROM probing q JOIN assigned c ON q.cell = c.cell AND c.vec_id <> q.vec_id
       |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val dotSql =
    "list_reduce(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]), (a, b) -> a + b)"

  /** One unrolled Lloyd iteration (assign → mean → re-list), reading
    * centroids `c{i-1}` and defining `a$i`/`m$i`/`c$i` — generated from
    * the same constants the Spark loop uses.
    */
  private def kmeansIterSql(i: Int): String =
    s"""a$i AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT ve.vec_id, ve.v, c.cell,
       |           row_number() OVER (PARTITION BY ve.vec_id
       |             ORDER BY round(list_reduce(list_transform(range(1, len(ve.v) + 1),
       |                      j -> (ve.v[j] - c.centroid[j]) * (ve.v[j] - c.centroid[j])), (a, b) -> a + b), 6), c.cell) AS rn
       |    FROM ve, c${i - 1} c
       |  ) WHERE rn = 1
       |),
       |m$i AS (
       |  SELECT cell, r.pos, round(avg(v[r.pos]), 6) AS c
       |  FROM a$i, UNNEST(range(1, len(v) + 1)) r(pos)
       |  GROUP BY cell, r.pos
       |),
       |c$i AS (SELECT cell, list(c ORDER BY pos) AS centroid FROM m$i GROUP BY cell)""".stripMargin

  val oracles: Map[String, String] = Map(
    "pq_codebooks" ->
      s"""$pqBaseSql,
         |cnt AS (SELECT m, code, CAST(count(*) AS BIGINT) AS n_members
         |        FROM enc GROUP BY 1, 2)
         |SELECT m, code, pos, c, coalesce(n_members, 0) AS n_members
         |FROM (
         |  SELECT f.m, f.code, CAST(r.pos - 1 AS BIGINT) AS pos,
         |         f.centroid[r.pos] AS c
         |  FROM pc$PqIters f, UNNEST(range(1, len(centroid) + 1)) r(pos)
         |) x LEFT JOIN cnt USING (m, code)
         |ORDER BY m, code, pos""".stripMargin,
    "pq_encode" ->
      s"""$pqBaseSql
         |SELECT vec_id, m, code, qerr FROM enc ORDER BY vec_id, m""".stripMargin,
    "pq_search" ->
      s"""$pqBaseSql,
         |q AS (SELECT vec_id AS query_id, m, sv AS qsv
         |      FROM sv WHERE vec_id < 20),
         |dt AS (
         |  SELECT q.query_id, c.m, c.code,
         |         CAST(floor(round(list_reduce(list_transform(range(1, len(q.qsv) + 1),
         |                j -> (q.qsv[j] - c.centroid[j]) * (q.qsv[j] - c.centroid[j])), (a, b) -> a + b), 6)
         |              * 1000000 + 0.5) AS BIGINT) AS dq_micro
         |  FROM q JOIN pc$PqIters c ON q.m = c.m
         |),
         |a AS (
         |  SELECT dt.query_id, e.vec_id,
         |         CAST(sum(dq_micro) AS BIGINT) AS adc_micro
         |  FROM enc e JOIN dt ON dt.m = e.m AND dt.code = e.code
         |  WHERE e.vec_id <> dt.query_id
         |  GROUP BY 1, 2
         |),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY adc_micro, vec_id) AS rank FROM a)
         |SELECT query_id, vec_id AS neighbor_id, adc_micro,
         |       CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "kmeans_centroids" -> {
      val iters = (1 to KmeansIters).map(kmeansIterSql).mkString(",\n")
      s"""WITH ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS centroid
         |  FROM ve WHERE vec_id < $KmeansCells
         |),
         |$iters,
         |cnt AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_members
         |        FROM a$KmeansIters GROUP BY cell)
         |SELECT cell, pos, c, n_members FROM (
         |  SELECT f.cell, CAST(r.pos - 1 AS BIGINT) AS pos, f.centroid[r.pos] AS c
         |  FROM c$KmeansIters f, UNNEST(range(1, len(centroid) + 1)) r(pos)
         |) x JOIN cnt USING (cell)
         |ORDER BY cell, pos""".stripMargin
    },
    "semdedup" -> {
      val iters = (1 to KmeansIters).map(kmeansIterSql).mkString(",\n")
      s"""WITH ve AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c0 AS (
         |  SELECT vec_id AS cell, list_transform(v, x -> round(x, 6)) AS centroid
         |  FROM ve WHERE vec_id < $KmeansCells
         |),
         |$iters,
         |n AS (
         |  SELECT vec_id, v, cell,
         |         sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
         |  FROM a$KmeansIters
         |),
         |p AS (
         |  SELECT a.vec_id, b.vec_id AS vec2,
         |         round(list_reduce(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
         |                 / (a.nrm * b.nrm), 6) AS cosine
         |  FROM n a JOIN n b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |),
         |d AS (
         |  SELECT vec_id, min(vec2) AS dup_of, arg_min(cosine, vec2) AS dup_cosine
         |  FROM p WHERE cosine >= 0.3 GROUP BY vec_id
         |)
         |SELECT n.vec_id, n.cell, d.dup_of IS NULL AS kept, d.dup_of, d.dup_cosine
         |FROM n LEFT JOIN d ON n.vec_id = d.vec_id
         |ORDER BY n.vec_id""".stripMargin
    },
    "embed_rp_sketch" -> {
      val cols = (0 until SketchDims)
        .map { i =>
          s"""round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |  list_transform(range(0, len(embedding)),
             |    j -> CAST(embedding[j + 1] AS DOUBLE) * (((${i + 1} * (j + 1)) % 11) - 5))),
             |  (a, b) -> a + b), 4) AS s$i""".stripMargin
        }
        .mkString(",\n")
      s"SELECT vec_id,\n$cols\nFROM embeddings ORDER BY vec_id"
    },
    "ann_topk" ->
      s"""$embSql
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |         round($dotSql / (q.nrm * c.nrm), 6) AS cosine,
         |         CAST(row_number() OVER (PARTITION BY q.vec_id
         |                ORDER BY round($dotSql / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS BIGINT) AS rank
         |  FROM en q JOIN en c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 20
         |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "ann_lsh_bucketed" -> annLshSqlAt(SignBits),
    "embed_near_dup" ->
      s"""$embSql
         |SELECT q.vec_id AS vec1, c.vec_id AS vec2,
         |       round($dotSql / (q.nrm * c.nrm), 6) AS cosine
         |FROM en q JOIN en c ON q.bucket = c.bucket AND q.vec_id < c.vec_id
         |WHERE round($dotSql / (q.nrm * c.nrm), 6) >= 0.3
         |ORDER BY vec1, vec2""".stripMargin,
    "ann_ivf" -> annIvfSqlAt(1),
    // nprobe=2 twin under the gate: queries probe their TWO nearest
    // cells (candidates stay in exactly their home cell)
    "ann_ivf_probed" -> annIvfSqlAt(2),
    // 12-bit twin under the gate: finer sign buckets
    "ann_lsh_wideband" -> annLshSqlAt(12),
    "embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |),
        |a AS (
        |  SELECT vec_id, v,
        |         list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
        |  FROM e
        |),
        |s AS (
        |  SELECT vec_id, v,
        |         CASE WHEN amax > 0 THEN floor(127.0 / amax * 1e6 + 0.5) / 1e6
        |              ELSE 0.0 END AS scale
        |  FROM a
        |),
        |q AS (
        |  SELECT vec_id, scale,
        |         list_transform(v, x ->
        |           greatest(CAST(-127 AS BIGINT),
        |                    least(CAST(127 AS BIGINT),
        |                          CAST(floor(x * scale + 0.5) AS BIGINT)))) AS qs
        |  FROM s
        |)
        |SELECT vec_id, CAST(len(qs) AS INT) AS n_dims, scale,
        |       CAST(list_reduce(qs, (a, b) -> a + b) AS BIGINT) AS q_sum,
        |       CAST(list_aggregate(qs, 'min') AS INT) AS q_min,
        |       CAST(list_aggregate(qs, 'max') AS INT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,
    "label_centroids" ->
      s"""$embSql
         |SELECT label, count(*) AS n_vectors, round(avg(nrm), 6) AS avg_norm
         |FROM en GROUP BY label ORDER BY label""".stripMargin
  )
}
