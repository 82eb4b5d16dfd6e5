package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash-groupBy), MinHash+LSH banding, n-gram Jaccard, SimHash,
  * the cross-corpus contamination check, and the composed cascade
  * verdict ([[dedupCascade]]).
  *
  * Scale-first design: every stage is a pure map or a single keyed
  * shuffle. MinHash follows the standard shingle → k min-hashes → band →
  * bucket-join pipeline (Broder '97; the LSH banding analysis in Mining of
  * Massive Datasets ch.3): candidate generation never compares all pairs —
  * the self-join is on (band_index, band_hash) buckets only, so cost is
  * proportional to bucket collisions, not |docs|². At 100 TB the bucket
  * join is the one shuffle; skewed buckets (boilerplate-heavy corpora)
  * would be salted or capped (`spark.sql.adaptive.skewJoin`).
  *
  * Portability note: the min-hash permutations are (aᵢ·h₀ + bᵢ) mod
  * 1e9+7 over a polynomial base hash h₀ (see
  * [[graft.functions.MinHashSigExpr]]) — exact int64 arithmetic that
  * DuckDB reproduces bit-identically, which makes the whole pipeline
  * oracle-checkable end to end.
  */
object DedupOps {

  /** MinHash size / banding — DEV-scale constants (and what the static
    * DuckDB oracles encode). Production corpora want k≈128, bands≈32
    * for recall at the 0.5 threshold: the LSH s-curve
    * P(candidate) = 1−(1−s^r)^b gives ~0.23 at s=0.5 with (b=4, r=4) but
    * ~0.87 with (b=32, r=4) — see [[lshCatchProbability]] and the
    * ScaleTechniqueSpec s-curve spec. The verification step makes
    * emitted pairs threshold-exact regardless of k, so the banding
    * trades shuffle volume for candidate recall only;
    * [[dedupMinhashWideband]] runs bands=8 under its own oracle.
    */
  private val NumHashes = 16
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands
  private[graft] val JaccardThreshold = 0.5

  /** Analytic LSH s-curve (MMDS ch.3): probability that a pair with true
    * Jaccard similarity `s` lands in the same bucket in at least one of
    * `bands` bands of `rows` signature rows.
    */
  def lshCatchProbability(s: Double, bands: Int, rows: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Skew guard: LSH buckets larger than this are dropped from pair
    * expansion. In-bucket pairing is O(|bucket|²) — a degenerate bucket
    * (empty documents, boilerplate, a hash pathologic) on a 100 TB
    * corpus would expand to billions of candidate rows and stall the
    * stage. A bucket this large is near-useless for dedup anyway (its
    * members collide on 1/4 of the signature, i.e. the corpus has a
    * boilerplate cluster that exact-dedup or length filters should have
    * removed). The cap is part of the operator's semantics and the
    * DuckDB oracles apply it identically.
    */
  private[graft] val MaxBucket = 256

  /** Upper-triangle (i < j) pair expansion over a sorted in-bucket
    * member list — THE idiom behind every bucketed candidate generator
    * here (MinHash bands, shingle postings, SimHash prefixes, the
    * recall truth set); `pair` builds each output struct from the
    * (i-th, j-th) members. One definition so a future pairing-semantics
    * change (e.g. a cap) cannot silently diverge across operators.
    */
  private[operators] def inBucketPairs(ds: Column)(
      pair: (Column, Column) => Column): Column =
    explode(flatten(transform(
      sequence(lit(1), size(ds) - 1),
      i =>
        transform(sequence(i + 1, size(ds)),
                  j => pair(element_at(ds, i), element_at(ds, j))))))

  /** MinHash signature frame (doc_id, sig) at an explicit k, persisted
    * per (dataset, k) — the single signature pass shared by
    * [[lshScoredPairs]] across every band setting at that k. The
    * signature pass (k hash mixes per shingle) is the expensive stage
    * of every LSH consumer, and recall_matrix sweeps band settings that
    * SHARE a k — three of its four minhash grid rows reuse the k=16
    * frame. At cluster scale this is the written signatures table
    * between dedup stages.
    */
  private[graft] def minhashSigFrame(spark: SparkSession, dir: String,
                                     k: Int): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, s"minhashSig k=$k") {
      shingled(spark, dir)
        .withColumn("sig",
                    graft.functions.TextExprs.minhashSignature(col("shingles"), k))
        .select(col("doc_id"), col("sig"))
    }

  /** Normalized text + word-3-gram shingle set (distinct) — native
    * expression ([[graft.functions.ShinglesExpr]]); see there for why not
    * built-in higher-order functions.
    *
    * Persisted once per dataset ([[FrameStore]]): every LSH-family
    * operator starts from this frame, and several consume it in two
    * subtrees of one plan (banding + verification join-back), so
    * uncached it was re-shingling the corpus up to 2× per query and
    * ~10× across the dedup suite (measured: dedup_minhash_lsh
    * 0.65→0.43 s, recall_matrix 3.1→1.5 s at sf0.1). At cluster scale
    * this is the written shingles/signatures intermediate table every
    * production dedup pipeline materializes between stages.
    */

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "shingled") {
      Tables
        .documents(spark, dir)
        .withColumn("shingles",
                    graft.functions.TextExprs.wordShingles(col("text"), 3))
    }

  /** Exact dedup: hash-groupBy on normalized content; emits the canonical
    * (min) doc_id per content hash plus the duplicate count. One shuffle
    * on the 128-bit hash — the standard exact-dedup pass at corpus scale.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .groupBy(md5(col("norm")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
           count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  /** MinHash signatures (k=16) per document — the per-doc map stage
    * (native one-pass expression, [[graft.functions.MinHashSigExpr]]).
    * The signature is emitted as one comma-joined string column (not an
    * array) so the result is scalar-only — the oracle gate's row sorter
    * can't order array cells.
    */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSigFrame(spark, dir, NumHashes)
      .select(col("doc_id"),
              concat_ws(",", transform(col("sig"), _.cast("string"))).as("sig"))
      .orderBy(col("doc_id"))

  /** MinHash + LSH banding near-dup pairs, verified with exact Jaccard
    * over the shingle sets. bands=4 × rows=4 over k=16.
    *
    * Shape: the signature pass (one base hash + 16 mixes per shingle)
    * runs ONCE; buckets come from a groupBy on (band,
    * band_hash) with in-bucket pair expansion — not a self-join, which
    * would re-execute the signature pipeline for both sides. Candidate
    * verification joins back to the (cheap) shingle sets only.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    // persisted per dataset (like the shingled frame): the verified
    // near-dup pair frame is consumed by FIVE declared paths —
    // dedup_minhash_lsh itself, dedup_cascade, dedup_verify_editdist,
    // lsh_recall, and the cluster-label pipeline — each of which would
    // otherwise re-run candidate generation + exact verification
    FrameStore.shared.getOrBuild(spark, dir, "lshPairs")(
      minhashLshPairs(spark, dir, NumHashes, Bands))

  /** [[dedupMinhashLsh]] at the wider banding (k=16, bands=8, rows=2 —
    * higher recall, more candidate shuffle) under its own oracle
    * ([[minhashLshSqlAt]] at the same banding), so the banding provably
    * cannot desync the engines. The signature frame is shared with the
    * default via [[minhashSigFrame]] (same k — the expensive pass runs
    * once).
    */
  def dedupMinhashWideband(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairs(spark, dir, NumHashes, 8)

  /** LSH candidate pairs scored with exact shingle overlap, BEFORE the
    * Jaccard threshold — the shared stage of [[minhashLshPairs]] (which
    * filters) and [[shingleContainment]] (which scores asymmetrically).
    */
  private def lshScoredPairs(spark: SparkSession, dir: String,
                             k: Int, nBands: Int): DataFrame =
    scoreCandidatePairs(spark, dir, lshCandidates(spark, dir, k, nBands))

  /** The UNSCORED LSH candidate pairs at (k, bands): bucket → sorted
    * member list → all in-bucket pairs (i < j); megabuckets dropped
    * (skew guard, see MaxBucket). Split out of [[lshScoredPairs]] so
    * consumers that only need a SLICE of the candidate set —
    * [[CalibrationOps.recallMatrix]]'s bounded-sample recall rows — can
    * filter before the exact-Jaccard verification join instead of
    * scoring the whole corpus's candidates and discarding 95+ % of the
    * work (don't compute things you throw away).
    */
  private[operators] def lshCandidates(spark: SparkSession, dir: String,
                                       k: Int, nBands: Int): DataFrame =
    lshBandsFrame(spark, dir, k, nBands)
      .groupBy(col("band"), col("band_hash"))
      .agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxBucket)
      .select(inBucketPairs(col("ds"))((a, b) =>
        struct(a.as("doc1"), b.as("doc2"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .distinct()

  /** The banded LSH key frame (doc_id, band, band_hash) at an explicit
    * (k, bands) — the shuffle key every bucketed candidate generator
    * groups on, and the frame the STREAMING ingest-dedup leg replays
    * (the offline-signature / online-bucket split, mirroring how the
    * CUSUM leg ships offline baselines to the online fold).
    */
  private[graft] def lshBandsFrame(spark: SparkSession, dir: String,
                                   k: Int, nBands: Int): DataFrame = {
    val rowsPerBand = k / nBands
    minhashSigFrame(spark, dir, k)
      .select(col("doc_id"),
              explode(sequence(lit(0), lit(nBands - 1))).as("band"),
              col("sig"))
      .withColumn(
        "band_hash",
        md5(concat_ws(
          "|",
          (0 until rowsPerBand).map(r =>
            element_at(col("sig"), col("band") * rowsPerBand + r + 1)
              .cast("string")): _*)))
      .select(col("doc_id"), col("band"), col("band_hash"))
  }

  /** [[lshBandsFrame]] at the dev constants (k=16, bands=4) that
    * [[minhashLshSql]] hardcodes.
    */
  private[graft] def defaultLshBands(spark: SparkSession,
                                     dir: String): DataFrame =
    lshBandsFrame(spark, dir, NumHashes, Bands)

  /** Exact-overlap verification of candidate pairs (doc1, doc2): the
    * shingle join-back + Jaccard scoring shared by every LSH-family
    * consumer, batch and streamed.
    */
  private[graft] def scoreCandidatePairs(spark: SparkSession, dir: String,
                                         candidates: DataFrame): DataFrame = {
    val sh = shingled(spark, dir).select(col("doc_id"), col("shingles"))
    candidates
      .join(sh.select(col("doc_id").as("doc1"), col("shingles").as("s1")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("shingles").as("s2")), "doc2")
      .select(
        col("doc1"), col("doc2"),
        size(array_intersect(col("s1"), col("s2"))).cast("long").as("n_common"),
        size(col("s1")).cast("long").as("s1_size"),
        size(col("s2")).cast("long").as("s2_size"))
      .withColumn(
        "jaccard",
        round(col("n_common").cast("double") /
                (col("s1_size") + col("s2_size") - col("n_common")),
              6))
  }

  /** [[dedupMinhashLsh]] at an EXPLICIT (k, bands) — the building block
    * [[CalibrationOps.recallMatrix]] sweeps across its grid:
    * [[lshScoredPairs]] thresholded to the published near-dup verdicts.
    */
  private[operators] def minhashLshPairs(spark: SparkSession, dir: String,
                                         k: Int, nBands: Int): DataFrame =
    lshScoredPairs(spark, dir, k, nBands)
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc1"), col("doc2"), col("n_common"), col("jaccard"))
      .orderBy(col("doc1"), col("doc2"))

  /** Verified near-dup pairs RESTRICTED to the recall sample — exactly
    * `minhashLshPairs(...).filter(doc1 < maxDoc && doc2 < maxDoc)` (the
    * doc-id filter commutes with the pair-local scoring), but with the
    * filter applied to the CANDIDATE set before the shingle join-back,
    * so the exact-Jaccard verification only scores in-sample pairs.
    * The bucket-size (MaxBucket) guard still sees the FULL corpus's
    * buckets inside [[lshCandidates]], which is what the recall oracle
    * states (project/filter before the expensive join).
    */
  private[operators] def minhashLshPairsSampled(
      spark: SparkSession, dir: String, k: Int, nBands: Int,
      maxDoc: Long): DataFrame =
    scoreCandidatePairs(
      spark, dir,
      lshCandidates(spark, dir, k, nBands)
        .filter(col("doc1") < maxDoc && col("doc2") < maxDoc))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc1"), col("doc2"), col("n_common"), col("jaccard"))

  /** Asymmetric shingle containment over the LSH candidate pairs:
    * c1 = |A∩B|/|A| and c2 = |A∩B|/|B| alongside the symmetric Jaccard.
    * Containment is the signal Jaccard structurally misses — a short
    * document fully embedded in a long one (a quote, an excerpt, a
    * mirrored fragment) has c_short ≈ 1 while Jaccard stays below any
    * dedup threshold; `containment_only` flags exactly those pairs
    * (max containment ≥ 0.8 in exact integer form, Jaccard below the
    * near-dup threshold). Candidate-limited by construction: MinHash
    * banding collides on SYMMETRIC similarity, so containment-only
    * recall is bounded by band luck — documented honestly; the full
    * one-sided answer at corpus scale is the fingerprint-join shape of
    * [[contaminationCheck]], which this complements for in-corpus
    * pairs. Same skew posture as every LSH consumer (bucketed
    * candidates, MaxBucket guard, AQE-splittable joins).
    */
  def shingleContainment(spark: SparkSession, dir: String): DataFrame =
    lshScoredPairs(spark, dir, NumHashes, Bands)
      .select(
        col("doc1"), col("doc2"), col("n_common"), col("s1_size"),
        col("s2_size"),
        round(col("n_common").cast("double") / col("s1_size"), 6)
          .as("containment1"),
        round(col("n_common").cast("double") / col("s2_size"), 6)
          .as("containment2"),
        col("jaccard"),
        (((lit(5L) * col("n_common") >= lit(4L) * col("s1_size")) ||
          (lit(5L) * col("n_common") >= lit(4L) * col("s2_size"))) &&
          (lit(3L) * col("n_common") < col("s1_size") + col("s2_size")))
          .as("containment_only"))
      .orderBy(col("doc1"), col("doc2"))

  /** Exact n-gram Jaccard within a blocking key (same source), computed
    * the shuffle-native way: explode distinct shingles, join on (source,
    * shingle), count matches per pair — intersection size as a single
    * keyed aggregation instead of per-pair array intersections (which
    * at 100 TB would mean quadratic array traffic per block; this shape
    * is one shuffle on the shingle key + one on the pair key).
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // reads the persisted shingle frame; with_size pairs each shingle
    // with the set size in one pass so the explode + size references
    // don't each re-traverse the array
    val ex = shingled(spark, dir)
      .select(col("source"), col("doc_id"),
              explode(graft.functions.TextExprs.withSize(col("shingles")))
                .as("p"))
      .select(col("source"), col("doc_id"), col("p.x").as("shingle"),
              col("p.n").as("n_sh"))
    // in-bucket pair expansion (the LSH-bucket trick): ONE posting
    // shuffle and one shingle pass — the equivalent self-join re-runs
    // the shingling for its second side and shuffles every posting
    // twice. Positional i<j pairs over the doc-sorted member list plus
    // the doc1<doc2 value filter reproduce the join's multiplicity
    // semantics exactly (duplicate in-doc shingles pair across docs,
    // never within one).
    val pairs = ex
      .groupBy(col("source"), col("shingle"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(
        col("source"),
        inBucketPairs(col("ds"))((a, b) =>
          struct(a.getField("doc_id").as("doc1"),
                 a.getField("n_sh").as("n1"),
                 b.getField("doc_id").as("doc2"),
                 b.getField("n_sh").as("n2"))).as("p"))
      .select(col("source"), col("p.doc1").as("doc1"), col("p.n1").as("n1"),
              col("p.doc2").as("doc2"), col("p.n2").as("n2"))
      .filter(col("doc1") < col("doc2"))
      .groupBy(col("source"), col("doc1"), col("doc2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .select(
        col("source"), col("doc1"), col("doc2"), col("n_common"),
        round(col("n_common").cast("double") /
                (col("n1") + col("n2") - col("n_common")),
              6).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
      .orderBy(col("source"), col("doc1"), col("doc2"))
  }

  /** Jaccard threshold for [[ssjoinPrefix]] — high enough that the
    * prefix keeps ~40 % of each set, low enough that the synthetic
    * corpus has real matches (28 pairs at sf0.001).
    */
  private[operators] val SsjoinThreshold = 0.6

  /** The MEASURED corpus-size gate for [[ssjoinPrefix]]'s verification
    * join, its only consumer: one cheap single-column sum(n_chars) probe
    * of the corpus (the shingle frame's size is ~linear in chars)
    * decides; under `graft.ssjoin.broadcastMaxChars` (default 5×10⁷ ≈ a
    * 100-200 MB broadcast) the broadcast applies, above it the join
    * stays shuffle-shaped. AQE-style runtime statistics, paid once per
    * call — unlike a static hint, the decision REVERSES itself at scale.
    */
  private def ssjoinBroadcastCorpus(spark: SparkSession,
                                    dir: String): Boolean = {
    val maxChars = spark.conf
      .get("graft.ssjoin.broadcastMaxChars", "50000000").toLong
    val totalChars = Tables.documents(spark, dir)
      .agg(coalesce(sum(col("n_chars")), lit(0L))).head().getLong(0)
    totalChars <= maxChars
  }

  /** Candidate pairs for [[ssjoinPrefix]] via PREFIX FILTERING
    * (SSJoin, Chaudhuri et al. ICDE'06; AllPairs, Bayardo et al.
    * WWW'07) — the EXACT-join complement to MinHash LSH: instead of
    * probabilistic bucketing, each document indexes only its
    * `|x| − ⌈t·|x|⌉ + 1` rarest shingles under a global
    * (document-frequency, shingle) total order. Any pair with
    * J ≥ t has overlap ≥ ⌈t·|x|⌉ against BOTH sets (J ≤ min/max, so
    * the bound holds for the larger set too), and by the prefix lemma
    * the first common token in the global order must land inside both
    * prefixes — candidates are GUARANTEED complete, no recall curve to
    * tune. Rarest-first ordering makes the surviving postings the
    * longest-tail shingles, so bucket sizes (and the O(|bucket|²)
    * expansion) collapse vs full-posting pairing; the AllPairs length
    * filter `min ≥ ⌈t·max⌉` prunes size-incompatible pairs before any
    * verification.
    *
    * Shape: one posting shuffle for df, one join-back, one
    * groupBy(doc) to sort-and-slice each prefix (array ops, no
    * window), one groupBy(shingle) for in-bucket expansion. NO
    * [[MaxBucket]] cap here — the cap would forfeit the completeness
    * guarantee that lets the oracle be the exact truth. The skew bound
    * is structural instead: a prefix bucket for shingle g holds only
    * docs whose RAREST ⌈0.4·n⌉ shingles include g, so bucket size ≤
    * df(g) and hot (boilerplate) shingles never enter the index unless
    * a doc consists almost entirely of hot shingles — the corpus state
    * `dedup_exact`/`strip_dup_spans` exist to clean up upstream.
    */
  private[graft] def ssjoinPrefixCandidates(spark: SparkSession,
                                            dir: String): DataFrame = {
    val t = SsjoinThreshold
    val posts = shingled(spark, dir)
      .select(col("doc_id"),
              explode(graft.functions.TextExprs.withSize(col("shingles")))
                .as("p"))
      .select(col("doc_id"), col("p.x").as("shingle"), col("p.n").as("n_sh"))
    // document frequency as a WINDOW count over the posting frame, not
    // groupBy + join-back: the join-back form evaluates `posts` (the
    // corpus-wide shingle explode) twice (aggregate build + join probe)
    // and sends the postings through two shuffles; the window form
    // explodes once and shuffles once, keyed on the same shingle (the
    // docLogprobBigram c2 idiom). df values are identical: shingle sets
    // are distinct per doc, so the per-shingle posting count IS the
    // document frequency either way.
    //
    // Measured and rejected: a gated-broadcast df side (groupBy(shingle)
    // agg + broadcast hash join under the measured corpus gate, so
    // postings skip the shingle sort+exchange) ran same-box min-of-5 at
    // 1.570 s vs the window form's 1.259 s — the second corpus explode
    // (the aggregate's own pass) plus the broadcast build's driver
    // round-trip cost more than the one posting shuffle they removed.
    posts
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ord"))
      // posexplode: the PREFIX POSITION of each indexed shingle rides
      // along for the PPJoin positional bound below
      .select(col("doc_id"), col("n_sh"),
              posexplode(slice(col("ord"), lit(1),
                               (col("n_sh") - ceil(col("n_sh") * lit(t)) + 1)
                                 .cast("int"))).as(Seq("pos", "q")))
      .select(col("q.shingle").as("shingle"), col("doc_id"), col("n_sh"),
              col("pos"))
      .groupBy(col("shingle"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n_sh"),
                                          col("pos")))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(inBucketPairs(col("ds"))((a, b) =>
        struct(a.getField("doc_id").as("doc1"), a.getField("n_sh").as("n1"),
               a.getField("pos").as("p1"),
               b.getField("doc_id").as("doc2"), b.getField("n_sh").as("n2"),
               b.getField("pos").as("p2")))
        .as("p"))
      .select(col("p.doc1").as("doc1"), col("p.n1").as("n1"),
              col("p.p1").as("p1"),
              col("p.doc2").as("doc2"), col("p.n2").as("n2"),
              col("p.p2").as("p2"))
      // both filters run BEFORE the distinct so pruned pairs never enter
      // the dedup shuffle. (1) AllPairs length filter; (2) PPJoin
      // positional bound (Xiao et al. WWW'08): J ≥ t needs overlap
      // α = ⌈t/(1+t)·(n1+n2)⌉, and a pair first meeting at prefix
      // positions (p1, p2) can overlap at most 1 + min(n1−p1−1, n2−p2−1);
      // keeping the pair if ANY shared prefix token passes is a superset
      // of "the FIRST shared token passes", so completeness holds.
      // the factor is written as the literal 0.375 (= t/(1+t) for t=0.6),
      // which IS binary-exact — computing 0.6/1.6 in doubles lands one ulp
      // low, which would still be conservative but belie this comment.
      .filter(least(col("n1"), col("n2")) >=
        ceil(greatest(col("n1"), col("n2")) * lit(t)))
      .filter(lit(1) + least(col("n1") - col("p1") - 1,
                             col("n2") - col("p2") - 1) >=
        ceil((col("n1") + col("n2")).cast("double") * lit(0.375)))
      .select(col("doc1"), col("n1"), col("doc2"), col("n2"))
      .distinct()
  }

  /** Candidate-generation telemetry for [[ssjoinPrefix]] — SCALING.md's
    * standing watch item (worst 10× time ratio of the probe set): one
    * row of (corpus docs, candidate pairs, candidates per doc), so the
    * next scale step can tell CANDIDATE growth (prefix filtering
    * admitting more pairs as the corpus grows — an algorithmic property)
    * from execution slowdown (shuffle/verify cost on the same candidate
    * set — an engine property). ScalingProbe prints this at both scales
    * next to the time ratio.
    */
  private[graft] def ssjoinCandidateStats(spark: SparkSession,
                                          dir: String): DataFrame = {
    val nDocs = shingled(spark, dir).count()
    ssjoinPrefixCandidates(spark, dir)
      .agg(count(lit(1)).as("n_candidates"))
      .select(
        lit(nDocs).as("n_docs"),
        col("n_candidates"),
        round(col("n_candidates").cast("double") /
                math.max(nDocs, 1L).toDouble, 4)
          .as("candidates_per_doc"))
  }

  /** Exact set-similarity self-join at J ≥ [[SsjoinThreshold]]:
    * [[ssjoinPrefixCandidates]] then exact verification — candidates
    * join back to the persisted shingle frame (twice, by doc id) and
    * `array_intersect` computes the true overlap, doc-pair-local like
    * [[dedupVerifyEditdist]]'s precision pass. Because prefix filtering
    * is complete, the oracle is the full exact truth (corpus-wide
    * all-pairs in DuckDB) — a hash match PROVES no pair was lost to
    * candidate generation, which no LSH query here can claim.
    */
  def ssjoinPrefix(spark: SparkSession, dir: String): DataFrame = {
    val t = SsjoinThreshold
    // verification joins back to the corpus shingle frame: the corpus
    // side grows with the dataset (terabytes at full scale), so an
    // UNCONDITIONAL broadcast hint would be a guaranteed OOM there —
    // hints win over AQE. [[ssjoinBroadcastCorpus]] MEASURES instead:
    // under its bound the hint applies, above it the join stays plain
    // and shuffles on doc_id with the post-prefilter candidate frame as
    // the small side. (Plain-join-under-AQE alone is not enough:
    // sessions with AQE off — and any engine relying on estimated
    // instead of observed sizes — would shuffle a dev-scale corpus for
    // no reason.)
    val shBase = shingled(spark, dir).select(col("doc_id"), col("shingles"))
    val sh = if (ssjoinBroadcastCorpus(spark, dir)) broadcast(shBase)
             else shBase
    ssjoinPrefixCandidates(spark, dir)
      .join(sh.as("sa"), col("doc1") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc2") === col("sb.doc_id"))
      .select(col("doc1"), col("doc2"), col("n1"), col("n2"),
              size(array_intersect(col("sa.shingles"), col("sb.shingles")))
                .cast("long").as("n_common"))
      .filter(col("n_common").cast("double") /
        (col("n1") + col("n2") - col("n_common")) >= t)
      .select(col("doc1"), col("doc2"), col("n_common"),
              round(col("n_common").cast("double") /
                      (col("n1") + col("n2") - col("n_common")),
                    6).as("jaccard"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** 64-bit SimHash per document from md5-derived token-hash bits with
    * term-frequency weights (Charikar, STOC '02). Pure per-row array math
    * — an elementwise integer fold over the token list, no shuffle until
    * the presentation sort; integer votes make the result
    * accumulation-order independent (exact at any parallelism).
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame =
    simhashFrame(spark, dir)
      .select(col("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup pairs via banded Hamming search: the 64-bit
    * signature splits into 4×16-bit bands; by pigeonhole, any pair with
    * Hamming distance ≤ 3 shares at least one exact band, so bucketing on
    * (band, 4-hex-char prefix) finds all such pairs without an all-pairs
    * scan (Manku et al., WWW '07). Hamming distance is recomputed
    * exactly on candidates via per-nibble XOR popcounts.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    // signatures ride the bucket shuffle as (doc_id, simhash) structs,
    // so in-bucket pair expansion yields both operands directly — no
    // join back to a signature table, and the simhash pipeline runs
    // exactly ONCE over the corpus (it previously re-ran per join side:
    // three corpus scans and two shuffles more than this shape)
    val bands = simhashFrame(spark, dir)
      .select(col("doc_id"),
              explode(sequence(lit(0), lit(3))).as("band"),
              col("simhash"))
      .withColumn("prefix", substr(col("simhash"), col("band") * 4 + 1, lit(4)))
    bands
      .groupBy(col("band"), col("prefix"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash"))))
        .as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxBucket)
      .select(inBucketPairs(col("ds"))((a, b) =>
        struct(a.getField("doc_id").as("doc1"),
               b.getField("doc_id").as("doc2"),
               a.getField("simhash").as("h1"),
               b.getField("simhash").as("h2"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"),
              graft.functions.TextExprs.hammingHex(col("p.h1"), col("p.h2"))
                .as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc1"), col("doc2"))
  }

  /** Shared simhash computation (doc_id, simhash), no presentation sort —
    * native one-pass expression ([[graft.functions.SimHashExpr]]).
    */
  private def simhashFrame(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .withColumn("simhash", graft.functions.TextExprs.simhash64(col("text")))

  /** Benchmark-contamination check: training documents (source ≠ src0)
    * sharing ≥ 20 winnowing fingerprints with any document of the held-out
    * eval set (src0) — the cross-corpus overlap scan run before training
    * to catch test-set leakage (same guarantee as [[TextOps.textWinnow]]:
    * any shared substring of ≥ 11 chars yields a shared fingerprint).
    *
    * Scale shape: ONE fingerprint pass over the corpus, split into the
    * two sets; "stop-fingerprints" occurring in more than 100 documents
    * (boilerplate) are dropped before the join — the fingerprint analog
    * of the LSH megabucket guard, without which a ubiquitous header line
    * would cross-join the corpora.
    */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    // single winnow pass; each fingerprint becomes a bucket of (doc,
    // source) members — the stop-fingerprint cap and the eval×train
    // pair expansion both happen in-bucket (the LSH-bucket trick), so
    // no join back to a second fingerprint scan. Within a bucket every
    // (train, eval) pair appears at most once, so the per-pair count IS
    // the distinct shared-fingerprint count.
    val buckets = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"),
              explode(graft.functions.TextExprs.withSize(
                graft.functions.TextExprs.winnowFingerprints(col("text"), 8, 4)))
                .as("p"))
      .groupBy(col("p.x").as("fp"))
      .agg(collect_list(struct(col("doc_id"), col("source"))).as("ds"))
      .filter(size(col("ds")) <= 100)
      .withColumn("evs", filter(col("ds"), s => s.getField("source") === "src0"))
      .withColumn("trs", filter(col("ds"), s => s.getField("source") =!= "src0"))
      .filter(size(col("evs")) > 0 && size(col("trs")) > 0)
    buckets
      .select(explode(flatten(transform(
        col("evs"),
        e =>
          transform(col("trs"),
                    t =>
                      struct(t.getField("doc_id").as("train_doc"),
                             e.getField("doc_id").as("eval_doc")))))).as("pair"))
      .groupBy(col("pair.train_doc").as("train_doc"),
               col("pair.eval_doc").as("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 20)
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** The full dedup cascade — exact → MinHash-LSH near-dup → SimHash
    * near-dup — as one pipeline emitting every document's verdict with
    * first-dropping-stage attribution: the production output of a corpus
    * dedup pass ("which documents survive, and why"). Pair policy per
    * near-dup stage: the minimum doc_id of each pair survives the pair
    * (drop the larger member unconditionally) — the standard greedy rule
    * that is deterministic and engine-portable without transitive
    * closure (full clustering would be connected components, an
    * iterative graph pass out of scope by design, SURVEY §1.1).
    * Each underlying stage is the already-oracle-checked operator above;
    * this query composes their outputs in one plan.
    */
  def dedupCascade(spark: SparkSession, dir: String): DataFrame =
    cascadeVerdict(spark, dir).orderBy(col("doc_id"))

  /** Survivor ids of the full dedup cascade — the doc set every
    * downstream curation stage starts from ([[PipelineOps]]'
    * `curation_manifest` consumes this against the same persisted
    * verdict frame the cascade queries share).
    */
  private[operators] def cascadeKept(spark: SparkSession,
                                     dir: String): DataFrame =
    cascadeVerdict(spark, dir).filter(col("kept")).select(col("doc_id"))

  /** Per-dataset persisted verdict frame (doc_id, kept, reason) — three
    * rows wide, so cheap to cache; shared by [[dedupCascade]],
    * [[cascadeSavings]] and [[qualityByVerdict]] so the embedded LSH +
    * SimHash pipelines run once per dataset, not once per consumer (at
    * cluster scale this is the written verdict table every downstream
    * stage joins against).
    */
  private def cascadeVerdict(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "cascadeVerdict") {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val exactDrop = dedupExact(spark, dir)
      .filter(col("n_copies") > 1)
      // non-canonical members drop; re-derive them by joining back
    val exactMembers = Tables
      .documents(spark, dir)
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .select(col("doc_id"), md5(col("norm")).as("content_hash"))
      .join(exactDrop.select(col("content_hash"), col("canonical_doc_id")),
            "content_hash")
      .filter(col("doc_id") =!= col("canonical_doc_id"))
      .select(col("doc_id"), lit("exact_duplicate").as("r1"))
    val minhashDrop = dedupMinhashLsh(spark, dir)
      .select(col("doc2").as("doc_id"))
      .distinct()
      .withColumn("r2", lit("minhash_near_dup"))
    val simhashDrop = simhashPairs(spark, dir)
      .select(col("doc2").as("doc_id"))
      .distinct()
      .withColumn("r3", lit("simhash_near_dup"))
    docs
      .join(exactMembers, Seq("doc_id"), "left")
      .join(minhashDrop, Seq("doc_id"), "left")
      .join(simhashDrop, Seq("doc_id"), "left")
      .withColumn("reason",
                  coalesce(col("r1"), col("r2"), col("r3"), lit("kept")))
      .withColumn("kept", col("reason") === "kept")
      .select(col("doc_id"), col("kept"), col("reason"))
  }

  // ---- DuckDB oracles ----------------------------------------------------

  /** Connected-component label CTEs (edges→reach→lab→sz) over a `pairs`
    * CTE the caller defines — ONE definition of the cluster labeling,
    * shared by the `dedup_clusters` and `cluster_representatives`
    * oracles.
    */
  private val clusterLabelSql: String =
    """edges AS (
      |  SELECT doc1 AS a, doc2 AS b FROM pairs
      |  UNION ALL SELECT doc2, doc1 FROM pairs
      |),
      |reach(doc_id, m) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.doc_id, e.b FROM reach r JOIN edges e ON e.a = r.m
      |),
      |lab AS (SELECT doc_id, min(m) AS cluster_id FROM reach GROUP BY doc_id),
      |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)""".stripMargin

  private[operators] val shingleSql =
    """WITH n AS (SELECT doc_id, source, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
      |tok AS (SELECT doc_id, source, norm, string_split(norm, ' ') AS tokens FROM n),
      |sh AS (
      |  SELECT doc_id, source,
      |         CASE WHEN len(tokens) >= 3
      |              THEN list_distinct(list_transform(range(1, len(tokens) - 1),
      |                     i -> tokens[i] || ' ' || tokens[i + 1] || ' ' || tokens[i + 2]))
      |              ELSE [norm] END AS shingles
      |  FROM tok
      |)""".stripMargin

  /** Oracle mirror of [[graft.functions.MinHashSigExpr]]: base hash is a
    * per-character (a·257 + code) mod 1e9+7 fold (list_reduce with a
    * prepended 0 accumulator), permutations are (aᵢ·h₀ + bᵢ) mod M in
    * exact BIGINT arithmetic.
    */
  private[operators] def sigSql(k: Int, suffix: String = ""): String =
    s"""hs$suffix AS (
       |  SELECT doc_id, shingles,
       |         list_transform(shingles, s ->
       |           list_reduce(
       |             list_prepend(CAST(0 AS BIGINT),
       |               list_transform(range(1, len(s) + 1),
       |                 j -> CAST(ascii(substr(s, CAST(j AS INT), 1)) AS BIGINT))),
       |             (a, c) -> (a * 257 + c) % 1000000007)) AS hs
       |  FROM sh
       |),
       |sig$suffix AS (
       |  SELECT doc_id, shingles,
       |         list_transform(range(0, $k),
       |           i -> list_aggregate(
       |                  list_transform(hs,
       |                    h0 -> ((2654435761 * (i + 1)) % 1000000007 * h0
       |                           + (22695477 * (i + 1)) % 1000000007) % 1000000007),
       |                  'min')) AS sig
       |  FROM hs$suffix
       |)""".stripMargin

  /** [[minhashLshSql]] at an explicit (k, bands) — generated from the
    * same constants [[lshScoredPairs]] uses, so the wider banding
    * (`dedup_minhash_wideband`) shares one SQL builder with the default.
    */
  private def minhashLshSqlAt(k: Int, nBands: Int): String = {
    val r = k / nBands
    val bandConcat = (1 to r)
      .map(i => s"CAST(sig[$r * b + $i] AS VARCHAR)")
      .mkString(" || '|' || ")
    val bandList = (0 until nBands).mkString(", ")
    s"""$shingleSql, ${sigSql(k)},
       |bands AS (
       |  SELECT doc_id, shingles, b,
       |         md5($bandConcat) AS band_hash
       |  FROM sig, UNNEST([$bandList]) t(b)
       |),
         |bsz AS (SELECT b, band_hash, count(*) AS n FROM bands GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM bands a
         |  JOIN bands b ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |  JOIN bsz ON bsz.b = a.b AND bsz.band_hash = a.band_hash
         |  WHERE bsz.n <= $MaxBucket
         |),
         |scored AS (
         |  SELECT doc1, doc2,
         |         CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT) AS n_common,
         |         CAST(len(x.shingles) AS BIGINT) AS s1_size,
         |         CAST(len(y.shingles) AS BIGINT) AS s2_size,
         |         round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         |               / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))), 6) AS jaccard
         |  FROM cand JOIN sh x ON cand.doc1 = x.doc_id JOIN sh y ON cand.doc2 = y.doc_id
         |)
       |SELECT doc1, doc2, n_common, jaccard FROM scored WHERE jaccard >= $JaccardThreshold ORDER BY doc1, doc2""".stripMargin
  }

  private lazy val minhashLshSql: String = minhashLshSqlAt(NumHashes, Bands)

  /** [[minhashLshSql]] with the containment projection instead of the
    * Jaccard threshold — shares every CTE up through `scored`.
    */
  private lazy val containmentSql: String = {
    val upToScored =
      minhashLshSql.substring(0, minhashLshSql.lastIndexOf("SELECT doc1"))
    upToScored +
      """SELECT doc1, doc2, n_common, s1_size, s2_size,
        |       round(CAST(n_common AS DOUBLE) / s1_size, 6) AS containment1,
        |       round(CAST(n_common AS DOUBLE) / s2_size, 6) AS containment2,
        |       jaccard,
        |       ((5 * n_common >= 4 * s1_size OR 5 * n_common >= 4 * s2_size)
        |         AND 3 * n_common < s1_size + s2_size) AS containment_only
        |FROM scored ORDER BY doc1, doc2""".stripMargin
  }

  /** Near-duplicate CLUSTERS: connected components over the verified
    * MinHash-LSH pair graph ([[dedupMinhashLsh]]), labelling every
    * document with the minimum doc_id reachable through near-dup edges —
    * the grouping a dedup pipeline needs to keep exactly one
    * representative per duplicate family (pairs alone can't: A~B, B~C
    * must collapse to ONE cluster even when A~C was never emitted).
    *
    * Algorithm: alternating large-star / small-star pointer-jumping
    * [Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC '14] — large-star hangs every larger neighbor of a node off
    * that node's minimum neighbor, small-star re-hangs the smaller ones;
    * alternating rounds contract every component to a star rooted at its
    * minimum id in O(log n) rounds EVEN ON ADVERSARIAL GRAPHS (a pure
    * min-label propagation needs O(diameter) rounds, which a path-shaped
    * component makes linear). Each half-round is ONE groupBy + ONE join
    * keyed on doc ids; every frame is persisted MEMORY_AND_DISK and the
    * convergence check (edge count + order-free hash-sum, fixpoint when
    * both stabilize) is a cheap scalar action per round.
    *
    * ADAPTIVE execution (the AQE-broadcast decision, made explicit):
    * verified near-dup pairs are orders of magnitude rarer than
    * documents, so when the pair set fits comfortably on the driver
    * (≤ [[DriverUnionFindMaxPairs]]) the components are union-found
    * locally in O(pairs·α) and the label map rides a broadcast join —
    * no iterative jobs at all. Past the threshold the distributed
    * min-label loop runs unchanged. Both paths are bit-identical
    * (asserted in SearchFunnelSpec) and hit the same oracle.
    */
  /** The cascade verdicts rolled up per (source, reason) with the
    * character volume each stage saves — the budget report a dedup
    * pipeline run actually publishes (what fraction of each source
    * survives, and where the rest went). One join to the (doc_id,
    * source, n_chars) projection + one aggregation over ≤ 4·sources
    * groups.
    */
  def cascadeSavings(spark: SparkSession, dir: String): DataFrame =
    cascadeVerdict(spark, dir)
      .join(Tables.documents(spark, dir)
              .select(col("doc_id"), col("source"), col("n_chars")),
            "doc_id")
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("source"), col("reason"))

  /** Quality-score distribution per cascade verdict — the calibration
    * report that tells a pipeline whether its dedup stages are dropping
    * low-quality boilerplate (healthy) or eating unique high-quality
    * text (a bug). The average is computed in exact integer micro-units
    * (floor(q·10⁶ + 0.5), summed as BIGINT) so it is independent of
    * partition summation order — a plain fp `avg` over a 100 TB group
    * is nondeterministic in the last ulp and would flap the oracle
    * hash. One join to the pure-map quality frame + an aggregation
    * over ≤ 4 verdict groups (low-cardinality groupBy: partial
    * aggregation absorbs everything map-side).
    */
  def qualityByVerdict(spark: SparkSession, dir: String): DataFrame =
    cascadeVerdict(spark, dir)
      .join(TextOps.textQuality(spark, dir)
              .select(col("doc_id"), col("quality_score")),
            "doc_id")
      .groupBy(col("reason"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(floor(col("quality_score") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("sq"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"))
      .select(col("reason"), col("n_docs"),
              round(col("sq").cast("double") / col("n_docs") / lit(1000000.0), 6)
                .as("avg_quality"),
              col("min_quality"), col("max_quality"))
      .orderBy(col("reason"))

  /** Per-dataset persisted cluster-label frame: THREE queries
    * consume the full LSH → union-find/star-contraction pipeline
    * (`dedup_clusters`, `cluster_representatives`, `golden_records`),
    * and each call of [[dedupClustersImpl]] does EAGER work (pair
    * count + label derivation) — so without sharing, the whole
    * clustering ran once per consumer per bench run. Same idiom as
    * [[cascadeVerdict]]: at cluster scale this is the written
    * cluster-assignment table every downstream stage joins.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "dedupClusters")(
      dedupClustersImpl(spark, dir, DriverUnionFindMaxPairs))

  /** Canonical-document selection per near-dup cluster — the decision
    * stage after [[dedupClusters]]: a dedup pipeline keeps ONE document
    * per duplicate family, and min-id (the cluster label) is the naive
    * choice; production pipelines keep the BEST one. Representative =
    * highest [[TextOps.textQuality]] `quality_score`, ties to the
    * lowest doc_id, with the token accounting (`tokens_dropped`) a
    * training-data budget wants. Only multi-member clusters emit a row
    * (singletons have nothing to decide).
    *
    * Scale shape: the argmax is a `max(struct(quality, −doc_id,
    * n_tokens))` AGGREGATE — partial-combinable, so a boilerplate
    * mega-cluster reduces map-side instead of materializing one window
    * partition (the same skew reasoning as dup_span_fraction's count).
    */
  def clusterRepresentatives(spark: SparkSession, dir: String): DataFrame = {
    val members = dedupClusters(spark, dir)
      .filter(col("cluster_size") >= 2)
      .select(col("doc_id"), col("cluster_id"))
    val quality = TextOps
      .textQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
    members
      .join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("quality_score").as("q"),
                   (-col("doc_id")).as("neg_id"),
                   col("n_tokens").as("rep_tokens"))).as("m"),
        count(lit(1)).as("n_members"),
        sum(col("n_tokens")).as("tokens_total"))
      .select(
        col("cluster_id"),
        (-col("m.neg_id")).as("rep_doc_id"),
        col("m.q").as("rep_quality"),
        col("n_members"),
        col("tokens_total"),
        (col("tokens_total") - col("m.rep_tokens")).as("tokens_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** Golden-record SURVIVORSHIP per near-dup cluster — the MDM merge
    * step after clustering: where [[clusterRepresentatives]] keeps one
    * whole document, this FUSES fields across the family (the classic
    * entity-resolution survivorship rules): canonical id = min member,
    * longest_doc = the most complete text (argmax chars, ties to the
    * lowest id — the same skew-immune `max(struct)` aggregate argmax,
    * no window), plus the family's total chars and language/source
    * spread (a cross-source family is the mirror-site signature).
    * Multi-member clusters only. One join of the cluster labels to the
    * doc metadata and one aggregation.
    */
  def goldenRecords(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .filter(col("cluster_size") >= 2)
      .select(col("doc_id"), col("cluster_id"))
      .join(Tables.documents(spark, dir)
              .select(col("doc_id"), col("lang"), col("source"),
                      col("n_chars")),
            "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
           min(col("doc_id")).as("canonical_id"),
           max(struct(col("n_chars").as("c"),
                      (-col("doc_id")).as("negid"))).as("m"),
           sum(col("n_chars")).as("total_chars"),
           count_distinct(col("lang")).as("n_langs"),
           count_distinct(col("source")).as("n_sources"))
      .select(col("cluster_id"), col("n_members"), col("canonical_id"),
              (-col("m.negid")).as("longest_doc_id"),
              col("m.c").as("longest_chars"),
              col("total_chars"), col("n_langs"), col("n_sources"))
      .orderBy(col("cluster_id"))

  /** Pair-count ceiling for the driver union-find fast path. Pairs are
    * streamed with `toLocalIterator` (one partition resident at a time),
    * so driver heap at the threshold is the union-find map itself —
    * ≤ 2·2²¹ LongMap entries ≈ 100 MB worst case — plus one partition of
    * tuples, far below a sane driver budget.
    */
  private val DriverUnionFindMaxPairs = 1L << 21

  private val MaxPinnedSessions = 8

  /** Converged labels frames pinned per session (the returned lazy
    * result references them); a repeat call on the same session
    * unpersists and replaces its previous frame, and an access-ordered
    * LRU cap bounds the total at [[MaxPinnedSessions]] frames across
    * any session churn (evicted frames are unpersisted). STRONG
    * references throughout: a weak-keyed map cannot work here (the
    * DataFrame value strongly references its SparkSession key, so
    * entries never evict) and a weak-valued one loses the ability to
    * unpersist — Dataset.persist registers in the shared CacheManager,
    * which holds cached plans until an explicit unpersist, so the frame
    * must stay reachable. Synchronize on the map itself for all access.
    */
  private val lastLabels =
    new java.util.LinkedHashMap[SparkSession, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, DataFrame]): Boolean =
        if (size() > MaxPinnedSessions) {
          e.getValue.unpersist(blocking = false); true
        } else false
    }

  private[graft] def dedupClustersImpl(spark: SparkSession,
                                       dir: String,
                                       driverMaxPairs: Long): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val pairs = dedupMinhashLsh(spark, dir)
      .select(col("doc1"), col("doc2"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairs.count()
    if (nPairs <= driverMaxPairs) {
      // driver union-find (union-by-min + path compression): component
      // label = min doc_id — exactly the propagation loop's fixpoint
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      // stream pairs to the driver one partition at a time — a bulk
      // collect() would materialize boxed Rows for the whole pair set
      val it = pairs.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        val ra = find(row.getLong(0))
        val rb = find(row.getLong(1))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      pairs.unpersist(blocking = false)
      val labelRows = parent.keys.toArray.sorted.map(d => (d, find(d))).toSeq
      val session = spark
      import session.implicits._
      val mapping = broadcast(labelRows.toDF("d", "label"))
      val all = Tables
        .documents(spark, dir)
        .select(col("doc_id"))
        .join(mapping, col("doc_id") === col("d"), "left")
        .select(col("doc_id"),
                coalesce(col("label"), col("doc_id")).as("label"))
      return clustersFromLabels(all)
    }
    val (labels, _) = starContractLabels(pairs)
    pairs.unpersist(blocking = false)
    // the converged labels frame must stay persisted while the returned
    // lazy result references it; bound the pinned storage at one frame
    // per live session by evicting this session's previous one
    lastLabels.synchronized {
      Option(lastLabels.put(spark, labels)).foreach(_.unpersist(blocking = false))
    }
    // singletons: label = own id (left join keeps the doc scan streaming)
    val all = Tables
      .documents(spark, dir)
      .select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "d"),
            col("doc_id") === col("d"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("label"))
    clustersFromLabels(all)
  }

  /** Alternating large-star / small-star contraction [Kiveris et al.,
    * SoCC '14] over a (doc1, doc2) pair frame → the component labels of
    * every edge endpoint (label = component-min doc id), plus the round
    * count. O(log n) rounds on any graph shape — a 2ᵏ-node path contracts
    * in ~k rounds where min-label propagation would need 2ᵏ (spec:
    * ScaleTechniqueSpec). Runs on EDGE ENDPOINTS only — a doc with no
    * near-dup edge is its own component and rejoins downstream, so loop
    * frames are |near-dup docs|, not |corpus|.
    *
    * The returned labels frame is persisted MEMORY_AND_DISK and still
    * referenced by the caller's lazy result — the caller owns its
    * lifetime (see [[lastLabels]]).
    */
  private[graft] def starContractLabels(pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel
    // localCheckpoint each round's edge frame: the loop references it
    // several times per round, so without lineage truncation the logical
    // plan grows GEOMETRICALLY with rounds (planning/explain OOMs past
    // ~10 rounds — exactly the adversarial-graph case this algorithm
    // exists for). Eager local checkpoints also ARE the per-round
    // materialization. Old rounds' blocks are reclaimed by the
    // ContextCleaner once the `edges` var moves on; on a real cluster
    // prefer `spark.sparkContext.setCheckpointDir` + `.checkpoint()`
    // (reliable storage survives executor loss mid-loop).
    var edges = pairs
      .toDF("src", "dst")
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = true)
    // fixpoint detector: edge count + an order-free hash-XOR over the
    // canonical (lo,hi) set (edges are distinct, so XOR cancellation
    // can't hide a change; bit_xor can't overflow under ANSI the way a
    // hash SUM does) — both stable across a round ⇒ the edge set is
    // unchanged. coalesce: empty frame → (0,0).
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df
        .agg(coalesce(count(lit(1)), lit(0L)),
             coalesce(bit_xor(xxhash64(least(col("src"), col("dst")),
                                       greatest(col("src"), col("dst")))),
                      lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    var oldFp = fingerprint(edges)
    var converged = oldFp._1 == 0L
    var iter = 0
    while (!converged && iter < 40) {
      // large-star: each node hangs its LARGER neighbors off the minimum
      // of its neighborhood (incl. itself) — long paths halve every round
      val sym = edges
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val lMins = sym
        .groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      val large = sym
        .join(lMins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = true)
      // small-star: key each edge at its larger endpoint, re-hang that
      // node and its smaller neighbors off the neighborhood minimum
      val keyed = large.select(greatest(col("src"), col("dst")).as("src"),
                               least(col("src"), col("dst")).as("dst"))
      val sMins = keyed.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val joined = keyed.join(sMins, "src")
      val small = joined
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(joined.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = true)
      val newFp = fingerprint(small)
      edges = small
      converged = newFp == oldFp
      oldFp = newFp
      iter += 1
    }
    require(converged, s"pointer-jumping did not converge in $iter rounds")
    // converged edges form stars (child → component-min root): labels are
    // the child rows plus each root labelling itself
    val labels = edges
      .select(col("src").as("doc_id"), col("dst").as("label"))
      .union(edges.select(col("dst").as("doc_id"), col("dst").as("label")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    edges.unpersist(blocking = false)
    (labels, iter)
  }

  /** (doc_id, label) → the cluster output shape shared by both paths. */
  private def clustersFromLabels(all: DataFrame): DataFrame = {
    val sizes =
      all.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    all
      .join(sizes, "label")
      .select(col("doc_id"), col("label").as("cluster_id"),
              col("cluster_size"),
              (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Exact-duplicate rate per source — the per-slice dedup health number
    * a curator watches across crawl snapshots. One hash + one two-level
    * aggregation; the ratio is an exact integer division.
    */
  def dedupRateBySource(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .groupBy(col("source"), md5(col("norm")).as("content_hash"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
           count(lit(1)).as("n_unique"))
      .select(
        col("source"), col("n_docs"), col("n_unique"),
        round((col("n_docs") - col("n_unique")).cast("double") /
                col("n_docs").cast("double"),
              6).as("dup_rate"))
      .orderBy(col("source"))

  /** Span size for [[dupSpanFraction]] — dev-scale; Lee et al. use
    * 50-token spans on web corpora, where vocabulary is far larger than
    * this synthetic table's.
    */
  private val SpanTokens = 5

  /** Duplicated-span fraction per document — the n-gram approximation of
    * exact-substring dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al., ACL '22): every positional
    * [[SpanTokens]]-token span that occurs ≥2 times anywhere in the
    * corpus (including twice in one document) marks its token positions
    * as duplicated; the per-doc output is the fraction of token
    * positions covered by at least one duplicated span.
    *
    * Scale shape — skew-immune by construction: the span occurrence
    * count is a `groupBy(gh).count` over the fixed-width 128-bit span
    * hash (at 100 TB the key bytes dominate shuffle volume, which is
    * why the span text itself never shuffles). Partial aggregation
    * combines a hot span MAP-SIDE, so a boilerplate 5-gram occurring
    * 10⁸ times reduces to one row per input partition before the
    * shuffle — the window form this replaced
    * (`count() over (partition by gh)`) materialized all 10⁸ posting
    * rows in a single WindowExec task, and AQE cannot split window
    * partitions. Dup hashes (`count ≥ 2` is the only thing any consumer
    * reads, so the per-row count is never carried) then mark the
    * posting list via a left join; if that join itself skews, AQE's
    * skew-join splitting applies — joins CAN be split, windows can't.
    * The grams frame feeds both the count and the join-back, so it is
    * persisted once per dataset ([[FrameStore]]) rather than
    * re-scanning and re-shingling the corpus per subtree; at cluster
    * scale it would be a written intermediate table, same semantics.
    * Coverage union, gram count, and dup-gram count come out of one
    * groupBy(doc_id) with three count-distincts over a bounded
    * ×[[SpanTokens]] offset explode. The exact-substring alternative
    * (distributed suffix array) trades this shape for global sorts; the
    * n-gram form is the standard Spark substitute.
    */
  /** Normalized token arrays of every document — the tokenization the
    * whole span family (fraction, strip) shares.
    */
  private def spanToks(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"),
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
                .as("t"))

  /** (doc_id, pos, gh) posting list of every [[SpanTokens]]-gram span
    * hash, persisted once per dataset ([[FrameStore]]) — the shared
    * intermediate of [[dupSpanFraction]] and [[stripDupSpans]].
    */
  private def spanGrams(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "spanGrams") {
      spanToks(spark, dir)
        .filter(size(col("t")) >= SpanTokens)
        .select(col("doc_id"),
                posexplode(transform(
                  sequence(lit(1), size(col("t")) - (SpanTokens - 1)),
                  i => md5(concat_ws(" ", slice(col("t"), i, lit(SpanTokens)))))))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
                col("col").as("gh"))
    }

  def dupSpanFraction(spark: SparkSession, dir: String): DataFrame = {
    val toks = spanToks(spark, dir)
    val grams = spanGrams(spark, dir)
    val dupHashes = grams
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("gh"), lit(true).as("dup"))
    val marked = grams
      .join(dupHashes, Seq("gh"), "left")
      .select(col("doc_id"), col("pos"),
              coalesce(col("dup"), lit(false)).as("dup"))
    // dup grams fan out to their covered offsets; non-dup grams keep one
    // null-offset row so the same aggregation counts them too
    val expanded = marked.select(
      col("doc_id"), col("pos"), col("dup"),
      explode(when(col("dup"),
                   sequence(col("pos"), col("pos") + (SpanTokens - 1)))
        .otherwise(array(lit(null).cast("long")))).as("cp"))
    val per = expanded
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("pos")).as("n_grams"),
           countDistinct(when(col("dup"), col("pos"))).as("n_dup_grams"),
           countDistinct(col("cp")).as("covered_tokens"))
    toks
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
                col("n_tokens"),
              6).as("dup_fraction"))
      .orderBy(col("doc_id"))
  }

  /** The transformation [[dupSpanFraction]]'s detection exists for:
    * remove every token position covered by a duplicated span and
    * reconstruct the cleaned document — span-level boilerplate removal
    * (the paragraph/line-dedup stage of published web-corpus pipelines,
    * expressed on the same 5-gram spans the detector uses). ALL
    * occurrences of a duplicated span are stripped; keeping one
    * canonical copy is a document-granularity decision that belongs to
    * [[dedupCascade]]/[[clusterRepresentatives]], not to this
    * token-level pass.
    *
    * Scale shape: identical skew-safe skeleton to [[dupSpanFraction]]
    * (partial-aggregated `groupBy(gh)`, semi-join back onto the
    * persisted grams frame — no window, so no hot-span single-task
    * partition; the anti-join on (doc_id, cp) is AQE-splittable). The
    * rebuild is one `groupBy(doc_id)` whose collect_list is bounded by
    * the document's own length — the same row the `text` column
    * already holds, so it introduces no new skew class. The covered
    * frame keeps duplicate (doc_id, cp) rows: an anti-join is an
    * existence check, so deduplicating them first would buy nothing
    * and cost a shuffle.
    */
  def stripDupSpans(spark: SparkSession, dir: String): DataFrame = {
    val toks = spanToks(spark, dir)
    val grams = spanGrams(spark, dir)
    val dupHashes = grams
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("gh"))
    val covered = grams
      .join(dupHashes, Seq("gh"), "left_semi")
      .select(col("doc_id"),
              explode(sequence(col("pos"), col("pos") + (SpanTokens - 1)))
                .as("cp"))
    val posTok = toks
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("cp"),
              col("col").as("tok"))
    val rebuilt = posTok
      .join(covered, Seq("doc_id", "cp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
           concat_ws(
             " ",
             transform(array_sort(collect_list(struct(col("cp"), col("tok")))),
                       s => s.getField("tok"))).as("cleaned_text"))
    toks
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
              coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
              coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** Corpus novelty curve: for every document, how many of its
    * [[SpanTokens]]-gram spans appear for the FIRST time in the corpus
    * (first occurrence = minimum doc_id over the span hash, the same
    * deterministic canonical rule as [[dedupExact]]) — the
    * diversity-growth signal a data-curation loop watches to decide
    * when a source is mined out (novelty → 0 means new documents are
    * recombinations of spans the corpus already has).
    *
    * Scale shape: one partial-aggregated `groupBy(gh).min(doc_id)` over
    * the persisted grams frame (hot spans combine map-side, same
    * skew-immunity argument as [[dupSpanFraction]]) joined back to the
    * per-doc distinct-gram counts; no window, no re-shingle.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = spanGrams(spark, dir).select(col("doc_id"), col("gh")).distinct()
    val firstOwner = spanGrams(spark, dir)
      .groupBy(col("gh"))
      .agg(min(col("doc_id")).as("first_doc"))
    val per = grams
      .join(firstOwner, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_grams"),
           sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
             .as("n_novel_grams"))
    spanToks(spark, dir)
      .select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_distinct_grams"), lit(0L)).as("n_distinct_grams"),
        coalesce(col("n_novel_grams"), lit(0L)).as("n_novel_grams"),
        round(coalesce(col("n_novel_grams"), lit(0L)).cast("double") /
                greatest(coalesce(col("n_distinct_grams"), lit(0L)), lit(1L)),
              6).as("novelty_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Edit-similarity threshold for [[dedupVerifyEditdist]]. */
  private val EditSimThreshold = 0.8

  /** Calibration-sample bound for [[lshRecall]]: the truth set is
    * quadratic in the sample, so it must never grow with the corpus.
    * ASSUMES dense 0-based doc ids (true of every shipped table); a
    * corpus with sparse/offset ids needs a rank-based lowest-N sample
    * instead, at the cost of one extra shuffle.
    */
  private[operators] val RecallSampleDocs = 500

  /** SQL form of (1−s^r)^b at the STATIC (NumHashes, Bands) the DuckDB
    * oracles encode, as explicit left-assoc products (no pow —
    * cross-engine last-ulp drift); derived from the constants like
    * sigSql, not hand-repeated literals.
    */
  private lazy val sCurveMissSql: String = {
    val sPow = List.fill(RowsPerBand)("s").mkString("*")
    List.fill(Bands)(s"(1.0 - $sPow)").mkString(" * ")
  }

  /** Character-level verification of the MinHash-LSH near-dup pairs:
    * Levenshtein distance over the normalized texts and the derived edit
    * similarity 1 − dist/max(len) — the precision pass a dedup pipeline
    * runs before actually dropping documents (shingle Jaccard is
    * order-insensitive; edit similarity is not, so it catches
    * shuffled-content false positives).
    *
    * Cost note: Levenshtein is O(|a|·|b|) per pair, which is exactly why
    * it runs only on the LSH-verified candidates (a vanishing fraction
    * of the corpus) and never as a candidate generator. A length
    * prefilter runs before it: Levenshtein distance is bounded below by
    * the length difference, so edit_sim ≥ [[EditSimThreshold]] (0.8)
    * requires |len(a) − len(b)| ≤ (1 − 0.8)·max(len) — a pair failing
    * `5·|len(a) − len(b)| ≤ max(len) + 1` provably cannot verify and is
    * dropped without paying the O(|a|·|b|) pass. The 5× integer form is
    * exact in both engines (a 0.2 float literal has a cross-engine
    * decimal-vs-binary boundary); the +1 slack covers the 6-dp
    * round-up boundary (raw edit_sim in [0.7999995, 0.8) rounds to
    * 0.8), which stays a strict superset of the verifying pairs for
    * any document up to 400k chars. Pairs dropped here previously
    * appeared with `verified = false`; consumers counting unverified
    * candidates should count LSH pairs instead.
    */
  def dedupVerifyEditdist(spark: SparkSession, dir: String): DataFrame = {
    val norm = Tables
      .documents(spark, dir)
      .select(col("doc_id"),
              regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
    dedupMinhashLsh(spark, dir)
      .select(col("doc1"), col("doc2"), col("jaccard"))
      .join(norm.select(col("doc_id").as("doc1"), col("norm").as("na")), "doc1")
      .join(norm.select(col("doc_id").as("doc2"), col("norm").as("nb")), "doc2")
      .filter(abs(length(col("na")) - length(col("nb"))) * 5 <=
        greatest(length(col("na")), length(col("nb"))) + 1)
      .withColumn("lev_dist", levenshtein(col("na"), col("nb")).cast("long"))
      .withColumn(
        "edit_sim",
        round(lit(1.0) - col("lev_dist").cast("double") /
                greatest(length(col("na")), length(col("nb"))).cast("double"),
              6))
      .select(col("doc1"), col("doc2"), col("jaccard"), col("lev_dist"),
              col("edit_sim"),
              (col("edit_sim") >= EditSimThreshold).as("verified"))
      .orderBy(col("doc1"), col("doc2"))
  }

  /** LSH candidate-generation RECALL, measured — not guessed from the
    * s-curve: the exact near-dup truth set (all-pairs shingle Jaccard ≥
    * threshold) versus what the banded MinHash pipeline caught, plus
    * the analytic expectation 1−(1−s^r)^b averaged over the true pairs
    * ([[lshCatchProbability]]) so measured and predicted recall sit in
    * one row.
    *
    * This is an OFFLINE EVALUATION operator: the truth set is an
    * all-pairs self-join, which is exactly what the production dedup
    * path must never do — so it runs on a bounded deterministic SAMPLE
    * ([[RecallSampleDocs]] lowest doc ids; recall is measured as
    * caught∩sample / truth∩sample, with the LSH side still the real
    * production pipeline over the whole corpus). The mean over true
    * pairs is a fixed-order fold (sorted pair list) so the oracle
    * comparison stays bit-exact.
    */
  /** One-row aggregate of the bounded-sample truth set: `n_true_pairs`
    * plus the sorted `(doc1, doc2, j)` pair list (`ps`) that the
    * fixed-order expected-recall folds consume. Shared by [[lshRecall]]
    * and [[CalibrationOps.recallMatrix]].
    *
    * Truth via posting-list expansion, NOT a nested-loop self-join: a
    * pair with zero shared shingles cannot reach the threshold, so
    * grouping postings by shingle and counting shared postings per
    * co-occurring pair yields the identical truth set at
    * postings + collisions cost instead of |sample|² array
    * intersections (measured ~6 s → ~0.5 s on the 500-doc sample).
    */
  // the truth aggregate is persisted HERE (per dataset) so both of its
  // consumers — recall_matrix's grid rows and lsh_recall — share one
  // build
  private[operators] def sampleTruth(spark: SparkSession,
                                     dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "sampleTruth")(
      sampleTruthPlan(spark, dir))

  private def sampleTruthPlan(spark: SparkSession,
                              dir: String): DataFrame = {
    val ex = shingled(spark, dir)
      .filter(col("doc_id") < RecallSampleDocs)
      .select(col("doc_id"),
              explode(graft.functions.TextExprs.withSize(col("shingles")))
                .as("p"))
      .select(col("doc_id"), col("p.x").as("shingle"), col("p.n").as("n_sh"))
    val truth = ex
      .groupBy(col("shingle"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(inBucketPairs(col("ds"))((a, b) =>
        struct(a.getField("doc_id").as("doc1"),
               a.getField("n_sh").as("n1"),
               b.getField("doc_id").as("doc2"),
               b.getField("n_sh").as("n2"))).as("p"))
      .select(col("p.doc1").as("doc1"), col("p.n1").as("n1"),
              col("p.doc2").as("doc2"), col("p.n2").as("n2"))
      .groupBy(col("doc1"), col("doc2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"))
      .select(col("doc1"), col("doc2"),
              round(col("n_common").cast("double") /
                      (col("n1") + col("n2") - col("n_common")),
                    6).as("j"))
      .filter(col("j") >= JaccardThreshold)
    truth.agg(
      count(lit(1)).as("n_true_pairs"),
      sort_array(collect_list(struct(col("doc1"), col("doc2"), col("j"))))
        .as("ps"))
  }

  /** Explicit left-assoc n-fold product — the no-`pow` form every
    * analytic s-curve here uses (pow has cross-engine last-ulp drift).
    */
  private[operators] def powN(c: Column, n: Int): Column =
    (1 until n).foldLeft(c)((a, _) => a * c)

  /** Mean analytic catch probability 1−(1−s^rows)^bands over the `ps`
    * truth pairs (fixed-order fold over the sorted list), 6 dp.
    */
  private[operators] def expectedRecall(ps: Column, nTrue: Column,
                                        bands: Int, rows: Int): Column =
    round(
      aggregate(
        transform(ps,
                  p => lit(1.0) - powN(lit(1.0) - powN(p.getField("j"), rows),
                                       bands)),
        lit(0.0), (acc, x) => acc + x) /
        greatest(nTrue, lit(1L)),
      6)

  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val t = sampleTruth(spark, dir)
    val caught = dedupMinhashLsh(spark, dir)
      .filter(col("doc1") < RecallSampleDocs && col("doc2") < RecallSampleDocs)
      .agg(count(lit(1)).as("n_caught"))
    t.crossJoin(caught)
      .select(
        col("n_true_pairs"), col("n_caught"),
        round(col("n_caught").cast("double") /
                greatest(col("n_true_pairs"), lit(1L)),
              6).as("recall"),
        expectedRecall(col("ps"), col("n_true_pairs"), Bands, RowsPerBand)
          .as("expected_recall"))
  }

  private lazy val simhashPairsSql: String =
      """WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
        |tok AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM n),
        |tb AS (SELECT doc_id, md5(t.token) AS h FROM tok, UNNEST(tokens) t(token)),
        |bitv AS (
        |  SELECT doc_id, r.j,
        |         (CAST(floor((strpos('0123456789abcdef', substr(h, CAST(r.j // 4 AS INT) + 1, 1)) - 1)
        |                     / (2 ** (3 - r.j % 4))) AS INT) % 2) * 2 - 1 AS vote
        |  FROM tb, UNNEST(range(0, 64)) r(j)
        |),
        |votes AS (SELECT doc_id, j, sum(vote) AS v FROM bitv GROUP BY 1, 2),
        |bits AS (SELECT doc_id, j, CASE WHEN v > 0 THEN 1 ELSE 0 END AS b FROM votes),
        |nibs AS (
        |  SELECT doc_id, j // 4 AS ni,
        |         CAST(sum(b * (2 ** (3 - j % 4))) AS INT) AS nv
        |  FROM bits GROUP BY 1, 2
        |),
        |sigs AS (
        |  SELECT doc_id,
        |         string_agg(substr('0123456789abcdef', nv + 1, 1), '' ORDER BY ni) AS simhash
        |  FROM nibs GROUP BY doc_id
        |),
        |bands AS (
        |  SELECT doc_id, b.band, substr(simhash, b.band * 4 + 1, 4) AS prefix
        |  FROM sigs, UNNEST([0, 1, 2, 3]) b(band)
        |),
        |bsz AS (SELECT band, prefix, count(*) AS n FROM bands GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, c.doc_id AS doc2
        |  FROM bands a
        |  JOIN bands c ON a.band = c.band AND a.prefix = c.prefix AND a.doc_id < c.doc_id
        |  JOIN bsz ON bsz.band = a.band AND bsz.prefix = a.prefix
        |  WHERE bsz.n <= 256
        |),
        |nx AS (
        |  SELECT cand.doc1, cand.doc2,
        |         xor(strpos('0123456789abcdef', substr(x.simhash, i.i, 1)) - 1,
        |             strpos('0123456789abcdef', substr(y.simhash, i.i, 1)) - 1) AS v
        |  FROM cand
        |  JOIN sigs x ON cand.doc1 = x.doc_id
        |  JOIN sigs y ON cand.doc2 = y.doc_id,
        |       UNNEST(range(1, 17)) i(i)
        |),
        |ham AS (
        |  SELECT doc1, doc2,
        |         CAST(sum(v % 2 + (v // 2) % 2 + (v // 4) % 2 + (v // 8) % 2) AS BIGINT) AS hamming
        |  FROM nx GROUP BY doc1, doc2
        |)
        |SELECT doc1, doc2, hamming FROM ham WHERE hamming <= 3 ORDER BY doc1, doc2""".stripMargin

  /** Shared span-coverage CTE chain (d→g→dupg→dg→cov: normalized
    * tokens, span-hash postings, duplicated hashes, dup postings,
    * covered token positions) — ONE definition for the
    * `dup_span_fraction` and `strip_dup_spans` oracles so the two can
    * never drift.
    */
  private lazy val spanCovSql: String =
    s"""d AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents
       |),
       |g AS (
       |  SELECT doc_id, CAST(p.i AS BIGINT) AS pos,
       |         md5(array_to_string(t[p.i:p.i + ${SpanTokens - 1}], ' ')) AS gh
       |  FROM d, UNNEST(range(1, len(t) - ${SpanTokens - 2})) p(i)
       |),
       |dupg AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
       |dg AS (SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gh)),
       |cov AS (
       |  SELECT DISTINCT doc_id, pos + o.o AS cp
       |  FROM dg, UNNEST(range(0, $SpanTokens)) o(o)
       |)""".stripMargin

  /** Full cascade-verdict oracle (exact → minhash → simhash attribution
    * per doc) — shared by `dedup_cascade` and `cascade_savings`.
    */
  private[operators] lazy val cascadeSql: String = {
    val exd =
      """WITH exd AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           min(doc_id) OVER (
        |             PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS canon
        |    FROM documents
        |  ) WHERE doc_id <> canon
        |)""".stripMargin
    val verdict =
      """verdict AS (
        |  SELECT d.doc_id,
        |         CASE WHEN exd.doc_id IS NOT NULL THEN 'exact_duplicate'
        |              WHEN mhd.doc_id IS NOT NULL THEN 'minhash_near_dup'
        |              WHEN shd.doc_id IS NOT NULL THEN 'simhash_near_dup'
        |              ELSE 'kept' END AS reason
        |  FROM documents d
        |  LEFT JOIN exd ON d.doc_id = exd.doc_id
        |  LEFT JOIN mhd ON d.doc_id = mhd.doc_id
        |  LEFT JOIN shd ON d.doc_id = shd.doc_id
        |)
        |SELECT doc_id, reason = 'kept' AS kept, reason
        |FROM verdict ORDER BY doc_id""".stripMargin
    exd + ",\nmhd AS (SELECT DISTINCT doc2 AS doc_id FROM (\n" +
      minhashLshSql + "\n) mhq),\nshd AS (SELECT DISTINCT doc2 AS doc_id FROM (\n" +
      simhashPairsSql + "\n) shq),\n" + verdict
  }

  val oracles: Map[String, String] = Map(
    // composed by plain concatenation: the embedded pair queries contain
    // lines starting with '||', which stripMargin would mangle
    "dedup_cascade" -> cascadeSql,
    // the cascade verdicts rolled up per (source, reason) with the
    // characters each stage saves — the budget report a pipeline run
    // actually publishes
    "cascade_savings" ->
      ("SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs,\n" +
        "       CAST(sum(n_chars) AS BIGINT) AS n_chars FROM (\n" + cascadeSql +
        "\n) cv JOIN (SELECT doc_id, source, n_chars FROM documents) dm USING (doc_id)\n" +
        "GROUP BY source, reason ORDER BY source, reason"),
    "shingle_containment" -> containmentSql,
    // avg in exact integer micro-units — see qualityByVerdict's scaladoc
    "quality_by_verdict" ->
      ("WITH " + TextOps.qualityCteSql + "\n" +
        "SELECT cv.reason, CAST(count(*) AS BIGINT) AS n_docs,\n" +
        "       round(CAST(sum(CAST(floor(qq.quality_score * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)\n" +
        "             / count(*) / 1000000.0, 6) AS avg_quality,\n" +
        "       min(qq.quality_score) AS min_quality,\n" +
        "       max(qq.quality_score) AS max_quality\n" +
        "FROM (\n" + cascadeSql + "\n) cv JOIN qq USING (doc_id)\n" +
        "GROUP BY cv.reason ORDER BY cv.reason"),
    "contamination_check" ->
      s"""WITH n AS (SELECT doc_id, source, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS m FROM documents),
         |h AS (
         |  SELECT doc_id, source, p.i AS pos, length(m) - 7 AS nh,
         |         ${TextOps.winnowHashSql} AS hv
         |  FROM n, UNNEST(range(1, length(m) - 6)) p(i)
         |),
         |wmin AS (
         |  SELECT doc_id, source, pos, nh,
         |         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
         |  FROM h
         |),
         |sel AS (SELECT DISTINCT doc_id, source, fp FROM wmin WHERE pos <= nh - 3),
         |rare AS (SELECT fp FROM sel GROUP BY fp HAVING count(DISTINCT doc_id) <= 100),
         |f AS (SELECT sel.* FROM sel JOIN rare USING (fp)),
         |ev AS (SELECT fp, doc_id AS eval_doc FROM f WHERE source = 'src0'),
         |tr AS (SELECT fp, doc_id AS train_doc FROM f WHERE source <> 'src0')
         |SELECT train_doc, eval_doc, count(DISTINCT fp) AS n_shared
         |FROM tr JOIN ev USING (fp)
         |GROUP BY 1, 2 HAVING count(DISTINCT fp) >= 20
         |ORDER BY 1, 2""".stripMargin,
    "dedup_exact" ->
      """WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents)
        |SELECT md5(norm) AS content_hash, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    // the ONLINE ingest-dedup drain (StreamDrain.streamDocDedupDrain):
    // first arrival per content hash across >=3 micro-batches must be
    // exactly the batch min-doc_id canonical survivor set
    "stream_docdedup_drain" ->
      """WITH n AS (SELECT doc_id, source,
        |                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
        |          FROM documents),
        |c AS (SELECT content_hash, min(doc_id) AS doc_id FROM n GROUP BY 1)
        |SELECT n.doc_id, n.content_hash, n.source
        |FROM n JOIN c ON n.content_hash = c.content_hash AND n.doc_id = c.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "minhash_signatures" ->
      s"""$shingleSql, ${sigSql(NumHashes)}
         |SELECT doc_id,
         |       array_to_string(list_transform(sig, x -> CAST(x AS VARCHAR)), ',') AS sig
         |FROM sig ORDER BY doc_id""".stripMargin,
    "dedup_minhash_lsh" -> minhashLshSql,
    // the ONLINE bucket stage (StreamDrain.streamLshDedupDrain) produces
    // the same verified pairs through keyed streaming state, so it
    // shares the batch oracle verbatim
    "stream_lshdedup_drain" -> minhashLshSql,
    "dedup_minhash_wideband" -> minhashLshSqlAt(NumHashes, 8),
    "dedup_rate_by_source" ->
      """WITH h AS (
        |  SELECT source, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch,
        |         count(*) AS n
        |  FROM documents GROUP BY 1, 2
        |),
        |s AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |         count(*) AS n_unique
        |  FROM h GROUP BY source
        |)
        |SELECT source, n_docs, n_unique,
        |       round(CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS dup_rate
        |FROM s ORDER BY source""".stripMargin,
    "dup_span_fraction" -> (s"WITH $spanCovSql,\n" +
      s"""base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM d)
        |SELECT b.doc_id, b.n_tokens,
        |       coalesce(ng.n, 0) AS n_grams,
        |       coalesce(nd.n, 0) AS n_dup_grams,
        |       coalesce(cv.n, 0) AS covered_tokens,
        |       round(CAST(coalesce(cv.n, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_fraction
        |FROM base b
        |LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1) ng USING (doc_id)
        |LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY 1) nd USING (doc_id)
        |LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM cov GROUP BY 1) cv USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    "ngram_novelty" -> (s"WITH $spanCovSql,\n" +
      s"""gd AS (SELECT DISTINCT doc_id, gh FROM g),
        |fo AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh),
        |per AS (
        |  SELECT gd.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_distinct_grams,
        |         CAST(sum(CASE WHEN fo.first_doc = gd.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel_grams
        |  FROM gd JOIN fo USING (gh) GROUP BY gd.doc_id
        |)
        |SELECT d.doc_id,
        |       coalesce(per.n_distinct_grams, 0) AS n_distinct_grams,
        |       coalesce(per.n_novel_grams, 0) AS n_novel_grams,
        |       round(CAST(coalesce(per.n_novel_grams, 0) AS DOUBLE)
        |             / greatest(coalesce(per.n_distinct_grams, 0), 1), 6) AS novelty_ratio
        |FROM d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    "strip_dup_spans" -> (s"WITH $spanCovSql,\n" +
      s"""pt AS (
        |  SELECT doc_id, CAST(p.i AS BIGINT) AS cp, t[p.i] AS tok
        |  FROM d, UNNEST(range(1, len(t) + 1)) p(i)
        |),
        |kept AS (
        |  SELECT pt.doc_id, pt.cp, pt.tok FROM pt
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |                    WHERE cov.doc_id = pt.doc_id AND cov.cp = pt.cp)
        |),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
        |         string_agg(tok, ' ' ORDER BY cp) AS cleaned_text
        |  FROM kept GROUP BY doc_id
        |),
        |base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM d)
        |SELECT b.doc_id, b.n_tokens,
        |       coalesce(a.kept_tokens, 0) AS kept_tokens,
        |       coalesce(a.cleaned_text, '') AS cleaned_text
        |FROM base b LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    "lsh_recall" -> (
      shingleSql + ",\n" +
        s"""truth AS (
           |  SELECT a.doc_id AS d1, b.doc_id AS d2,
           |         round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |               / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS j
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE a.doc_id < $RecallSampleDocs AND b.doc_id < $RecallSampleDocs
           |),
           |tt AS (SELECT * FROM truth WHERE j >= $JaccardThreshold),
           |lshq AS (SELECT count(*) AS n_caught FROM (
           |""".stripMargin + minhashLshSql +
        s"\n) q WHERE doc1 < $RecallSampleDocs AND doc2 < $RecallSampleDocs),\n" +
        s"""agg AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
          |         list(j ORDER BY d1, d2) AS js
          |  FROM tt
          |)
          |SELECT n_true_pairs, CAST(n_caught AS BIGINT) AS n_caught,
          |       round(CAST(n_caught AS DOUBLE) / greatest(n_true_pairs, 1), 6) AS recall,
          |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          |               list_transform(js, s -> 1.0 - $sCurveMissSql)),
          |             (a, b) -> a + b) / greatest(n_true_pairs, 1), 6) AS expected_recall
          |FROM agg, lshq""".stripMargin),
    "dedup_verify_editdist" -> (
      "WITH lsh AS (SELECT doc1, doc2, jaccard FROM (\n" + minhashLshSql +
        "\n) q),\n" +
        s"""nrm AS (
          |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          |  FROM documents
          |)
          |SELECT l.doc1, l.doc2, l.jaccard,
          |       CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS lev_dist,
          |       round(1.0 - CAST(levenshtein(a.norm, b.norm) AS DOUBLE)
          |             / greatest(length(a.norm), length(b.norm)), 6) AS edit_sim,
          |       round(1.0 - CAST(levenshtein(a.norm, b.norm) AS DOUBLE)
          |             / greatest(length(a.norm), length(b.norm)), 6) >= $EditSimThreshold AS verified
          |FROM lsh l
          |JOIN nrm a ON l.doc1 = a.doc_id
          |JOIN nrm b ON l.doc2 = b.doc_id
          |WHERE 5 * abs(length(a.norm) - length(b.norm))
          |      <= greatest(length(a.norm), length(b.norm)) + 1
          |ORDER BY doc1, doc2""".stripMargin),
    // composed by concatenation (embedded '||' lines, see above); the
    // recursive CTE computes each doc's min reachable id = cluster label
    "dedup_clusters" -> (
      "WITH RECURSIVE pairs AS (SELECT doc1, doc2 FROM (\n" + minhashLshSql +
        "\n) mp),\n" + clusterLabelSql + "\n" +
        """SELECT l.doc_id, l.cluster_id, s.cluster_size,
          |       l.doc_id = l.cluster_id AS is_canonical
          |FROM lab l JOIN sz s ON l.cluster_id = s.cluster_id
          |ORDER BY l.doc_id""".stripMargin),
    "golden_records" -> (
      "WITH RECURSIVE pairs AS (SELECT doc1, doc2 FROM (\n" + minhashLshSql +
        "\n) mp),\n" + clusterLabelSql + ",\n" +
        """mem AS (
          |  SELECT l.doc_id, l.cluster_id FROM lab l
          |  JOIN sz s ON l.cluster_id = s.cluster_id
          |  WHERE s.cluster_size >= 2
          |),
          |j AS (
          |  SELECT mem.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
          |  FROM mem JOIN documents d USING (doc_id)
          |)
          |SELECT cluster_id, count(*) AS n_members,
          |       min(doc_id) AS canonical_id,
          |       first(doc_id ORDER BY n_chars DESC, doc_id) AS longest_doc_id,
          |       max(n_chars) AS longest_chars,
          |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |       count(DISTINCT lang) AS n_langs,
          |       count(DISTINCT source) AS n_sources
          |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    // the shared cluster labels, then the shared text_quality formulas
    // pick the representative (quality DESC, doc_id ASC)
    "cluster_representatives" -> (
      "WITH RECURSIVE pairs AS (SELECT doc1, doc2 FROM (\n" + minhashLshSql +
        "\n) mp),\n" + clusterLabelSql + ",\n" + TextOps.qualityCteSql + ",\n" +
        """mem AS (
          |  SELECT l.doc_id, l.cluster_id FROM lab l
          |  JOIN sz s ON l.cluster_id = s.cluster_id
          |  WHERE s.cluster_size >= 2
          |),
          |j AS (
          |  SELECT mem.cluster_id, qq.doc_id, qq.quality_score, qq.n_tokens
          |  FROM mem JOIN qq USING (doc_id)
          |),
          |rep AS (
          |  SELECT cluster_id, doc_id, quality_score, n_tokens,
          |         row_number() OVER (PARTITION BY cluster_id
          |           ORDER BY quality_score DESC, doc_id) AS rn
          |  FROM j
          |),
          |ag AS (
          |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
          |         CAST(sum(n_tokens) AS BIGINT) AS tokens_total
          |  FROM j GROUP BY 1
          |)
          |SELECT ag.cluster_id, r.doc_id AS rep_doc_id,
          |       r.quality_score AS rep_quality, ag.n_members, ag.tokens_total,
          |       ag.tokens_total - r.n_tokens AS tokens_dropped
          |FROM ag JOIN rep r ON ag.cluster_id = r.cluster_id AND r.rn = 1
          |ORDER BY ag.cluster_id""".stripMargin),
    "simhash_signatures" ->
      """WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
        |tok AS (SELECT doc_id, string_split(norm, ' ') AS tokens FROM n),
        |tb AS (SELECT doc_id, md5(t.token) AS h FROM tok, UNNEST(tokens) t(token)),
        |bitv AS (
        |  SELECT doc_id, r.j,
        |         (CAST(floor((strpos('0123456789abcdef', substr(h, CAST(r.j // 4 AS INT) + 1, 1)) - 1)
        |                     / (2 ** (3 - r.j % 4))) AS INT) % 2) * 2 - 1 AS vote
        |  FROM tb, UNNEST(range(0, 64)) r(j)
        |),
        |votes AS (SELECT doc_id, j, sum(vote) AS v FROM bitv GROUP BY 1, 2),
        |bits AS (SELECT doc_id, j, CASE WHEN v > 0 THEN 1 ELSE 0 END AS b FROM votes),
        |nibs AS (
        |  SELECT doc_id, j // 4 AS ni,
        |         CAST(sum(b * (2 ** (3 - j % 4))) AS INT) AS nv
        |  FROM bits GROUP BY 1, 2
        |)
        |SELECT doc_id,
        |       string_agg(substr('0123456789abcdef', nv + 1, 1), '' ORDER BY ni) AS simhash
        |FROM nibs GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "simhash_pairs" -> simhashPairsSql,
    // exact truth, no prefix: a hash match proves candidate completeness
    "ssjoin_prefix" ->
      s"""$shingleSql
         |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
         |       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= $SsjoinThreshold
         |ORDER BY 1, 2""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""$shingleSql
         |SELECT a.source AS source, a.doc_id AS doc1, b.doc_id AS doc2,
         |       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_common,
         |       round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
         |      / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.2
         |ORDER BY 1, 2, 3""".stripMargin
  )
}
