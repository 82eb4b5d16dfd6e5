package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** Dataset-construction operators for a large-scale training pipeline:
  * deterministic stratified sampling, corpus vocabulary statistics,
  * token-budget sequence packing, and a combined quality-filter cascade.
  * These are the passes that turn a raw 100 TB crawl into training data;
  * all are single-shuffle shapes with exact DuckDB oracles.
  */
object PipelineOps {

  /** Per-stratum sampling rates (per mille). A config table in real use;
    * static here so the oracle can inline it.
    */
  private val RatesPerMille: Seq[(String, Int)] =
    Seq("click" -> 100, "view" -> 50, "purchase" -> 1000, "error" -> 500,
        "signup" -> 250)

  /** Deterministic stratified sample: keep an event iff
    * `poly_hash(event_id) mod 1000 < rate(event_type)`. Hash-based
    * sampling (vs `rand()`) is reproducible across runs, engines, and
    * retries — the property a training pipeline needs for exact dataset
    * reconstruction — and it samples in a single codegen'd map pass: no
    * shuffle, no state, pushdown-friendly. The oracle reproduces the
    * polynomial hash ([[graft.functions.PolyHashExpr]]) in BIGINT SQL.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = RatesPerMille.foldLeft(lit(0)) { case (acc, (t, r)) =>
      when(col("event_type") === t, lit(r)).otherwise(acc)
    }
    Tables
      .events(spark, dir)
      .withColumn("bucket",
                  graft.functions.TextExprs.polyHash(col("event_id").cast("string")) % 1000)
      .filter(col("bucket") < rate)
      .select(col("event_id"), col("event_type"), col("ts"), col("user_id"),
              col("value"), col("bucket"))
      .orderBy(col("event_id"))
  }

  /** Target expected sample size per source for [[ppsSample]] and the
    * modulus of its uniform draw.
    */
  private val PpsTargetPerSource = 10L
  private val PpsModulus = 1000000L

  /** Probability-proportional-to-size sampling: each document is kept
    * with probability `min(1, n_target · w / W_source)` where the size
    * weight `w` is its character count — the Bernoulli-PPS pass a
    * training pipeline uses to downsample a crawl while keeping long
    * (information-dense) documents over-represented, with the
    * Horvitz–Thompson weight `1/p` emitted so downstream token counts
    * stay unbiased. The draw is the deterministic `poly_hash(doc_id)`
    * uniform (same reproducibility argument as [[stratifiedSample]]),
    * and the keep decision is CROSS-MULTIPLIED integers —
    * `u · W_source < n_target · w · M` — so no float probability ever
    * decides a row; the oracle replays the identical integer sentence.
    * At dev scale the products stay well inside long range (u < 10⁶,
    * W = per-source character total); a 100 TB corpus lifts them to
    * DECIMAL(38,0) unchanged, the t_closeness convention. The only
    * shuffle is the per-source weight-total aggregation, whose result
    * broadcasts back; sampling itself is a codegen'd map pass.
    */
  def ppsSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val totals = docs
      .groupBy(col("source"))
      .agg(sum(col("n_chars")).as("w_total"))
    docs
      .join(broadcast(totals), "source")
      // the ':pps' salt lengthens the hashed string so the polynomial
      // wraps the 1e9+7 modulus many times — a bare short doc_id yields
      // small, structured hash values and a badly biased keep rate
      .withColumn("u",
                  graft.functions.TextExprs
                    .polyHash(concat(col("doc_id").cast("string"),
                                     lit(":pps"))) % PpsModulus)
      .filter(col("u") * col("w_total") <
        lit(PpsTargetPerSource) * col("n_chars") * lit(PpsModulus))
      .select(col("doc_id"), col("source"), col("n_chars"),
              round(when(lit(PpsTargetPerSource) * col("n_chars") >=
                           col("w_total"), lit(1.0))
                      .otherwise(col("w_total").cast("double") /
                        (lit(PpsTargetPerSource) * col("n_chars"))
                          .cast("double")), 6).as("ht_weight"))
      .orderBy(col("doc_id"))
  }

  /** Per-document (token, tf) pairs — ONE definition of the
    * tokenization both [[vocabTopK]] and [[zipfFit]] aggregate (and the
    * shape `tools/ln_audit.py`'s TOK CTE mirrors), so the audited ln
    * argument set cannot desynchronize from the frequencies the fold
    * actually sees.
    */
  private def tokenTf(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(explode(graft.functions.TextExprs.tokenCounts(col("text")))
        .as("tc"))
      .select(col("tc.token").as("token"), col("tc.tf").as("tf"))

  /** Corpus vocabulary: global token counts + document frequency over the
    * normalized text, top 100 by count (token tie-break). Per-document
    * term frequencies come from ONE native pass
    * ([[graft.functions.TokenCountsExpr]]), so the only shuffle is the
    * per-token aggregation — with effective map-side combine, unlike the
    * explode→groupBy(token, doc) two-shuffle shape where the first key
    * is nearly unique. The final top-k is a TakeOrdered over the (small)
    * aggregated set, not a global sort of the token table.
    */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    tokenTf(spark, dir)
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("n_occurrences"),
           count(lit(1)).as("doc_frequency"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(100)

  /** Zipf-law fit over the top-1000 token frequencies: OLS of
    * ln(freq) on ln(rank) — the corpus-statistics sanity probe (a
    * natural-language corpus slopes ≈ −1; a synthetic or deduplicated
    * one drifts). The regression runs as an ORDERED fold over the
    * rank-sorted frequency list so every float sum has pinned addition
    * order (the repo's ln-parity discipline: both ln argument families
    * — small ranks and exact integer frequencies — are in
    * `tools/ln_audit.py`), and the slope/intercept/r² combine the
    * folded sums with the same IEEE expressions on both engines.
    * Degenerate vocabularies (< 2 tokens) null the fit.
    *
    * Scale: the token aggregation is [[vocabTopK]]'s one shuffle; the
    * fold runs on a bounded 1000-element list — the cap is what keeps
    * the ordered fold (and the statistic) corpus-size-independent.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = tokenTf(spark, dir)
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("f"))
      .orderBy(col("f").desc, col("token"))
      .limit(1000)
    val folded = aggregate(
      col("fs"),
      struct(lit(0.0).as("i"), lit(0.0).as("slr"), lit(0.0).as("slf"),
             lit(0.0).as("srr"), lit(0.0).as("srf"), lit(0.0).as("sff")),
      (s, f) => {
        val r = s.getField("i") + lit(1.0)
        val lr = log(r)
        val lf = log(f.cast("double"))
        struct(r.as("i"),
               (s.getField("slr") + lr).as("slr"),
               (s.getField("slf") + lf).as("slf"),
               (s.getField("srr") + lr * lr).as("srr"),
               (s.getField("srf") + lr * lf).as("srf"),
               (s.getField("sff") + lf * lf).as("sff"))
      })
    val n = col("st.i")
    val varR = n * col("st.srr") - col("st.slr") * col("st.slr")
    val varF = n * col("st.sff") - col("st.slf") * col("st.slf")
    val cov = n * col("st.srf") - col("st.slr") * col("st.slf")
    top
      .groupBy()
      .agg(count(lit(1)).as("n_points"),
           // rank order re-pinned inside the aggregation: (-f, token)
           // sorts exactly the (f desc, token asc) rank order
           transform(sort_array(collect_list(struct((-col("f")).as("nf"),
                                                    col("token"),
                                                    col("f")))),
                     _.getField("f")).as("fs"))
      .withColumn("st", folded)
      .select(
        col("n_points"),
        round(when(col("n_points") >= 2, cov / varR), 6).as("zipf_slope"),
        round(when(col("n_points") >= 2,
                   (col("st.slf") - (cov / varR) * col("st.slr")) / n), 6)
          .as("intercept"),
        // varF = 0 (all top frequencies equal) → 0/0: NULL on both
        // engines, never Spark-NULL-vs-DuckDB-NaN
        round(when(col("n_points") >= 2 && varF =!= 0.0,
                   (cov * cov) / (varR * varF)), 6).as("r2"))
  }

  /** Heavy-hitter tokens via the mergeable Misra–Gries sketch
    * ([[graft.functions.TopKSketch]]), self-gated like the HLL query:
    * each surviving token's estimate is joined against its exact count
    * and `within_bound` asserts est ≤ exact ≤ est + max_err — the
    * sketch guarantee, checkable row-by-row by a portable oracle. With
    * k = 64 (above the corpus vocabulary) the summary is provably exact
    * and order-independent (see the sketch scaladoc), so est = exact and
    * max_err = 0 hash-match exactly; at 100 TB one lowers k to the
    * memory budget and keeps the same gate.
    * The exact side is the same one-shuffle token aggregation
    * [[vocabTopK]] uses; the sketch side adds NO shuffle beyond the
    * single-row final merge (one k-entry summary per partition).
    */
  def approxTopTokens(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables
      .documents(spark, dir)
      .select(explode(graft.functions.TextExprs.tokenCounts(col("text")))
        .as("tc"))
      .select(col("tc.token").as("token"), col("tc.tf").cast("long").as("tf"))
    val summary = pairs
      .agg(graft.functions.TopKSketch
        .topTokens(64)(col("token"), col("tf")).as("mg"))
      .select(explode(col("mg.items")).as("it"))
      .select(col("it.token").as("token"), col("it.est").as("est_count"),
              col("it.maxerr").as("max_err"))
    val exact = pairs.groupBy(col("token")).agg(sum(col("tf")).as("exact_count"))
    summary
      .join(exact, Seq("token"), "left")
      .withColumn("exact_count", coalesce(col("exact_count"), lit(0L)))
      .withColumn("within_bound",
                  col("est_count") <= col("exact_count") &&
                    col("exact_count") <= col("est_count") + col("max_err"))
      .select(col("token"), col("est_count"), col("max_err"),
              col("exact_count"), col("within_bound"))
      .orderBy(col("est_count").desc, col("token"))
      .limit(25)
  }

  /** Token budget per packed training sequence. */
  private val PackBudget = 512

  /** Sequence packing: assign documents (per source, in doc_id order) to
    * fixed-token-budget training bins by contiguous fill — bin index =
    * floor(cumulative-tokens-before / budget). One window cumsum per
    * source partition; no shuffle beyond the partition key. (Greedy
    * first-fit packing is inherently sequential per stratum; contiguous
    * fill is the order-preserving variant that IS expressible as a pure
    * window cumsum in any SQL engine — docs larger than the budget
    * overflow their bin rather than splitting, as in real packers that
    * truncate later.)
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .documents(spark, dir)
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        (col("cum_tokens") - col("n_tokens")).as("offset_tokens"),
        floor((col("cum_tokens") - col("n_tokens")) / PackBudget).as("bin"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Quality-filter cascade: combines the [[TextOps]] signals (token
    * count, stopword ratio, unique-token ratio) with exact-dup canonical
    * status ([[DedupOps.dedupExact]] semantics) into a keep/drop verdict
    * with a first-failing-rule reason — the C4/Gopher-style filter chain
    * as one pass. The dup check joins each doc to its content-hash
    * group's min doc_id (one groupBy + one equi-join on the hash);
    * everything else is a codegen'd map.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = array(
      Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on",
          "with").map(lit): _*)
    val docs = Tables
      .documents(spark, dir)
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .withColumn("content_hash", md5(col("norm")))
      .withColumn("tokens", split(col("norm"), " "))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
      .withColumn(
        "stopword_ratio",
        round(size(filter(col("tokens"), t => array_contains(stopArr, t)))
                .cast("double") / greatest(col("n_tokens"), lit(1L)),
              6))
      .withColumn(
        "unique_ratio",
        round(size(array_distinct(col("tokens"))).cast("double") /
                greatest(col("n_tokens"), lit(1L)),
              6))
    val canonical = docs
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"))
    docs
      .join(canonical, "content_hash")
      .withColumn(
        "reason",
        when(col("doc_id") =!= col("canonical_doc_id"), "exact_duplicate")
          .when(col("n_tokens") < 10, "too_short")
          .when(!col("stopword_ratio").between(0.05, 0.6), "stopword_ratio")
          .when(col("unique_ratio") < 0.3, "low_diversity")
          .otherwise("kept"))
      .withColumn("kept", col("reason") === "kept")
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"),
              col("unique_ratio"), col("canonical_doc_id"), col("kept"),
              col("reason"))
      .orderBy(col("doc_id"))
  }

  /** The first merge step of BPE tokenizer training: adjacent character
    * pairs weighted by corpus token frequency, top 20 — the
    * highest-count pair is exactly what a byte-pair encoder would merge
    * first (Sennrich et al., ACL '16). Shape matters at corpus scale:
    * the pair explosion runs over the AGGREGATED vocabulary (token,
    * freq), not over every token instance — the vocabulary is orders of
    * magnitude smaller than the corpus, and [[vocabTopK]]'s one-pass
    * token_counts already proved the vocab aggregation itself.
    */
  def bpeFirstMerges(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(explode(graft.functions.TextExprs.tokenCounts(col("text"))).as("tc"))
      .groupBy(col("tc.token").as("token"))
      .agg(sum(col("tc.tf")).as("freq"))
      .filter(length(col("token")) >= 2)
      .select(col("freq"),
              explode(expr(
                "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
                .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(20)

  /** Distributed BPE ENCODE under the vocabulary [[bpeFirstMerges]]
    * learns: the apply half of the tokenizer pair (learn = aggregation,
    * apply = pure map). The merge list is collected once on the driver
    * (top-k pairs — metadata) and ships as a literal inside
    * [[graft.functions.BpeEncodeStatsExpr]]; the encode itself touches
    * each document exactly once with zero shuffles, the 100 TB
    * tokenization shape. Output: exact word/char counts plus the
    * `round_trip_ok` (lossless) and `bounds_ok` (piece count inside the
    * provable bigram-merge band) self-gates — the piece count stays
    * engine-internal like the sketch estimates, with FunctionsSpec
    * pinning exact piece sequences on fixtures.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeFirstMerges(spark, dir)
      .select(col("pair"))
      .collect()
      .map(_.getString(0))
      .toIndexedSeq
    Tables
      .documents(spark, dir)
      .select(col("doc_id"),
              graft.functions.TextExprs.bpeEncodeStats(col("text"), merges)
                .as("s"))
      .select(col("doc_id"),
              col("s.n_words").as("n_words"),
              col("s.n_chars").as("n_chars"),
              col("s.round_trip").as("round_trip_ok"),
              col("s.bounds_ok").as("bounds_ok"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/valid/test split summary: every document lands
    * in a split by `poly_hash(doc_id) mod 100` (train < 90, valid < 95,
    * else test) — reproducible across engines, runs, and retries, the
    * property a training pipeline needs so no example ever migrates
    * between splits. Summary per (split × source) proves the assignment
    * and its balance in one map pass + one tiny aggregation; the split
    * column itself is the same expression any consumer would filter on.
    */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .withColumn(
        "bucket",
        graft.functions.TextExprs.polyHash(col("doc_id").cast("string")) % 100)
      .withColumn("split",
                  when(col("bucket") < 90, "train")
                    .when(col("bucket") < 95, "valid")
                    .otherwise("test"))
      .withColumn("n_tokens",
                  size(split(trim(col("text")), "\\s+")).cast("long"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("split"), col("source"))

  /** Sequence-length histogram: documents bucketed by token count
    * (width 32, capped at bucket 15) — the length-distribution profile a
    * pipeline checks before choosing a packing budget ([[packSequences]])
    * or truncation length. One scan, one tiny aggregation; integer-only
    * output so the histogram is engine-exact.
    */
  def docLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .withColumn("n_tokens",
                  size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("bucket", least(expr("n_tokens div 32"), lit(15L)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           min(col("n_tokens")).as("min_tokens"),
           max(col("n_tokens")).as("max_tokens"),
           sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("bucket"))

  /** Vocabulary coverage: the smallest top-frequency vocabulary whose
    * tokens cover ≥ {50, 90, 99}% of corpus occurrences — the number a
    * tokenizer design starts from. Integer cumulative sums over the
    * (freq desc, token) order; the ranking window runs on the aggregated
    * vocabulary, not the corpus.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vocab = Tables
      .documents(spark, dir)
      .select(explode(graft.functions.TextExprs.tokenCounts(col("text"))).as("tc"))
      .groupBy(col("tc.token").as("token"))
      .agg(sum(col("tc.tf")).as("freq"))
    val cum = vocab
      .withColumn("cum", sum(col("freq")).over(w))
      .withColumn(
        "rank",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("freq").desc, col("token"))).cast("long"))
    val total = broadcast(vocab.agg(sum(col("freq")).as("total_occ"),
                                    count(lit(1)).as("vocab_size")))
    val pcts = Seq(50, 90, 99)
    // ONE pass: conditional min-rank per threshold (exact integer
    // compare cum·100 ≥ p·total), then the single row unpivots
    val mins = pcts.map(p =>
      min(when(col("cum") * 100 >= lit(p.toLong) * col("total_occ"),
               col("rank"))).as(s"n$p"))
    val one = cum
      .crossJoin(total)
      .agg(mins.head, mins.tail :+
        first(col("vocab_size")).as("vocab_size") :+
        first(col("total_occ")).as("total_occ"): _*)
    one
      .select(explode(array(pcts.map(p =>
        struct(lit(p.toLong).as("coverage_pct"), col(s"n$p").as("n_vocab"),
               col("vocab_size"), col("total_occ"))): _*)).as("r"))
      .select(col("r.coverage_pct"), col("r.n_vocab"), col("r.vocab_size"),
              col("r.total_occ"))
      .orderBy(col("coverage_pct"))
  }

  /** Dataset profile: per-column row/null/distinct counts (plus numeric
    * min/max/avg for the metric column) — the "analyze table" pass a
    * pipeline runs before training to catch schema drift and null
    * regressions. ONE scan: all statistics aggregate in a single pass
    * (Spark plans the multi-distinct via Expand), and the single result
    * row explodes into per-column rows; min/max/avg are exact picks or
    * 4-dp-rounded, so the profile is engine-stable.
    */
  def profileEvents(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val agg = Tables
      .events(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        cols.map(c => count(col(c)).as(s"nn_$c")) ++
          cols.map(c => count_distinct(col(c)).as(s"nd_$c")) ++
          Seq(min(col("value")).as("min_value"),
              max(col("value")).as("max_value"),
              round(avg(col("value")), 4).as("avg_value")): _*
      )
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        col("n_rows").as("n_rows"),
        (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
        col(s"nd_$c").as("n_distinct"),
        (if (c == "value") col("min_value") else lit(null).cast("double"))
          .as("min_d"),
        (if (c == "value") col("max_value") else lit(null).cast("double"))
          .as("max_d"),
        (if (c == "value") col("avg_value") else lit(null).cast("double"))
          .as("avg_d")
      )
    }
    agg
      .select(explode(array(rows: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column"))
  }

  // ---- DuckDB oracles ----------------------------------------------------

  /** poly_hash as a DuckDB BIGINT fold (see PolyHashExpr). */
  private val polyHashSql =
    """list_reduce(
      |  list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, len(eid) + 1),
      |      j -> CAST(ascii(substr(eid, CAST(j AS INT), 1)) AS BIGINT))),
      |  (a, c) -> (a * 257 + c) % 1000000007)""".stripMargin

  private val ratesSqlCase =
    RatesPerMille
      .map { case (t, r) => s"WHEN event_type = '$t' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0 END")

  /** Chunk geometry for [[chunkDocuments]]: 64-token windows every 48
    * tokens (16-token overlap) — dev-scale stand-ins for the 2k/1.5k
    * windows a context-length-bound training or RAG pipeline uses.
    */
  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** Fixed-token-window chunking with stride — the pass that turns
    * variable-length documents into training/RAG sequences of bounded
    * length with overlap. Pure per-document map (explode factor
    * ⌈n/stride⌉, no shuffle until the presentation sort); chunk content
    * is emitted as md5 so the row stays scalar for the oracle gate.
    *
    * Emission stops once a window reaches the document end (start ≤
    * n − window + stride): a later start would produce a chunk wholly
    * contained in the previous one — verbatim-duplicate sequences in a
    * pipeline whose other half exists to remove duplicates.
    */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"),
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
                .as("t"))
      .select(col("doc_id"), size(col("t")).as("n"),
              posexplode(transform(
                sequence(lit(1),
                         greatest(lit(1),
                                  size(col("t")) - (ChunkTokens - ChunkStride)),
                         lit(ChunkStride)),
                s => struct(
                  s.cast("long").as("start"),
                  md5(concat_ws(" ", slice(col("t"), s, lit(ChunkTokens))))
                    .as("h")))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_index"),
              col("col.start").as("start_token"),
              least(lit(ChunkTokens), col("n") - col("col.start") + 1)
                .cast("long").as("n_chunk_tokens"),
              col("col.h").as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_index"))

  /** Temperature-based source mixing weights (the multilingual /
    * multi-source resampling rule: w_s ∝ p_s^α normalized): per source,
    * the raw document share and the α-tempered sampling weight. Because
    * (n_s/N)^α / Σ(n_t/N)^α = n_s^α / Σ n_t^α, the N factor cancels and
    * the whole query is one tiny groupBy plus a broadcast scalar — no
    * second pass over the corpus.
    *
    * α is FIXED at 0.5 (temperature 2), written as `sqrt` in both the
    * Spark query and the oracle: sqrt is IEEE-correctly-rounded on every
    * engine, so the comparison is bit-exact. Production pipelines often
    * use α≈0.7 (mT5/XLM-R); generalizing means `pow(n, α)` on BOTH
    * sides and accepting last-ulp cross-engine drift in the oracle.
    */
  def sourceMixWeights(spark: SparkSession, dir: String): DataFrame = {
    // grand totals via a global window over the POST-AGGREGATION frame
    // (one row per source): a crossJoin(agg) formulation would consume
    // the aggregated subtree twice and re-scan the corpus for a 5-row
    // denominator; the single-partition window touches only the tiny
    // aggregate. ORDER BY source with an unbounded frame fixes the
    // float accumulation order on both engines — an unordered sum folds
    // in arrival order, which need not match across engines, and sqrt's
    // bit-exactness is worthless if the Σsqrt differs by an ulp
    val all = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables
      .documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("source"), col("n_docs"),
        round(col("n_docs").cast("double") /
                sum(col("n_docs")).over(all).cast("double"),
              6).as("p_raw"),
        round(sqrt(col("n_docs").cast("double")) /
                sum(sqrt(col("n_docs").cast("double"))).over(all),
              6).as("weight"))
      .orderBy(col("source"))
  }

  /** Materialized temperature resampling — [[sourceMixWeights]]'s rule
    * APPLIED: each language's documents are replicated/thinned to hit
    * the α=0.5-tempered share (mixing key is `lang`, the classic
    * multilingual mix; the synthetic corpus is en-heavy by language but
    * uniform by `source`, which would make a source mix a no-op). The
    * per-doc copy count is `floor(rate)` plus one more iff a
    * deterministic hash draw falls under the fractional remainder — the
    * epoch-repetition form mT5/XLM-R-style pipelines use for
    * low-resource upsampling, with expected output size exactly N.
    *
    * Scale shape: tiny groupBy for per-lang counts, broadcast of the
    * 5-row rate table, then a pure codegen'd map + explode — no window,
    * no per-lang partition (a `row_number`-based "take first nₗ"
    * selection would serialize each language in one task; the hash-rate
    * form has no hot partition at any corpus size). Determinism: rate =
    * N / (sqrt(nₗ) · Σ√) uses only IEEE-exact or correctly-rounded ops
    * with a fixed-order Σ, so Spark and DuckDB agree bit-for-bit; the
    * fractional draw compares 20-bit md5 residues against
    * `(rate−⌊rate⌋)·2²⁰` built from the same exact pieces.
    */
  /** α=0.5 temperature copy counts for an arbitrary (doc_id, lang, …)
    * frame — rates derive from the GIVEN frame's language counts, so
    * [[temperatureResample]] applies it to the raw corpus and
    * [[curationManifest]] to the dedup survivors. Columns of `docs`
    * ride through with `n_copies` appended.
    */
  private[operators] def resampleCopies(docs: DataFrame): DataFrame = {
    val all = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = docs
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(
        col("lang"),
        (sum(col("n_docs")).over(all).cast("double") /
          (sqrt(col("n_docs").cast("double")) *
            sum(sqrt(col("n_docs").cast("double"))).over(all))).as("rate"))
    docs
      .join(broadcast(rates), "lang")
      .withColumn("base", floor(col("rate")))
      // 20-bit md5 residue: the polynomial hash is NOT avalanche-mixed
      // for short numeric ids (consecutive ids → banded residues), so
      // the fractional draw uses md5 — portable to the oracle via the
      // strpos-hex-digit expansion already used by the sketch oracles
      .withColumn("hmod",
                  conv(substring(md5(col("doc_id").cast("string")), 1, 5), 16, 10)
                    .cast("long"))
      .withColumn("n_copies",
                  col("base") +
                    when(col("hmod").cast("double") <
                           (col("rate") - col("base").cast("double")) * lit(1048576.0),
                         lit(1L)).otherwise(lit(0L)))
      .drop("rate", "base", "hmod")
  }

  def temperatureResample(spark: SparkSession, dir: String): DataFrame =
    resampleCopies(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang")))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("lang"),
              explode(sequence(lit(1L), col("n_copies"))).as("copy_index"))
      .orderBy(col("doc_id"), col("copy_index"))

  /** The CAPSTONE composite: the whole curation pipeline as ONE
    * dataflow — dedup-cascade survivors → deterministic train/valid/test
    * assignment (the [[datasetSplit]] hash sentence) → α=0.5 temperature
    * resampling with rates computed over the SURVIVING corpus (resample
    * after cleaning, the order a real pipeline runs) → the per
    * (split, language) manifest a training run reads: document count,
    * post-resample copy count, and copy-weighted token budget.
    *
    * Every stage reuses the exact building block its standalone query
    * is checked by — [[DedupOps.cascadeKept]] reads the persisted
    * verdict frame, the split is the same polynomial-hash sentence,
    * [[resampleCopies]] is the same fold `temperature_resample`
    * verifies — so the composite's oracle match certifies the STAGES
    * COMPOSE, not just that each works alone. Scale shape: one verdict
    * join on doc_id, one broadcast rate table, one final tiny
    * aggregation; the heavy lifting (LSH, SimHash) is amortized in the
    * shared cascade store.
    */
  def curationManifest(spark: SparkSession, dir: String): DataFrame = {
    val kept = Tables
      .documents(spark, dir)
      .join(graft.operators.DedupOps.cascadeKept(spark, dir), "doc_id")
      .select(col("doc_id"), col("lang"),
              size(split(trim(col("text")), "\\s+")).cast("long")
                .as("n_tokens"))
    val withSplit = kept
      .withColumn("bucket",
                  graft.functions.TextExprs
                    .polyHash(col("doc_id").cast("string")) % 100)
      .withColumn("split",
                  when(col("bucket") < 90, "train")
                    .when(col("bucket") < 95, "valid")
                    .otherwise("test"))
    resampleCopies(withSplit)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_copies")).as("n_copies"),
           sum(col("n_tokens") * col("n_copies")).as("n_tokens_resampled"))
      .orderBy(col("split"), col("lang"))
  }

  /** Post-resample mix audit: did [[temperatureResample]] actually land
    * the α=0.5 target? Per language: realized copy count, the
    * sqrt-proportional target share, the realized share, and a
    * `mix_ok` gate (|realized − target| ≤ 5 points — generous against
    * the ±1-copy fractional-draw granularity at small corpora). Both
    * engines derive every double from the same exact integers with the
    * same fixed-order Σ√, so even the booleans are engine-exact. One
    * extra aggregation over the resample output; windows touch only the
    * per-language frame.
    */
  def resampledMix(spark: SparkSession, dir: String): DataFrame = {
    val all = Window.orderBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val realized = temperatureResample(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_copies"))
    val targets = Tables
      .documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("lang"),
              (sqrt(col("n_docs").cast("double")) /
                sum(sqrt(col("n_docs").cast("double"))).over(all))
                .as("target_share"))
    val share = col("n_copies").cast("double") / col("total").cast("double")
    // LEFT join from targets (which has every language) so a language
    // whose every document drew 0 copies still appears with n_copies=0,
    // matching the oracle's sum-including-zeros CTE
    targets
      .join(realized, Seq("lang"), "left")
      .withColumn("n_copies", coalesce(col("n_copies"), lit(0L)))
      .withColumn("total", sum(col("n_copies")).over(all))
      .select(col("lang"), col("n_copies"),
              round(col("target_share"), 6).as("target_share"),
              round(share, 6).as("realized_share"),
              (abs(share - col("target_share")) <= lit(0.05)).as("mix_ok"))
      .orderBy(col("lang"))
  }

  /** Shared CTE chain of the temperature-resample oracle (counts →
    * rates → md5 draw → per-doc copy counts), reused by
    * `temperature_resample` and `resampled_mix`.
    */
  /** The α=0.5 copy-count CTE chain (c→r→d→h→n) over an arbitrary doc
    * source — `documents` for the resample queries, the cascade-kept
    * set for `curation_manifest`.
    */
  private def resampleCtesFrom(src: String): String =
    s"""c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM $src GROUP BY 1),
       |r AS (
       |  SELECT lang,
       |         CAST(sum(n_docs) OVER w AS DOUBLE) /
       |         (sqrt(CAST(n_docs AS DOUBLE)) * sum(sqrt(CAST(n_docs AS DOUBLE))) OVER w) AS rate
       |  FROM c
       |  WINDOW w AS (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       |),
       |d AS (
       |  SELECT doc_id, lang, rate, md5(CAST(doc_id AS VARCHAR)) AS mh
       |  FROM $src JOIN r USING (lang)
       |),
       |h AS (
       |  SELECT doc_id, lang, rate, floor(rate) AS base,
       |         (strpos('0123456789abcdef', substr(mh, 1, 1)) - 1) * 65536 +
       |         (strpos('0123456789abcdef', substr(mh, 2, 1)) - 1) * 4096 +
       |         (strpos('0123456789abcdef', substr(mh, 3, 1)) - 1) * 256 +
       |         (strpos('0123456789abcdef', substr(mh, 4, 1)) - 1) * 16 +
       |         (strpos('0123456789abcdef', substr(mh, 5, 1)) - 1) AS hmod
       |  FROM d
       |),
       |n AS (
       |  SELECT doc_id, lang,
       |         CAST(base AS BIGINT) +
       |         CASE WHEN CAST(hmod AS DOUBLE) < (rate - base) * 1048576.0
       |              THEN 1 ELSE 0 END AS n_copies
       |  FROM h
       |)""".stripMargin

  /** Exactly-k-per-stratum sample: the 5 documents per source with the
    * smallest salted-md5 draw — the fixed-COUNT complement to
    * [[stratifiedSample]]'s fixed-RATE draw (a data card wants "show me
    * 5 examples per source", not "0.1% of each"). Hash-ranked selection
    * makes it deterministic across engines, runs, and partitionings;
    * the ranking runs through the dedicated per-key top-k operator
    * ([[graft.plans.TopKPerKeyPlan]]), whose partial pre-shuffle pass
    * caps the exchange at k·splits rows per source — a 100 TB corpus
    * ships 5 rows per source per split, never the corpus.
    */
  def reservoirSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .withColumn("draw",
                  md5(concat(lit("rs|"), col("doc_id").cast("string"))))
    graft.plans.TopK
      .perKey(docs, Seq("source"), Seq("draw" -> true, "doc_id" -> true), 5,
              "rank")
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rank"))
  }

  /** Quantile normalization of document lengths across sources — the
    * batch-effect correction a mixed-corpus quality pipeline applies
    * before comparing scores from crawls with different length
    * distributions: each document's WITHIN-SOURCE rank maps to the
    * GLOBAL nearest-rank quantile at the same rank fraction, so every
    * source's normalized distribution becomes the shared global one
    * while each source's internal ordering is preserved. All index
    * arithmetic is exact integers (`(r−1)·N DIV n_s + 1`), ranks
    * tie-break on doc_id for a total order, and the normalized value is
    * a lookup into the global rank manifest — never interpolation.
    *
    * Scale, stated honestly: exact quantile normalization needs the
    * global sorted order, so the manifest window is a corpus-wide sort
    * — inherent to the EXACT form (same caveat family as
    * `robust_stats`); the 100 TB variant feeds the identical rank→index
    * mapping from the mergeable KLL sketch (`kll_by_day`'s family)
    * instead of the exact manifest. The per-source rank window
    * partitions by source.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars"), col("doc_id"))
    val nTotal = docs.groupBy().agg(count(lit(1)).as("n_total"))
    val ranked = docs
      .withColumn("r", row_number().over(wSrc).cast("long"))
      .withColumn("n_s",
                  count(lit(1)).over(org.apache.spark.sql.expressions.Window
                    .partitionBy(col("source"))))
      .crossJoin(broadcast(nTotal))
      .withColumn("gi", expr("(r - 1L) * n_total DIV n_s + 1L"))
    val manifest = docs
      .withColumn("grank", row_number().over(wGlobal).cast("long"))
      .select(col("grank"), col("n_chars").as("norm_chars"))
    ranked
      .join(manifest, col("gi") === col("grank"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("r"),
              col("norm_chars"))
      .orderBy(col("source"), col("r"))
  }

  private val resampleCtes = resampleCtesFrom("documents")

  val oracles: Map[String, String] = Map(
    "quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |n AS (SELECT count(*) AS n_total FROM d),
        |ranked AS (
        |  SELECT d.*, n.n_total,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY n_chars, doc_id)
        |              AS BIGINT) AS r,
        |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_s
        |  FROM d, n
        |),
        |manifest AS (
        |  SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id)
        |              AS BIGINT) AS grank,
        |         n_chars AS norm_chars
        |  FROM d
        |)
        |SELECT ranked.doc_id, ranked.source, ranked.n_chars, ranked.r,
        |       manifest.norm_chars
        |FROM ranked
        |JOIN manifest ON (ranked.r - 1) * ranked.n_total // ranked.n_s + 1
        |                 = manifest.grank
        |ORDER BY ranked.source, ranked.r""".stripMargin,
    "reservoir_sample" ->
      """WITH d AS (
        |  SELECT source, doc_id, n_chars,
        |         md5('rs|' || CAST(doc_id AS VARCHAR)) AS draw
        |  FROM documents
        |),
        |r AS (
        |  SELECT source, doc_id, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source
        |                                 ORDER BY draw, doc_id) AS INT)
        |           AS rank
        |  FROM d
        |)
        |SELECT source, rank, doc_id, n_chars
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "curation_manifest" ->
      ("WITH keptd AS (\n" +
        "  SELECT d.doc_id, d.lang,\n" +
        "         CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens,\n" +
        "         CAST(d.doc_id AS VARCHAR) AS eid\n" +
        "  FROM documents d JOIN (\n" + graft.operators.DedupOps.cascadeSql +
        "\n) cv USING (doc_id)\n" +
        "  WHERE cv.kept\n" +
        "),\n" +
        "sp AS (SELECT *, " + polyHashSql.replace("\n", " ") + " % 100 AS bucket FROM keptd),\n" +
        "spl AS (SELECT doc_id,\n" +
        "               CASE WHEN bucket < 90 THEN 'train'\n" +
        "                    WHEN bucket < 95 THEN 'valid'\n" +
        "                    ELSE 'test' END AS split\n" +
        "        FROM sp),\n" +
        resampleCtesFrom("keptd") + "\n" +
        "SELECT spl.split, n.lang, count(*) AS n_docs,\n" +
        "       CAST(sum(n.n_copies) AS BIGINT) AS n_copies,\n" +
        "       CAST(sum(k.n_tokens * n.n_copies) AS BIGINT) AS n_tokens_resampled\n" +
        "FROM n JOIN spl USING (doc_id) JOIN keptd k USING (doc_id)\n" +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "chunk_documents" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
         |  FROM documents
         |)
         |SELECT doc_id,
         |       CAST(p.i AS BIGINT) AS chunk_index,
         |       CAST(1 + p.i * $ChunkStride AS BIGINT) AS start_token,
         |       CAST(least($ChunkTokens, len(t) - p.i * $ChunkStride) AS BIGINT) AS n_chunk_tokens,
         |       md5(array_to_string(t[(1 + p.i * $ChunkStride):(p.i * $ChunkStride + $ChunkTokens)], ' ')) AS chunk_hash
         |FROM d, UNNEST(range(0, (greatest(1, len(t) - ${ChunkTokens - ChunkStride}) + ${ChunkStride - 1}) // $ChunkStride)) p(i)
         |ORDER BY doc_id, chunk_index""".stripMargin,
    "temperature_resample" ->
      s"""WITH $resampleCtes
         |SELECT doc_id, lang, CAST(u.i AS BIGINT) AS copy_index
         |FROM n, UNNEST(range(1, n_copies + 1)) u(i)
         |WHERE n_copies >= 1
         |ORDER BY doc_id, copy_index""".stripMargin,
    "resampled_mix" ->
      s"""WITH $resampleCtes,
         |re AS (SELECT lang, CAST(sum(n_copies) AS BIGINT) AS n_copies
         |       FROM n GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_copies) AS BIGINT) AS total FROM re),
         |tgt AS (
         |  SELECT lang,
         |         sqrt(CAST(n_docs AS DOUBLE)) /
         |         sum(sqrt(CAST(n_docs AS DOUBLE))) OVER w AS target_share
         |  FROM c
         |  WINDOW w AS (ORDER BY lang ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |)
         |SELECT lang, n_copies,
         |       round(target_share, 6) AS target_share,
         |       round(CAST(n_copies AS DOUBLE) / CAST(total AS DOUBLE), 6)
         |         AS realized_share,
         |       abs(CAST(n_copies AS DOUBLE) / CAST(total AS DOUBLE)
         |           - target_share) <= 0.05 AS mix_ok
         |FROM re JOIN tgt USING (lang) CROSS JOIN tot
         |ORDER BY lang""".stripMargin,
    "source_mix_weights" ->
      """WITH s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1
        |)
        |SELECT source, n_docs,
        |       round(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER w AS DOUBLE), 6) AS p_raw,
        |       round(sqrt(CAST(n_docs AS DOUBLE)) / sum(sqrt(CAST(n_docs AS DOUBLE))) OVER w, 6) AS weight
        |FROM s
        |WINDOW w AS (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY source""".stripMargin,
    "stratified_sample" ->
      s"""WITH e AS (SELECT *, CAST(event_id AS VARCHAR) AS eid FROM (${Tables.eventsSql}) ee),
         |h AS (SELECT *, $polyHashSql % 1000 AS bucket FROM e)
         |SELECT event_id, event_type, ts, user_id, value, bucket
         |FROM h WHERE bucket < ($ratesSqlCase)
         |ORDER BY event_id""".stripMargin,
    "pps_sample" ->
      s"""WITH d AS (SELECT doc_id, source, n_chars,
         |                  CAST(doc_id AS VARCHAR) || ':pps' AS eid FROM documents),
         |t AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w_total
         |      FROM d GROUP BY 1),
         |h AS (SELECT d.doc_id, d.source, d.n_chars, d.eid, t.w_total,
         |             $polyHashSql % $PpsModulus AS u
         |      FROM d JOIN t USING (source))
         |SELECT doc_id, source, n_chars,
         |       round(CASE WHEN $PpsTargetPerSource * n_chars >= w_total THEN 1.0
         |                  ELSE CAST(w_total AS DOUBLE) /
         |                       CAST($PpsTargetPerSource * n_chars AS DOUBLE)
         |             END, 6) AS ht_weight
         |FROM h
         |WHERE u * w_total < $PpsTargetPerSource * n_chars * $PpsModulus
         |ORDER BY doc_id""".stripMargin,
    // the sketch is provably exact at the default k (> corpus vocab), so
    // the oracle states est = exact, max_err = 0, gate true — any
    // nondeterminism or bound violation on the Spark side breaks the hash
    "approx_top_tokens" ->
      """WITH t AS (
        |  SELECT u.token
        |  FROM documents,
        |       UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) u(token)
        |),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_count FROM t GROUP BY token)
        |SELECT token, exact_count AS est_count, CAST(0 AS BIGINT) AS max_err,
        |       exact_count, true AS within_bound
        |FROM c ORDER BY est_count DESC, token LIMIT 25""".stripMargin,
    // the heavy-hitter drain (StreamDrain.streamTopTokensDrain): the
    // streamed Misra-Gries fold is provably exact at k=64 > corpus
    // vocab (same argument as approx_top_tokens above), so the oracle
    // is the exact per-language top-10 with the (est desc, token)
    // tie-break the sketch's finish() uses
    "stream_toptokens_drain" ->
      """WITH t AS (
        |  SELECT lang, u.token
        |  FROM documents,
        |       UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) u(token)
        |),
        |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS est
        |      FROM t GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |                                   ORDER BY est DESC, token) AS rn
        |      FROM c)
        |SELECT lang, token, est, CAST(0 AS BIGINT) AS maxerr
        |FROM r WHERE rn <= 10 ORDER BY lang, est DESC, token""".stripMargin,
    "zipf_fit" ->
      """WITH t AS (
        |  SELECT doc_id, u.token
        |  FROM documents,
        |       UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) u(token)
        |),
        |td AS (SELECT token, doc_id, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS f FROM td GROUP BY 1),
        |top AS (SELECT token, f FROM v ORDER BY f DESC, token LIMIT 1000),
        |g AS (
        |  SELECT count(*) AS n_points,
        |         list(CAST(f AS DOUBLE) ORDER BY -f, token) AS fs
        |  FROM top
        |),
        |ff AS (
        |  SELECT n_points,
        |         list_reduce(
        |           list_prepend(list_transform(range(0, 6),
        |                                       z -> CAST(0 AS DOUBLE)),
        |             list_transform(fs, x -> [x, 0, 0, 0, 0, 0])),
        |           (acc, e) -> [
        |             acc[1] + 1,
        |             acc[2] + ln(acc[1] + 1),
        |             acc[3] + ln(e[1]),
        |             acc[4] + ln(acc[1] + 1) * ln(acc[1] + 1),
        |             acc[5] + ln(acc[1] + 1) * ln(e[1]),
        |             acc[6] + ln(e[1]) * ln(e[1])]) AS st
        |  FROM g
        |)
        |SELECT n_points,
        |       round(CASE WHEN n_points >= 2
        |             THEN (st[1] * st[5] - st[2] * st[3])
        |                  / (st[1] * st[4] - st[2] * st[2]) END, 6)
        |         AS zipf_slope,
        |       round(CASE WHEN n_points >= 2
        |             THEN (st[3] - ((st[1] * st[5] - st[2] * st[3])
        |                            / (st[1] * st[4] - st[2] * st[2]))
        |                           * st[2]) / st[1] END, 6) AS intercept,
        |       round(CASE WHEN n_points >= 2
        |                   -- varF = 0 guard mirroring the Spark side:
        |                   -- DuckDB's IEEE division would yield NaN for
        |                   -- 0/0, not NULL, and the engines would diverge
        |                   -- on an all-equal-frequency corpus
        |                   AND st[1] * st[6] - st[3] * st[3] <> 0
        |             THEN ((st[1] * st[5] - st[2] * st[3])
        |                   * (st[1] * st[5] - st[2] * st[3]))
        |                  / ((st[1] * st[4] - st[2] * st[2])
        |                     * (st[1] * st[6] - st[3] * st[3])) END, 6)
        |         AS r2
        |FROM ff""".stripMargin,
    "vocab_topk" ->
      """WITH t AS (
        |  SELECT doc_id, u.token
        |  FROM documents,
        |       UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) u(token)
        |),
        |td AS (SELECT token, doc_id, count(*) AS tf FROM t GROUP BY 1, 2)
        |SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences, count(*) AS doc_frequency
        |FROM td GROUP BY token
        |ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin,
    "pack_sequences" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents
         |),
         |c AS (
         |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM d
         |)
         |SELECT doc_id, source, n_tokens,
         |       cum_tokens - n_tokens AS offset_tokens,
         |       CAST(floor((cum_tokens - n_tokens) / $PackBudget) AS BIGINT) AS bin
         |FROM c ORDER BY source, doc_id""".stripMargin,
    "vocab_coverage" ->
      """WITH t AS (
        |  SELECT u.token
        |  FROM documents,
        |       UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) u(token)
        |),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM t GROUP BY 1),
        |c AS (
        |  SELECT freq,
        |         CAST(sum(freq) OVER (ORDER BY freq DESC, token
        |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |         CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
        |  FROM v
        |),
        |tt AS (SELECT CAST(sum(freq) AS BIGINT) AS total_occ,
        |              count(*) AS vocab_size FROM v),
        |p(coverage_pct) AS (VALUES (CAST(50 AS BIGINT)), (CAST(90 AS BIGINT)), (CAST(99 AS BIGINT)))
        |SELECT coverage_pct,
        |       min(CASE WHEN cum * 100 >= coverage_pct * total_occ THEN rank END) AS n_vocab,
        |       first(vocab_size) AS vocab_size,
        |       first(total_occ) AS total_occ
        |FROM c CROSS JOIN tt CROSS JOIN p
        |GROUP BY coverage_pct ORDER BY coverage_pct""".stripMargin,
    "dataset_split" ->
      s"""WITH d AS (SELECT *, CAST(doc_id AS VARCHAR) AS eid FROM documents),
         |h AS (SELECT *, $polyHashSql % 100 AS bucket FROM d),
         |s AS (
         |  SELECT *, CASE WHEN bucket < 90 THEN 'train'
         |                 WHEN bucket < 95 THEN 'valid'
         |                 ELSE 'test' END AS split,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM h
         |)
         |SELECT split, source, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "doc_length_histogram" ->
      """WITH d AS (
        |  SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT least(n_tokens // 32, 15) AS bucket,
        |       count(*) AS n_docs,
        |       min(n_tokens) AS min_tokens,
        |       max(n_tokens) AS max_tokens,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "bpe_encode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
        |       CAST(length(array_to_string(t, '')) AS BIGINT) AS n_chars,
        |       true AS round_trip_ok, true AS bounds_ok
        |FROM d ORDER BY doc_id""".stripMargin,
    "bpe_first_merges" ->
      """WITH t AS (
        |  SELECT u.token
        |  FROM documents,
        |       UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) u(token)
        |),
        |v AS (SELECT token, count(*) AS freq FROM t GROUP BY 1),
        |p AS (
        |  SELECT substring(token, CAST(r.i AS INT), 2) AS pair, freq
        |  FROM v, UNNEST(range(1, length(token))) r(i)
        |  WHERE length(token) >= 2
        |)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
        |FROM p GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin,
    "profile_events" -> {
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      cols
        .map { c =>
          val isV = c == "value"
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |       count(*) - count($c) AS n_nulls,
             |       count(DISTINCT $c) AS n_distinct,
             |       ${if (isV) "min(value)" else "CAST(NULL AS DOUBLE)"} AS min_d,
             |       ${if (isV) "max(value)" else "CAST(NULL AS DOUBLE)"} AS max_d,
             |       ${if (isV) "round(avg(value), 4)" else "CAST(NULL AS DOUBLE)"} AS avg_d
             |FROM (${Tables.eventsSql}) e_$c""".stripMargin
        }
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
    },
    "quality_filter" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents
        |),
        |t AS (
        |  SELECT doc_id, norm, md5(norm) AS content_hash,
        |         string_split(norm, ' ') AS tokens
        |  FROM d
        |),
        |m AS (
        |  SELECT doc_id, content_hash,
        |         CAST(len(tokens) AS BIGINT) AS n_tokens,
        |         round(CAST(len(list_filter(tokens, x -> list_contains(
        |                 ['the','a','an','of','to','and','in','is','it','for','on','with'], x))) AS DOUBLE)
        |               / greatest(len(tokens), 1), 6) AS stopword_ratio,
        |         round(CAST(len(list_distinct(tokens)) AS DOUBLE)
        |               / greatest(len(tokens), 1), 6) AS unique_ratio
        |  FROM t
        |),
        |canon AS (SELECT content_hash, min(doc_id) AS canonical_doc_id FROM m GROUP BY 1),
        |r AS (
        |  SELECT m.*, canon.canonical_doc_id,
        |         CASE WHEN m.doc_id <> canon.canonical_doc_id THEN 'exact_duplicate'
        |              WHEN n_tokens < 10 THEN 'too_short'
        |              WHEN NOT (stopword_ratio BETWEEN 0.05 AND 0.6) THEN 'stopword_ratio'
        |              WHEN unique_ratio < 0.3 THEN 'low_diversity'
        |              ELSE 'kept' END AS reason
        |  FROM m JOIN canon USING (content_hash)
        |)
        |SELECT doc_id, n_tokens, stopword_ratio, unique_ratio, canonical_doc_id,
        |       reason = 'kept' AS kept, reason
        |FROM r ORDER BY doc_id""".stripMargin
  )
}
