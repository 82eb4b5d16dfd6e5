package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** Corpus search / relevance scoring over the documents table — the
  * retrieval-side counterpart of the dedup and text-quality families: a
  * training-data pipeline uses exactly these passes for corpus search,
  * example mining, and LM-quality filtering at 100 TB.
  *
  * Cross-engine determinism notes (these queries are float-heavy):
  * - `ln` is bit-identical between Java's `Math.log` and DuckDB's `ln`
  *   over this domain (verified empirically over the full (N, df) grid
  *   used here), so idf values carry identical bits in both engines.
  * - Every float reduction is either a FIXED-ARITY sum written with the
  *   same association on both sides, or a sequential left fold over a
  *   token-sorted list (`aggregate` ≡ `list_reduce`) — never an
  *   engine-native float aggregate whose accumulation order differs.
  * - All emitted floats go through [[graft.functions.Rounding.round]].
  */
object SearchOps {

  /** BM25 parameters (Robertson/Spärck Jones; standard defaults). */
  private val K1 = 1.2
  private val B = 0.75

  /** The fixed search query for [[bm25Search]] — a config value in real
    * use; static here so the oracle can inline it.
    */
  private val QueryTerms = Seq("spark", "join", "window")

  /** (doc_id, token, tf) from ONE native token_counts pass — same shape
    * as [[PipelineOps.vocabTopK]]: the per-token aggregation is the only
    * shuffle, with effective map-side combine.
    */
  /** Per-dataset persisted (doc, token, tf) posting frame: the
    * tokenization pass is the expensive stage of every LM-scoring
    * query, and unpersisted it re-runs per consumer (`tfidf_topterms`,
    * `dsir_weights`, `doc_logprob` → `perplexity_buckets`) AND twice
    * inside docLogprob itself (vocabulary aggregate + posting join are
    * different subtrees, so ReuseExchange cannot share their scans).
    * Same idiom as DedupOps.shingleStore — at cluster scale this is the
    * written postings table every retrieval pipeline materializes.
    */
  private def termFreqs(spark: SparkSession, dir: String): DataFrame =
    FrameStore.shared.getOrBuild(spark, dir, "termFreqs") {
      Tables
        .documents(spark, dir)
        .select(col("doc_id"),
                explode(graft.functions.TextExprs.tokenCounts(col("text"))).as("tc"))
        .select(col("doc_id"), col("tc.token").as("token"), col("tc.tf").as("tf"))
    }

  /** One-row (n_docs) frame for broadcast — the scalar-subquery shape. */
  private def nDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))

  /** Per-document top-3 TF-IDF terms — keyword extraction for corpus
    * indexing. idf = ln(N/df); ranked (score desc, token asc) per doc via
    * the dedicated per-key top-k operator ([[graft.plans.TopK]]): the
    * partial stage caps each scan split at 3 rows per doc BEFORE the
    * exchange, so the shuffle moves answers, not the full posting list.
    * The df table stays a plain equi-join on token (AQE broadcasts it
    * when small; at corpus scale it shuffle-joins — a vocabulary is far
    * too large to broadcast by design).
    */
  def tfidfTopterms(spark: SparkSession, dir: String): DataFrame = {
    // df as a COUNT OVER (PARTITION BY token): the single explode pass
    // feeds the window directly — a groupBy+self-join would re-run
    // token_counts over the corpus for the second side and shuffle both
    val terms = termFreqs(spark, dir)
    val scored = terms
      .withColumn(
        "df",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("token"))))
      .crossJoin(broadcast(nDocs(spark, dir)))
      .withColumn(
        "score",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
    graft.plans.TopK
      .perKey(scored,
              keyCols = Seq("doc_id"),
              orderSpec = Seq("score" -> false, "token" -> true),
              k = 3,
              rankName = "rank")
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("token"),
              col("tf"), col("df"), round(col("score"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** BM25 ranking of the corpus against [[QueryTerms]], top 50 docs.
    *
    * Shape (the fixed-query specialization): with the query known at
    * plan time there is NO posting-list shuffle at all — one scan
    * extracts per-doc (tf per query term, dl) from a single pinned
    * token_counts evaluation; corpus statistics (per-term df, n_docs,
    * Σdl) reduce to ONE broadcastable stats row; scoring is a codegen'd
    * map and the top-50 is a TakeOrdered. Two scans total (stats +
    * scoring), zero wide exchanges — at corpus scale the alternative
    * (explode → groupBy token → join) shuffles the full term table to
    * answer a 3-term query.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame = {
    // explode(array(...)) pins token_counts to ONE evaluation per row —
    // referencing it from the tf/dl projections directly would inline
    // the expression into each consumer (see README: with_size barrier)
    val perDoc = Tables
      .documents(spark, dir)
      .select(col("doc_id"),
              explode(array(graft.functions.TextExprs.tokenCounts(col("text"))))
                .as("tc"))
      .select(
        Seq(col("doc_id"),
            aggregate(col("tc"), lit(0L), (a, x) => a + x.getField("tf"))
              .as("dl")) ++
          QueryTerms.zipWithIndex.map { case (t, i) =>
            coalesce(
              get(filter(col("tc"), x => x.getField("token") === t), lit(0))
                .getField("tf"),
              lit(0L)).as(s"tf$i")
          }: _*)
    // every corpus statistic in ONE aggregation: per-term df, n_docs, Σdl
    val stats = broadcast(
      perDoc.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
          QueryTerms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*))
    def contrib(i: Int) = {
      val tfD = col(s"tf$i").cast("double")
      val idf = log(
        (col("n_docs").cast("double") - col(s"df$i").cast("double") + lit(0.5)) /
          (col(s"df$i").cast("double") + lit(0.5)))
      when(
        col(s"tf$i") > 0,
        idf * ((tfD * lit(K1 + 1.0)) /
          (tfD + (lit(K1) * (lit(1.0 - B) +
            (lit(B) * (col("dl").cast("double") / col("avgdl"))))))))
        .otherwise(lit(0.0))
    }
    val scoreSum = QueryTerms.indices
      .map(contrib)
      .reduceLeft(_ + _) // fixed left association, mirrored in the oracle
    val nTerms = QueryTerms.indices
      .map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L))
      .reduceLeft(_ + _)
    perDoc
      .crossJoin(stats)
      .filter(QueryTerms.indices.map(i => col(s"tf$i") > 0).reduceLeft(_ || _))
      .withColumn("score", scoreSum)
      .withColumn("n_terms", nTerms)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_terms"), round(col("score"), 6).as("bm25"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per-doc
    * `logP_target − logP_corpus` under two add-half-smoothed unigram
    * LMs over the SHARED vocabulary — the target LM is fit on the
    * English subset (the "domain" a pretraining pipeline up-samples
    * toward), the reference LM on the whole corpus. Positive weight =
    * more target-like; resampling proportional to `exp(weight)` is the
    * DSIR selection step (the weight itself is what a pipeline stores).
    *
    * Cross-engine exactness: both ln arguments are correctly-rounded
    * rationals of exact integers (`(ctf+0.5)/(T+0.5·V)` — the
    * `doc_logprob_bigram` argument family), and `tools/ln_audit.py`
    * bit-audits every argument this query actually evaluates; the
    * per-doc sum is the token-sorted sequential fold shared by every
    * log-scored query here. Scale shape: one token shuffle (map-side
    * combined) builds BOTH LMs in a single pass (conditional sums), the
    * totals row broadcasts, and the per-doc fold is the same
    * one-aggregation shape as [[docLogprob]].
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val terms = termFreqs(spark, dir)
    val vocab = terms
      .join(docs, "doc_id")
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("ctf_all"),
           sum(when(col("lang") === "en", col("tf")).otherwise(0L))
             .as("ctf_tgt"))
    val totals = broadcast(
      vocab.agg(sum(col("ctf_all")).as("t_all"),
                sum(col("ctf_tgt")).as("t_tgt"),
                count(lit(1)).as("v")))
    def lnSmoothed(ctf: Column, t: Column): Column =
      log((ctf.cast("double") + lit(0.5)) /
        (t.cast("double") + lit(0.5) * col("v").cast("double")))
    val contribs = terms
      .join(vocab, "token")
      .crossJoin(totals)
      .withColumn("contrib",
                  col("tf").cast("double") *
                    (lnSmoothed(col("ctf_tgt"), col("t_tgt")) -
                      lnSmoothed(col("ctf_all"), col("t_all"))))
    contribs
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("token"), col("contrib")))),
          lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("s"))
      .join(docs, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
              round(col("s") / col("n_tokens").cast("double"), 6)
                .as("dsir_weight"))
      .orderBy(col("doc_id"))
  }

  /** Unigram language-model score per document: mean token log-probability
    * under the corpus unigram distribution — the cheap perplexity proxy
    * used as an LM-quality filter (low mean logprob ⇒ unusual/garbled
    * text). Two shuffles total (vocabulary agg, per-doc fold); the
    * per-doc sum is a token-sorted sequential fold so both engines add
    * in the same order.
    */
  def docLogprob(spark: SparkSession, dir: String): DataFrame = {
    val terms = termFreqs(spark, dir)
    val vocab = terms.groupBy(col("token")).agg(sum(col("tf")).as("ctf"))
    val total = broadcast(vocab.agg(sum(col("ctf")).as("t_tokens")))
    val contribs = terms
      .join(vocab, "token")
      .crossJoin(total)
      .withColumn(
        "contrib",
        col("tf").cast("double") *
          log(col("ctf").cast("double") / col("t_tokens").cast("double")))
    contribs
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("token"), col("contrib")))),
          lit(0.0),
          (acc, x) => acc + x.getField("contrib")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
              round(col("s") / col("n_tokens").cast("double"), 6)
                .as("logprob_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM mean log-probability per document — the next step up from
    * [[docLogprob]]'s unigram model and the shape of a KenLM-style
    * quality filter: contrib(i) = ln((c₂(wᵢ₋₁,wᵢ) + 0.5) /
    * (c₁(wᵢ₋₁) + 0.5·V)) with corpus-level counts, where c₁ is the
    * UNIGRAM count of the context word and V the vocabulary size,
    * add-½ smoothed. (The textbook conditional divides by the context
    * count Σ_w c₂ instead; that variant evaluates an ln argument whose
    * Java/DuckDB results differ in the last ulp on this corpus — the
    * audit below caught it — so the unigram form, whose full argument
    * set IS bit-identical, is the one shipped with a hash oracle.)
    *
    * Cross-engine: every ln argument this query evaluates is audited
    * bit-identical between Java and DuckDB by `tools/ln_audit.py`
    * (kind `bg2`) — the precondition for hash-exact log scoring; the
    * per-doc mean is a fixed-order fold over position-sorted contribs.
    * Shape: the pair count is a WINDOW count over the posting frame
    * (no count-join-back, which would re-run the bigram explode per
    * join side); the unigram counts join once on the context word.
    */
  def docLogprobBigram(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables
      .documents(spark, dir)
      .select(col("doc_id"),
              split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
                .as("t"))
    val bigrams = toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"),
              posexplode(transform(
                sequence(lit(1), size(col("t")) - 1),
                i => struct(element_at(col("t"), i).as("prev"),
                            element_at(col("t"), i + 1).as("cur")))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
              col("col.prev").as("prev"), col("col.cur").as("cur"))
    // the unigram context counts derive from the PERSISTED posting
    // frame (termFreqs) instead of a second split() pass over the
    // corpus — sum(tf) per token IS the occurrence count a split()
    // explode counts (token_counts tokenizes identically: trim, lower,
    // whitespace split with trailing-empty kept), and v_size is the
    // distinct-token count either way. Plan: corpus text scans 2 → 1;
    // the hash-exact oracle gates the tokenization equivalence.
    val c1 = termFreqs(spark, dir)
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("c1"))
      .select(col("token").as("w"), col("c1"))
    val vsize = broadcast(c1.agg(count(lit(1)).as("v_size")))
    bigrams
      .withColumn("c2",
                  count(lit(1)).over(Window.partitionBy(col("prev"), col("cur"))))
      .join(c1.withColumnRenamed("w", "prev"), Seq("prev"))
      .crossJoin(vsize)
      .withColumn("contrib",
                  log((col("c2").cast("double") + lit(0.5)) /
                    (col("c1").cast("double") + lit(0.5) * col("v_size"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
           aggregate(
             array_sort(collect_list(struct(col("pos"), col("contrib")))),
             lit(0.0), (acc, x) => acc + x.getField("contrib")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
              round(col("s") / col("n_bigrams").cast("double"), 6)
                .as("logprob_per_bigram"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
    * documents split into head / middle / tail terciles by their
    * unigram-LM mean log-probability ([[docLogprob]] — the cheap
    * perplexity proxy), the standard curation move that keeps the
    * fluent third, samples the middle, and drops the tail.
    *
    * Deliberately WINDOW-FREE (an `ntile` over a per-language window
    * materializes each language's whole corpus in one task — the same
    * hot-partition shape dup_span_fraction had to shed): cutoffs are
    * per-language exact nearest-rank-floor terciles computed with one
    * mergeable sorted-list AGGREGATE (same dataflow as A2's p95; a
    * 100 TB run swaps in `approx_percentile` with identical shape),
    * then bucket assignment is a broadcast join + pure map, and the
    * final rollup is a low-cardinality groupBy. Ties at a cutoff
    * resolve by VALUE (≤), so identical texts land in identical
    * buckets — value-deterministic where ntile's id-tiebreak is not.
    * The bucket average is summed in integer micro-units so it is
    * independent of partition order (same idiom as quality_by_verdict).
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val byLang = docLogprob(spark, dir)
      .select(col("doc_id"), col("logprob_per_token"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
            "doc_id")
    // 1.0/3.0 (not n/3.0) so both engines evaluate bit-identical doubles:
    // floor(300 * (1.0/3.0)) = 99 but floor(300/3.0) = 100.
    //
    // ONE per-language aggregate carries (lp, doc) structs, so the
    // cutoffs AND the bucket assignment both come from the same
    // collected list, and `byLang` (the whole docLogprob pipeline:
    // vocabulary agg + posting join + per-doc fold) is evaluated once
    // (a separate cutoff aggregate + bucket join evaluates it twice: 26
    // Exchange vs ~8). The k-th
    // element of the (lp, doc)-sorted list has the same lp as the k-th
    // of the lp-sorted list (ties permute equal values only), so the
    // cutoffs are exact. The list holds every (lp, doc) of a language
    // in memory — fine at test SFs; a 100 TB run swaps in
    // `approx_percentile`, whose output is not the oracle's.
    val bucketed = byLang
      .groupBy(col("lang"))
      .agg(sort_array(collect_list(struct(
             col("logprob_per_token").as("lp"), col("doc_id").as("d"))))
             .as("sorted"),
           count(lit(1)).as("n"))
      .select(
        col("lang"),
        element_at(col("sorted"),
                   floor(col("n") * lit(1.0 / 3.0)).cast("int") + 1)
          .getField("lp").as("cut_low"),
        element_at(col("sorted"),
                   floor(col("n") * lit(2.0 / 3.0)).cast("int") + 1)
          .getField("lp").as("cut_high"),
        col("sorted"))
      .select(col("lang"), col("cut_low"), col("cut_high"),
              explode(col("sorted")).as("e"))
    bucketed
      .withColumn("bucket",
                  when(col("e.lp") <= col("cut_low"), "tail")
                    .when(col("e.lp") <= col("cut_high"), "middle")
                    .otherwise("head"))
      .groupBy(col("lang"), col("bucket"), col("cut_low"), col("cut_high"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(floor(col("e.lp") * lit(1000000.0) + lit(0.5))
          .cast("long")).as("slp"),
        min(col("e.lp")).as("min_logprob"),
        max(col("e.lp")).as("max_logprob"))
      .select(col("lang"), col("bucket"), col("n_docs"),
              round(col("slp").cast("double") / col("n_docs") / lit(1000000.0),
                    6).as("avg_logprob"),
              col("min_logprob"), col("max_logprob"),
              col("cut_low"), col("cut_high"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Per-label discriminative vocabulary: χ² feature selection of tokens
    * against the language label (the standard contingency-table
    * statistic over [in-label × contains-token] document counts) — what
    * a corpus curator runs to see which terms characterize each slice.
    * All four cells are exact integers; χ² is a single double division
    * of exact products, so ranking is engine-stable. Only positively
    * associated observed pairs rank (ad > bc). Top-3 per label via the
    * dedicated per-key top-k operator.
    */
  def chi2LabelTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // token_counts emits each token once per doc → (doc, token) is a
    // presence pair and counts below are document frequencies
    val pres = docs.select(
      col("lang"),
      explode(graft.functions.TextExprs.tokenCounts(col("text"))).as("tc"))
    val tokLang = pres
      .groupBy(col("tc.token").as("token"), col("lang"))
      .agg(count(lit(1)).as("a"))
    val tokTotal = tokLang.groupBy(col("token")).agg(sum(col("a")).as("df_tot"))
    val langTotal = broadcast(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang")))
    val nDocsDf = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val cells = tokLang
      .join(tokTotal, "token")
      .join(langTotal, "lang")
      .crossJoin(nDocsDf)
      .withColumn("b", col("df_tot") - col("a"))
      .withColumn("c", col("n_lang") - col("a"))
      .withColumn("d", col("n_docs") - col("df_tot") - col("c"))
    val num = col("a") * col("d") - col("b") * col("c")
    val denom = (col("a") + col("b")) * (col("c") + col("d")) *
      (col("a") + col("c")) * (col("b") + col("d"))
    val scored = cells
      .filter(num > 0 && denom > 0)
      .withColumn(
        "chi2",
        (col("n_docs").cast("double") *
          (num.cast("double") * num.cast("double"))) / denom.cast("double"))
    graft.plans.TopK
      .perKey(scored,
              keyCols = Seq("lang"),
              orderSpec = Seq("chi2" -> false, "token" -> true),
              k = 3,
              rankName = "rank")
      .select(col("lang"), col("rank").cast("long").as("rank"), col("token"),
              col("a").as("df_in_label"), round(col("chi2"), 4).as("chi2"))
      .orderBy(col("lang"), col("rank"))
  }

  // ---- DuckDB oracles ----------------------------------------------------

  private val tokSql =
    """SELECT doc_id, u.token, CAST(count(*) AS BIGINT) AS tf
      |FROM documents,
      |     UNNEST(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) u(token)
      |GROUP BY 1, 2""".stripMargin

  /** Shared CTE chain ending in `lp(doc_id, n_tokens, logprob_per_token)`
    * — ONE definition of the unigram-LM score, used by the
    * `doc_logprob` and `perplexity_buckets` oracles.
    */
  private val lpCtes =
    s"""tok AS ($tokSql),
       |v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM tok GROUP BY 1),
       |t AS (SELECT CAST(sum(ctf) AS BIGINT) AS t_tokens FROM v),
       |c AS (
       |  SELECT doc_id, tok.token AS token, tf,
       |         tf * ln(CAST(ctf AS DOUBLE) / CAST(t_tokens AS DOUBLE)) AS contrib
       |  FROM tok JOIN v ON tok.token = v.token CROSS JOIN t
       |),
       |lp AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |                                        list(contrib ORDER BY token)),
       |                           (a, x) -> a + x) / CAST(sum(tf) AS DOUBLE), 6)
       |           AS logprob_per_token
       |  FROM c GROUP BY doc_id
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "chi2_label_terms" ->
      s"""WITH tok AS ($tokSql),
         |pres AS (
         |  SELECT d.lang, tok.token FROM tok JOIN documents d ON tok.doc_id = d.doc_id
         |),
         |tl AS (SELECT token, lang, CAST(count(*) AS BIGINT) AS a FROM pres GROUP BY 1, 2),
         |tt AS (SELECT token, CAST(sum(a) AS BIGINT) AS df_tot FROM tl GROUP BY 1),
         |lt AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |cells AS (
         |  SELECT tl.lang, tl.token, a, df_tot - a AS b, n_lang - a AS c,
         |         n_docs - df_tot - (n_lang - a) AS d, n_docs
         |  FROM tl JOIN tt ON tl.token = tt.token
         |          JOIN lt ON tl.lang = lt.lang CROSS JOIN n
         |),
         |s AS (
         |  SELECT lang, token, a,
         |         (CAST(n_docs AS DOUBLE) *
         |          (CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)))
         |           / CAST((a + b) * (c + d) * (a + c) * (b + d) AS DOUBLE) AS chi2
         |  FROM cells
         |  WHERE a * d - b * c > 0 AND (a + b) * (c + d) * (a + c) * (b + d) > 0
         |),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
         |                                    ORDER BY chi2 DESC, token) AS BIGINT) AS rank
         |  FROM s
         |)
         |SELECT lang, rank, token, a AS df_in_label, round(chi2, 4) AS chi2
         |FROM r WHERE rank <= 3 ORDER BY lang, rank""".stripMargin,
    "tfidf_topterms" ->
      s"""WITH tok AS ($tokSql),
         |df AS (SELECT token, count(*) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (
         |  SELECT doc_id, tok.token AS token, tf, df.df AS df,
         |         tf * ln(CAST(n_docs AS DOUBLE) / df) AS score
         |  FROM tok JOIN df ON tok.token = df.token CROSS JOIN n
         |),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |                                    ORDER BY score DESC, token) AS BIGINT) AS rank
         |  FROM s
         |)
         |SELECT doc_id, rank, token, tf, df, round(score, 6) AS tfidf
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "bm25_search" ->
      s"""WITH tok AS ($tokSql),
         |q AS (SELECT * FROM tok WHERE token IN (${QueryTerms.map(t => s"'$t'").mkString(", ")})),
         |dl AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS dl
         |  FROM documents
         |),
         |a AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |df AS (SELECT token, count(*) AS df FROM q GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |c AS (
         |  SELECT q.doc_id, q.token,
         |         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5)) *
         |         ((CAST(tf AS DOUBLE) * ${K1 + 1.0}) /
         |          (CAST(tf AS DOUBLE) + ($K1 * (${1.0 - B} + ($B * (CAST(dl AS DOUBLE) / avgdl)))))) AS contrib
         |  FROM q JOIN df ON q.token = df.token
         |         JOIN dl ON q.doc_id = dl.doc_id
         |         CROSS JOIN n CROSS JOIN a
         |),
         |s AS (
         |  SELECT doc_id, count(*) AS n_terms,
         |         ${QueryTerms.zipWithIndex
           .map { case (t, i) =>
             s"coalesce(max(CASE WHEN token = '$t' THEN contrib END), 0.0) AS s$i"
           }
           .mkString(",\n         ")}
         |  FROM c GROUP BY doc_id
         |)
         |SELECT doc_id, n_terms,
         |       round(${QueryTerms.indices.map(i => s"s$i").reduceLeft((a, b) => s"($a + $b)")}, 6) AS bm25
         |FROM s
         |ORDER BY ${QueryTerms.indices.map(i => s"s$i").reduceLeft((a, b) => s"($a + $b)")} DESC, doc_id
         |LIMIT 50""".stripMargin,
    "doc_logprob_bigram" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, CAST(p.i AS BIGINT) AS pos, t[p.i] AS prev, t[p.i + 1] AS cur
        |  FROM d, UNNEST(range(1, len(t))) p(i)
        |),
        |c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
        |u AS (SELECT u.w AS w FROM d, UNNEST(t) u(w)),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM u GROUP BY 1),
        |vs AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM c1),
        |c AS (
        |  SELECT bg.doc_id, bg.pos,
        |         ln((CAST(c2.c2 AS DOUBLE) + 0.5) / (CAST(c1.c1 AS DOUBLE) + 0.5 * v_size)) AS contrib
        |  FROM bg
        |  JOIN c2 ON bg.prev = c2.prev AND bg.cur = c2.cur
        |  JOIN c1 ON bg.prev = c1.w
        |  CROSS JOIN vs
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                                      list(contrib ORDER BY pos)),
        |                         (a, x) -> a + x) / CAST(count(*) AS DOUBLE), 6)
        |         AS logprob_per_bigram
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_logprob" ->
      s"""WITH $lpCtes
         |SELECT doc_id, n_tokens, logprob_per_token
         |FROM lp ORDER BY doc_id""".stripMargin,
    "dsir_weights" ->
      s"""WITH tok AS ($tokSql),
         |dl AS (SELECT doc_id, lang FROM documents),
         |v AS (
         |  SELECT token,
         |         CAST(sum(tf) AS BIGINT) AS ctf_all,
         |         CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END)
         |              AS BIGINT) AS ctf_tgt
         |  FROM tok JOIN dl USING (doc_id) GROUP BY 1
         |),
         |t AS (
         |  SELECT CAST(sum(ctf_all) AS BIGINT) AS t_all,
         |         CAST(sum(ctf_tgt) AS BIGINT) AS t_tgt,
         |         CAST(count(*) AS BIGINT) AS v
         |  FROM v
         |),
         |c AS (
         |  SELECT doc_id, tok.token AS token, tf,
         |         tf * (ln((CAST(ctf_tgt AS DOUBLE) + 0.5)
         |                  / (CAST(t_tgt AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
         |             - ln((CAST(ctf_all AS DOUBLE) + 0.5)
         |                  / (CAST(t_all AS DOUBLE) + 0.5 * CAST(v AS DOUBLE))))
         |           AS contrib
         |  FROM tok JOIN v ON tok.token = v.token CROSS JOIN t
         |),
         |w AS (
         |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |                                        list(contrib ORDER BY token)),
         |                           (a, x) -> a + x) / CAST(sum(tf) AS DOUBLE), 6)
         |           AS dsir_weight
         |  FROM c GROUP BY doc_id
         |)
         |SELECT w.doc_id, d.lang, n_tokens, dsir_weight
         |FROM w JOIN documents d ON w.doc_id = d.doc_id
         |ORDER BY w.doc_id""".stripMargin,
    "perplexity_buckets" ->
      s"""WITH $lpCtes,
         |bl AS (
         |  SELECT d.lang, lp.doc_id, lp.logprob_per_token AS l
         |  FROM lp JOIN documents d ON lp.doc_id = d.doc_id
         |),
         |cuts AS (
         |  SELECT lang,
         |         list_sort(list(l))[CAST(floor(count(*) * (CAST(1.0 AS DOUBLE) / 3.0)) AS INT) + 1] AS cut_low,
         |         list_sort(list(l))[CAST(floor(count(*) * (CAST(2.0 AS DOUBLE) / 3.0)) AS INT) + 1] AS cut_high
         |  FROM bl GROUP BY lang
         |),
         |b AS (
         |  SELECT bl.lang, l, cut_low, cut_high,
         |         CASE WHEN l <= cut_low THEN 'tail'
         |              WHEN l <= cut_high THEN 'middle'
         |              ELSE 'head' END AS bucket
         |  FROM bl JOIN cuts ON bl.lang = cuts.lang
         |)
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |       round(CAST(sum(CAST(floor(l * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |               / count(*) / 1000000.0, 6) AS avg_logprob,
         |       min(l) AS min_logprob, max(l) AS max_logprob,
         |       cut_low, cut_high
         |FROM b GROUP BY lang, bucket, cut_low, cut_high
         |ORDER BY lang, bucket""".stripMargin
  )
}
