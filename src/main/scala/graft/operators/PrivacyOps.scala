package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.round

/** PII detection + redaction — the privacy pass every training-data
  * pipeline runs before text leaves the ingest tier (the reference has
  * no analog; this is part of the additive LLM-pipeline surface, like
  * the quality/dedup cascades).
  *
  * The synthetic `documents` corpus is PII-free token soup, so the pass
  * is demonstrated on deterministically RENDERED log lines (order ×
  * customer) that contain real pattern instances — emails, phone-shaped
  * strings, entity names, raw numeric ids — the way an ingest tier sees
  * rendered support tickets or server logs. The rendering uses integer
  * and string columns only (never a formatted double: float-to-string
  * is not portable across engines).
  *
  * Scale shape: ONE dim join (customer, gate-broadcast via
  * [[Dims.gateTable]] while it fits) then a
  * pure codegen'd map — `regexp_replace`/`regexp_count` chains stay
  * inside whole-stage codegen, nothing shuffles after the join, and the
  * projection pushes down to both scans. At 100 TB this is a map over
  * the fact table; the masking order (email → phone → name → residual
  * ids) is fixed so every count is computed on the exact intermediate
  * that class sees, which is what a scrub audit must report.
  *
  * Regex dialect: patterns restricted to the Java-regex ∩ RE2 common
  * subset (ASCII classes, bounded quantifiers, `\b` — no lookaround, no
  * backreferences) so Spark and the DuckDB oracle agree byte-for-byte.
  */
object PrivacyOps {

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\b555-\\d{4}\\b"
  private val NameRe  = "Customer#\\d+"
  private val IdRe    = "\\b\\d{4,}\\b"

  /** Per-line scrub: masked text plus a per-class detection count, one
    * row per order. Counts are longs on both sides (DuckDB `len()` is
    * BIGINT).
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables
      .customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    Tables
      .orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Dims.gateTable(spark, dir, "customer")(dim),
            col("o_custkey") === col("c_custkey"))
      .select(
        col("o_orderkey"),
        concat(
          lit("order "), col("o_orderkey"), lit(" by "), col("c_name"),
          lit(" <user"), col("c_custkey"), lit("@example.com> phone 555-"),
          lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
          lit(" segment "), col("c_mktsegment")).as("line"))
      .withColumn("n_emails", regexp_count(col("line"), lit(EmailRe)).cast("long"))
      .withColumn("t1", regexp_replace(col("line"), EmailRe, "[EMAIL]"))
      .withColumn("n_phones", regexp_count(col("t1"), lit(PhoneRe)).cast("long"))
      .withColumn("t2", regexp_replace(col("t1"), PhoneRe, "[PHONE]"))
      .withColumn("n_names", regexp_count(col("t2"), lit(NameRe)).cast("long"))
      .withColumn("t3", regexp_replace(col("t2"), NameRe, "[NAME]"))
      .withColumn("n_ids", regexp_count(col("t3"), lit(IdRe)).cast("long"))
      .withColumn("scrubbed", regexp_replace(col("t3"), IdRe, "[ID]"))
      .select(col("o_orderkey"), col("scrubbed"), col("n_emails"),
              col("n_phones"), col("n_names"), col("n_ids"))
      .orderBy(col("o_orderkey"))
  }

  /** k-anonymity suppression/generalization audit over the customer
    * quasi-identifiers (market segment × nation): every released group
    * must contain ≥ k individuals. Groups below k climb a fixed
    * generalization lattice — nation → `*` (level 1), then segment → `*`
    * (level 2); a level-2 residual still below k is flagged
    * `suppressed = true` (it must be withheld entirely).
    *
    * Scale shape: ONE shuffle over the raw table (the level-0
    * `groupBy`); the lattice climb re-aggregates the GROUP-COUNT frame
    * (≤ |segment|·|nation| rows — metadata scale, not data scale), which
    * is persisted via [[FrameStore]] so the three lattice levels share
    * one scan. At 100 TB the raw table is touched exactly once, and
    * partial aggregation absorbs any hot QI value map-side.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val g0 = FrameStore.shared.getOrBuild(spark, dir, "qiCounts") {
      Tables
        .customer(spark, dir)
        .groupBy(col("c_mktsegment").as("qi_segment"),
                 col("c_nationkey").cast("string").as("qi_nation"))
        .agg(count(lit(1)).as("n_rows"))
    }
    val pass0 = g0
      .filter(col("n_rows") >= AnonymityK)
      .select(col("qi_segment"), col("qi_nation"), col("n_rows"),
              lit(0).cast("int").as("gen_level"),
              lit(false).as("suppressed"))
    val g1 = g0
      .filter(col("n_rows") < AnonymityK)
      .groupBy(col("qi_segment"))
      .agg(sum(col("n_rows")).as("n_rows"))
    val pass1 = g1
      .filter(col("n_rows") >= AnonymityK)
      .select(col("qi_segment"), lit("*").as("qi_nation"), col("n_rows"),
              lit(1).cast("int").as("gen_level"),
              lit(false).as("suppressed"))
    val pass2 = g1
      .filter(col("n_rows") < AnonymityK)
      .agg(sum(col("n_rows")).as("n_rows"))
      .filter(col("n_rows").isNotNull)
      .select(lit("*").as("qi_segment"), lit("*").as("qi_nation"),
              col("n_rows"), lit(2).cast("int").as("gen_level"),
              (col("n_rows") < AnonymityK).as("suppressed"))
    pass0
      .unionByName(pass1)
      .unionByName(pass2)
      .orderBy(col("gen_level"), col("qi_segment"), col("qi_nation"))
  }

  /** The k of [[kAnonymity]]: every released group holds ≥ 10 rows. */
  private val AnonymityK = 10

  /** The l of [[lDiversity]]: distinct sensitive bands a group needs. */
  private val DiversityL = 3

  /** l-diversity audit — k-anonymity's necessary companion: a group can
    * satisfy k yet leak its sensitive attribute if every member shares
    * one value (the homogeneity attack, Machanavajjhala et al. 2007).
    * Here the quasi-identifiers are (segment, nation) as in
    * [[kAnonymity]] and the sensitive attribute is the account-balance
    * band (`floor(acctbal/1000)` — banding by double `floor` is
    * bit-exact across engines); a released group needs ≥ l DISTINCT
    * bands. One shuffle, `count_distinct` partial-aggregates map-side
    * (band cardinality ≤ 11, so the distinct state is tiny per group).
    */
  def lDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables
      .customer(spark, dir)
      .select(col("c_mktsegment").as("qi_segment"),
              col("c_nationkey").cast("string").as("qi_nation"),
              floor(col("c_acctbal") / lit(1000.0)).cast("long").as("band"))
      .groupBy(col("qi_segment"), col("qi_nation"))
      .agg(count(lit(1)).as("n_rows"),
           count_distinct(col("band")).as("n_bands"))
      .withColumn("l_ok", col("n_bands") >= DiversityL)
      .orderBy(col("qi_segment"), col("qi_nation"))

  /** t-closeness audit — the distributional tightening of
    * [[lDiversity]] (Li et al. ICDE'07): a group passes only if its
    * sensitive-attribute DISTRIBUTION stays within Earth-Mover's
    * Distance t of the global one, closing the skewness/similarity
    * attacks l-diversity misses. The sensitive attribute is the ordered
    * account-balance band of [[lDiversity]]; for ordered categories EMD
    * is the mean absolute difference of cumulative distributions
    * (Σᵢ|P≤ᵢ − Q≤ᵢ| / (m−1)).
    *
    * Everything is EXACT INTEGER arithmetic until the final display
    * division: with group cumulative counts `ccum` (denominator n_g)
    * and global `gcum` (denominator N), Σ|ccum·N − gcum·n_g| is the EMD
    * numerator in units of 1/((m−1)·n_g·N), and the t = 0.25 gate is
    * the cross-multiplied `4·Σ ≤ (m−1)·n_g·N` — no float ever decides
    * the verdict. (At ~10⁹-row groups the cross products approach the
    * BIGINT range; a production build moves these two columns to
    * DECIMAL(38,0), same algebra.)
    *
    * Scale shape: one shuffle for (group, band) counts; the dense
    * group×band grid, the per-group cumulative window, and the global
    * join all run on the GROUP-COUNT frame (≤ lattice × 11 bands —
    * metadata scale); the global band histogram broadcasts.
    */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val bands = Tables
      .customer(spark, dir)
      .select(col("c_mktsegment").as("qi_segment"),
              col("c_nationkey").cast("string").as("qi_nation"),
              floor(col("c_acctbal") / lit(1000.0)).cast("long").as("band"))
    val groupBand = bands
      .groupBy(col("qi_segment"), col("qi_nation"), col("band"))
      .agg(count(lit(1)).as("c"))
    val globalBand = groupBand
      .groupBy(col("band"))
      .agg(sum(col("c")).as("g"))
    val groups = groupBand
      .groupBy(col("qi_segment"), col("qi_nation"))
      .agg(sum(col("c")).as("n_g"))
    val grid = groups
      .crossJoin(broadcast(globalBand))
      .join(groupBand, Seq("qi_segment", "qi_nation", "band"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qi_segment"), col("qi_nation"))
      .orderBy(col("band"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    val totals = broadcast(
      globalBand.agg(sum(col("g")).as("n_total"),
                     count(lit(1)).as("m_bands")))
    grid
      .withColumn("ccum", sum(col("c")).over(w))
      .withColumn("gcum", sum(col("g")).over(w))
      .crossJoin(totals)
      .groupBy(col("qi_segment"), col("qi_nation"))
      .agg(
        max(col("n_g")).as("n_rows"),
        // the last band's cumulative diff is identically 0 (both cums hit
        // their totals), so summing all m terms equals summing m−1
        sum(abs(col("ccum") * col("n_total") - col("gcum") * col("n_g")))
          .as("emd_num"),
        max((col("m_bands") - 1) * col("n_g") * col("n_total"))
          .as("emd_den"))
      .select(
        col("qi_segment"), col("qi_nation"), col("n_rows"), col("emd_num"),
        round(col("emd_num").cast("double") / col("emd_den").cast("double"),
              6).as("emd"),
        (col("emd_num") * 4 <= col("emd_den")).as("t_ok"))
      .orderBy(col("qi_segment"), col("qi_nation"))
  }

  /** 256-entry quantized inverse-CDF table for Laplace(b=1) noise, in
    * milli-units: entry i is `round(1000 · L⁻¹((i+0.5)/256))`. Generated
    * ONCE here on the driver and embedded as integer literals into BOTH
    * the Spark plan and the DuckDB oracle SQL, so no transcendental
    * function is ever evaluated per-engine (Java's `Math.log` and
    * DuckDB's `ln` differ in the last ulp on ~0.2 % of arguments — the
    * `ln_audit` lesson). Quantizing the draw to 8 bits costs a
    * negligible ε-accounting correction and is standard practice for
    * reproducible DP releases.
    */
  private[graft] val DpNoiseMillis: Array[Long] = Array.tabulate(256) { i =>
    val u = (i + 0.5) / 256.0
    val x = if (u < 0.5) math.log(2.0 * u) else -math.log(2.0 - 2.0 * u)
    Math.round(1000.0 * x)
  }

  /** ε=1 differentially-private per-segment order counts: Laplace noise
    * with sensitivity 1 (each customer places orders in exactly one
    * segment per row; the count query's L1 sensitivity to one row is 1),
    * drawn DETERMINISTICALLY by seeded inversion — the md5 of
    * (salt ‖ segment) picks a [[DpNoiseMillis]] entry, the same
    * "seeded noise for reproducible releases" pattern as the md5
    * fractional draws elsewhere. One noisy count per disjoint segment ⇒
    * parallel composition ⇒ total budget ε=1.
    *
    * Everything stays in exact integers (counts ·1000 + noise millis),
    * so the oracle gate checks the full release bit-for-bit. `n_orders`
    * is emitted for the AUDIT ONLY — the release artifact is
    * `noisy_millis` (and the salt would be secret in production; it is
    * session-tunable via `graft.privacy.salt` so a new release epoch
    * redraws all noise).
    *
    * Scale shape: gate-broadcast dim join + one partial-aggregated groupBy;
    * the noise lookup is a pure codegen'd map over the aggregate's
    * (tiny) output.
    */
  def dpCounts(spark: SparkSession, dir: String): DataFrame = {
    val salt = spark.conf.get("graft.privacy.salt", "epoch0")
    val noise = array(DpNoiseMillis.map(lit(_)): _*)
    Tables
      .orders(spark, dir)
      .select(col("o_custkey"))
      .join(Dims.gateTable(spark, dir, "customer")(Tables.customer(spark, dir)
              .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("idx",
                  conv(substring(md5(concat(lit(salt), lit("|"),
                                            col("c_mktsegment"))), 1, 2),
                       16, 10).cast("int"))
      .select(
        col("c_mktsegment"), col("n_orders"),
        element_at(noise, col("idx") + 1).as("noise_millis"))
      .withColumn("noisy_millis",
                  col("n_orders") * lit(1000L) + col("noise_millis"))
      .orderBy(col("c_mktsegment"))
  }

  /** DuckDB oracles. Plain (non-interpolated) triple-quoted strings so
    * `\d`/`\b` stay literal; DuckDB `regexp_replace` needs the explicit
    * 'g' flag to match Spark's replace-all default.
    *
    * These oracles hardcode k = 10, l = 3 and the default
    * `graft.privacy.salt` (epoch0). A session that sets another salt
    * changes the Spark release by design and must not run the verify
    * gate against these strings; OperatorSpec covers a second salt.
    */
  val oracles: Map[String, String] = Map(
    "t_closeness" ->
      """WITH b AS (
        |  SELECT c_mktsegment AS qi_segment,
        |         CAST(c_nationkey AS VARCHAR) AS qi_nation,
        |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
        |  FROM customer
        |),
        |gb AS (SELECT qi_segment, qi_nation, band,
        |              CAST(count(*) AS BIGINT) AS c
        |       FROM b GROUP BY 1, 2, 3),
        |gband AS (SELECT band, CAST(sum(c) AS BIGINT) AS g
        |          FROM gb GROUP BY 1),
        |grp AS (SELECT qi_segment, qi_nation, CAST(sum(c) AS BIGINT) AS n_g
        |        FROM gb GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_total,
        |               CAST(count(*) AS BIGINT) AS m_bands FROM gband),
        |grid AS (
        |  SELECT grp.qi_segment, grp.qi_nation, grp.n_g, gband.band, gband.g,
        |         COALESCE(gb.c, 0) AS c
        |  FROM grp CROSS JOIN gband
        |  LEFT JOIN gb ON gb.qi_segment = grp.qi_segment
        |             AND gb.qi_nation = grp.qi_nation AND gb.band = gband.band
        |),
        |cums AS (
        |  SELECT *, CAST(sum(c) OVER w AS BIGINT) AS ccum,
        |            CAST(sum(g) OVER w AS BIGINT) AS gcum
        |  FROM grid
        |  WINDOW w AS (PARTITION BY qi_segment, qi_nation ORDER BY band
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |)
        |SELECT qi_segment, qi_nation, max(n_g) AS n_rows,
        |       CAST(sum(abs(ccum * n_total - gcum * n_g)) AS BIGINT)
        |         AS emd_num,
        |       round(CAST(sum(abs(ccum * n_total - gcum * n_g)) AS DOUBLE)
        |             / CAST(max((m_bands - 1) * n_g * n_total) AS DOUBLE), 6)
        |         AS emd,
        |       CAST(sum(abs(ccum * n_total - gcum * n_g)) AS BIGINT) * 4
        |         <= max((m_bands - 1) * n_g * n_total) AS t_ok
        |FROM cums CROSS JOIN tot
        |GROUP BY 1, 2
        |ORDER BY qi_segment, qi_nation""".stripMargin,
    "l_diversity" ->
      """SELECT c_mktsegment AS qi_segment,
        |       CAST(c_nationkey AS VARCHAR) AS qi_nation,
        |       count(*) AS n_rows,
        |       CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
        |            AS BIGINT) AS n_bands,
        |       count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3
        |         AS l_ok
        |FROM customer
        |GROUP BY 1, 2
        |ORDER BY qi_segment, qi_nation""".stripMargin,
    "dp_counts" ->
      s"""WITH g AS (
         |  SELECT c_mktsegment, count(*) AS n_orders
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1
         |), i AS (
         |  SELECT c_mktsegment, n_orders,
         |         (strpos('0123456789abcdef', substr(mh, 1, 1)) - 1) * 16 +
         |         (strpos('0123456789abcdef', substr(mh, 2, 1)) - 1) AS idx
         |  FROM (SELECT *, md5('epoch0|' || c_mktsegment) AS mh FROM g)
         |)
         |SELECT c_mktsegment, n_orders,
         |       CAST(${DpNoiseMillis.mkString("[", ", ", "]")}[idx + 1]
         |            AS BIGINT) AS noise_millis,
         |       CAST(n_orders * 1000 +
         |            ${DpNoiseMillis.mkString("[", ", ", "]")}[idx + 1]
         |            AS BIGINT) AS noisy_millis
         |FROM i ORDER BY c_mktsegment""".stripMargin,
    "k_anonymity" ->
      """WITH g0 AS (
        |  SELECT c_mktsegment AS qi_segment,
        |         CAST(c_nationkey AS VARCHAR) AS qi_nation,
        |         count(*) AS n_rows
        |  FROM customer GROUP BY 1, 2
        |), g1 AS (
        |  SELECT qi_segment, CAST(sum(n_rows) AS BIGINT) AS n_rows
        |  FROM g0 WHERE n_rows < 10 GROUP BY 1
        |), g2 AS (
        |  SELECT CAST(sum(n_rows) AS BIGINT) AS n_rows
        |  FROM g1 WHERE n_rows < 10
        |)
        |SELECT * FROM (
        |  SELECT qi_segment, qi_nation, n_rows,
        |         CAST(0 AS INTEGER) AS gen_level, FALSE AS suppressed
        |  FROM g0 WHERE n_rows >= 10
        |  UNION ALL
        |  SELECT qi_segment, '*', n_rows, CAST(1 AS INTEGER), FALSE
        |  FROM g1 WHERE n_rows >= 10
        |  UNION ALL
        |  SELECT '*', '*', n_rows, CAST(2 AS INTEGER), n_rows < 10
        |  FROM g2 WHERE n_rows IS NOT NULL
        |) ORDER BY gen_level, qi_segment, qi_nation""".stripMargin,
    "pii_scrub" ->
      """WITH lines AS (
        |  SELECT o_orderkey,
        |         'order ' || o_orderkey || ' by ' || c_name || ' <user' ||
        |         c_custkey || '@example.com> phone 555-' ||
        |         lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
        |         ' segment ' || c_mktsegment AS line
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |), m1 AS (
        |  SELECT o_orderkey,
        |         len(regexp_extract_all(line, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |         regexp_replace(line, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM lines
        |), m2 AS (
        |  SELECT o_orderkey, n_emails,
        |         len(regexp_extract_all(t1, '\b555-\d{4}\b')) AS n_phones,
        |         regexp_replace(t1, '\b555-\d{4}\b', '[PHONE]', 'g') AS t2
        |  FROM m1
        |), m3 AS (
        |  SELECT o_orderkey, n_emails, n_phones,
        |         len(regexp_extract_all(t2, 'Customer#\d+')) AS n_names,
        |         regexp_replace(t2, 'Customer#\d+', '[NAME]', 'g') AS t3
        |  FROM m2
        |)
        |SELECT o_orderkey,
        |       regexp_replace(t3, '\b\d{4,}\b', '[ID]', 'g') AS scrubbed,
        |       n_emails, n_phones, n_names,
        |       len(regexp_extract_all(t3, '\b\d{4,}\b')) AS n_ids
        |FROM m3 ORDER BY o_orderkey""".stripMargin)
}
