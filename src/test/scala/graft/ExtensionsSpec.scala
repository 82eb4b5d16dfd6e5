package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The engine's SQL function surface on a live session
  * ([[GraftExtensions.registerOn]]): custom expressions usable from plain
  * SQL.
  */
class ExtensionsSpec extends SparkSpec {

  private lazy val extended: SparkSession = {
    GraftExtensions.registerOn(spark)
    spark
  }

  test("word_shingles and minhash_signature are SQL-callable") {
    val row = extended
      .sql("""SELECT word_shingles('a b c d', 3) AS sh,
              |       minhash_signature(word_shingles('a b c d', 3), 4) AS sig
              |""".stripMargin)
      .head()
    assert(row.getSeq[String](0) == Seq("a b c", "b c d"))
    val sig = row.getSeq[Long](1)
    assert(sig.length == 4 && sig.forall(v => v >= 0L && v < 1000000007L))
  }

  test("rolling_stats is SQL-callable as a window aggregate") {
    val rows = extended
      .sql("""SELECT st.n, st.mean, st.median FROM (
              |  SELECT rolling_stats(x) OVER (ORDER BY x ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS st
              |  FROM VALUES (1.0), (2.0), (3.0) t(x)
              |) ORDER BY st.n""".stripMargin)
      .collect()
    assert(rows.length == 3)
    assert(rows.last.getLong(0) == 3 && rows.last.getDouble(1) == 2.0 &&
      rows.last.getDouble(2) == 2.0)
  }

  test("SQL minhash matches the built-in HOF formulation") {
    val viaSql = extended
      .sql("""SELECT minhash_signature(word_shingles('the quick brown fox jumps', 3), 16) AS sig""")
      .head()
      .getSeq[Long](0)
    // reference formulation with built-ins on the same shingles: base
    // polynomial hash via aggregate(), k universal-hash mixes
    val builtin = extended
      .sql("""SELECT transform(sequence(0, 15),
              |  i -> array_min(transform(word_shingles('the quick brown fox jumps', 3),
              |       s -> (2654435761 * (i + 1) % 1000000007
              |             * aggregate(split(s, ''), CAST(0 AS BIGINT),
              |                         (acc, c) -> (acc * 257 + ascii(c)) % 1000000007)
              |             + 22695477 * (i + 1) % 1000000007) % 1000000007))) AS sig""".stripMargin)
      .head()
      .getSeq[Long](0)
    assert(viaSql == builtin)
  }
}
