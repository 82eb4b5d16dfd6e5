package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.types.IntegerType

import graft.functions.{HammingHexExpr, MinHashSigExpr, PolyHashExpr, RollingStatsAggExpr, ShinglesExpr, SimHashExpr, TokenCountsExpr, WinnowFingerprintExpr}

/** SQL-surface registration for the engine's custom Catalyst
  * expressions, via the standard `SparkSessionExtensions` hook:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * After which plain SQL can use:
  *   - `word_shingles(text, 3)`        — distinct word-n-gram shingles
  *   - `minhash_signature(shingles, 16)` — k-way MinHash signature
  *   - `rolling_stats(value) OVER (...)` — (n, mean, stddev, median, mad)
  *   - `simhash64` / `hamming_hex` / `winnow_fingerprints` / `poly_hash`
  *     / `token_counts`
  *
  * For a session that ALREADY exists (extensions only apply at
  * construction — `getOrCreate` on a live session silently ignores
  * `withExtensions`), use [[GraftExtensions.registerOn]] instead.
  *
  * The engine's three planner strategies are not injected here. The
  * DataFrame entry points that need one register it on the session they
  * run in ([[GraftExtensions.useStrategy]]), which covers extension-built
  * and plain sessions alike:
  *   - `RollingStatsStrategy` ([[RollingStatsPlan]]), from
  *     `AnomalyOps.scored`;
  *   - `TopKPerKeyStrategy` ([[TopKPerKeyPlan]]), from `TopK.perKey`;
  *   - [[SmallSortStrategy]] (a small global sort in one task), from the
  *     `graft.Tables` loaders.
  *
  * No custom optimizer `Rule`s are injected: SURVEY §4's conclusion
  * stands — everything the reference computes optimizes fine under stock
  * Catalyst; our extension points are expressions and physical
  * operators.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def intLit(e: Expression, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(
        s"$name expects a literal int argument, got: $other")
  }

  /** The engine's SQL function surface, shared by the construction-time
    * hook and the live-session registrar.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("word_shingles"),
       new ExpressionInfo(classOf[ShinglesExpr].getName, "word_shingles"),
       (args: Seq[Expression]) =>
         ShinglesExpr(args.head,
                      if (args.size > 1) intLit(args(1), "word_shingles") else 3)),
      (FunctionIdentifier("minhash_signature"),
       new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_signature"),
       (args: Seq[Expression]) =>
         MinHashSigExpr(args.head,
                        if (args.size > 1) intLit(args(1), "minhash_signature")
                        else 16)),
      (FunctionIdentifier("simhash64"),
       new ExpressionInfo(classOf[SimHashExpr].getName, "simhash64"),
       (args: Seq[Expression]) => SimHashExpr(args.head)),
      (FunctionIdentifier("hamming_hex"),
       new ExpressionInfo(classOf[HammingHexExpr].getName, "hamming_hex"),
       (args: Seq[Expression]) => HammingHexExpr(args.head, args(1))),
      (FunctionIdentifier("winnow_fingerprints"),
       new ExpressionInfo(classOf[WinnowFingerprintExpr].getName,
                          "winnow_fingerprints"),
       (args: Seq[Expression]) =>
         WinnowFingerprintExpr(
           args.head,
           if (args.size > 1) intLit(args(1), "winnow_fingerprints") else 8,
           if (args.size > 2) intLit(args(2), "winnow_fingerprints") else 4)),
      (FunctionIdentifier("poly_hash"),
       new ExpressionInfo(classOf[PolyHashExpr].getName, "poly_hash"),
       (args: Seq[Expression]) => PolyHashExpr(args.head)),
      (FunctionIdentifier("token_counts"),
       new ExpressionInfo(classOf[TokenCountsExpr].getName, "token_counts"),
       (args: Seq[Expression]) => TokenCountsExpr(args.head)),
      (FunctionIdentifier("rolling_stats"),
       new ExpressionInfo(classOf[RollingStatsAggExpr].getName, "rolling_stats"),
       (args: Seq[Expression]) =>
         RollingStatsAggExpr(args.head).toAggregateExpression()),
      (FunctionIdentifier("vec_dot"),
       new ExpressionInfo(classOf[graft.functions.VecDotExpr].getName,
                          "vec_dot"),
       (args: Seq[Expression]) =>
         graft.functions.VecDotExpr(args.head, args(1))),
      (FunctionIdentifier("vec_norm"),
       new ExpressionInfo(classOf[graft.functions.VecNormExpr].getName,
                          "vec_norm"),
       (args: Seq[Expression]) => graft.functions.VecNormExpr(args.head)),
      (FunctionIdentifier("vec_dist2"),
       new ExpressionInfo(classOf[graft.functions.VecDist2Expr].getName,
                          "vec_dist2"),
       (args: Seq[Expression]) =>
         graft.functions.VecDist2Expr(args.head, args(1))),
      (FunctionIdentifier("vec_quant_stats"),
       new ExpressionInfo(classOf[graft.functions.VecQuantStatsExpr].getName,
                          "vec_quant_stats"),
       (args: Seq[Expression]) =>
         graft.functions.VecQuantStatsExpr(args.head))
    )

  /** Plan `strategy`'s custom operator on `spark` (idempotent): the one
    * registration path for the engine's planner strategies.
    */
  def useStrategy(spark: SparkSession, strategy: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ strategy

  /** Register the function surface on a live session (idempotent). */
  def registerOn(spark: SparkSession): Unit =
    functions.foreach { case (name, info, builder) =>
      org.apache.spark.sql.GraftSqlBridge.registerFunction(spark, name, info, builder)
    }
}
