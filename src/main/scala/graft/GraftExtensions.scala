package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** SparkSessionExtensions entry point: registers the native graft
  * expressions (SURVEY.md §2b "custom Catalyst expressions") as SQL
  * functions, so `spark.sql("SELECT graft_cosine(a, b) ...")` plans the
  * same codegen'd expression as the Column API — one implementation, both
  * surfaces.
  *
  * Two installation paths, same registrations:
  *  - cluster-wide: `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (the standard extension-library hook — applied when the session is
  *    BUILT, so it cannot be added to a live session);
  *  - per-session: `GraftExtensions.install(spark)` on an existing
  *    session (what the tests and notebooks use).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.GroupTopKStrategy)
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.GroupTopKRewrite)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.graft.expressions._

  private def binary(name: String)(f: (Expression, Expression) => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      { args =>
        require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
        f(args(0), args(1))
      })

  private def unary(name: String)(f: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      { args =>
        require(args.length == 1, s"$name expects 1 argument, got ${args.length}")
        f(args.head)
      })

  /** All SQL-exposed native expressions. */
  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      binary("graft_dot")(DotProductFloat(_, _)),
      binary("graft_cosine")(CosineSimilarityFloat(_, _)),
      // popcount of XOR from built-ins: the same Catalyst form as
      // VectorFunctions.hammingDistance, so SQL and Column API agree
      binary("graft_hamming64")((a, b) =>
        Cast(BitwiseCount(BitwiseXor(a, b)), LongType)),
      unary("graft_rolling_hash")(RollingHash(_)),
      binary("graft_jaro_winkler")(JaroWinkler(_, _)),
      unary("graft_strip_accents")(StripAccents(_)),
      unary("graft_unicode_nfc")(UnicodeNormalize(_, "NFC")))

  /** Register on a LIVE session (idempotent — re-registration overwrites
    * with the identical builder; the planner strategy is added once). */
  def install(spark: SparkSession): Unit = {
    registrations.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
    val strategy = org.apache.spark.sql.graft.GroupTopKStrategy
    if (!spark.experimental.extraStrategies.contains(strategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ strategy
    }
    val rewrite = org.apache.spark.sql.graft.GroupTopKRewrite
    if (!spark.experimental.extraOptimizations.contains(rewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rewrite
    }
  }
}
