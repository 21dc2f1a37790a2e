package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.execution.SparkStrategy
import graft.expr.{CosineSimilarity, DotProduct, TokenGramHashes}
import graft.ops.WeightedBinsStrategy

/** SparkSessionExtensions hook: registers the engine's native functions
  * for SQL use and the planner strategies of its logical nodes. Attach with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`; then
  * `SELECT cosine_sim(a, b)` works in plain SQL. For a session built
  * without the extension (e.g. a host application's), the same function
  * set can be attached after the fact with [[GraftExtensions.register]],
  * and the operators that need a strategy attach it themselves with
  * [[GraftExtensions.attachStrategies]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    GraftExtensions.strategies.foreach(s => e.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {

  /** The single source of truth for the SQL function surface — used by
    * both the builder-time extension injection and the runtime
    * [[register]] path, so the two cannot drift. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim(a, b) takes two array<double> arguments")
        CosineSimilarity(args.head, args(1))
      }),
    (
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "dot_product(a, b) takes two array<double> arguments")
        DotProduct(args.head, args(1))
      }),
    (
      new FunctionIdentifier("token_gram_hashes"),
      new ExpressionInfo(classOf[TokenGramHashes].getName, "token_gram_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "token_gram_hashes(tokens, k) takes an array<string> and a literal int")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"token_gram_hashes k must be a literal int, got $other")
        }
        TokenGramHashes(args.head, k)
      }))

  /** The single source of truth for the planner strategies — injected at
    * session build and attached per session by [[attachStrategies]]. */
  val strategies: Seq[SparkStrategy] = Seq(WeightedBinsStrategy)

  /** Attach the strategies a session does not plan with yet (idempotent).
    * Operators whose logical node needs one call this on their frame's
    * session, so a session built without the extension — a host
    * application's, or a `newSession()` with its own strategy list — still
    * plans them. */
  def attachStrategies(spark: SparkSession): Unit = {
    val missing = strategies.filterNot(spark.sessionState.planner.strategies.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = missing ++ spark.experimental.extraStrategies
  }

  /** Attach the function set to an ALREADY-BUILT session (idempotent) —
    * the path a driver that owns its own SparkSession uses; exercised by
    * q_sql_functions_embeddings so SQL-text resolution of the codegen
    * expressions is driver-tested and oracled each round, not only
    * spec-tested. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      reg.registerFunction(ident, info, builder)
    }
  }
}
