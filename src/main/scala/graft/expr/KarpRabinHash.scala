package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the repo-wide Karp–Rabin string hash —
  * `TextStats.rollingHash`'s fold `h ← (h·257 + codePoint) mod (10^9+7)`
  * — as one codegen'd JVM loop instead of the
  * `aggregate(split(s, ""), ...)` higher-order tree.
  *
  * Arithmetic is BIT-IDENTICAL to the expression form it replaces
  * (retained as the spec reference `GramReference.rollingHashExpr` in
  * `src/test`) and
  * to the DuckDB replay used by every oracle that regenerates the hash
  * (`ascii(substring(t, c, 1))` folds — code points). Empty string → 0
  * (the split→[""]→ascii("")=0 convention); null propagates.
  *
  * Why native (round 14, the [[SimHashReplayWord]] move widened): the
  * fold is evaluated once per token/gram OCCURRENCE in corpus-wide
  * consumers — DSIR importance features, hashed-feature classifiers,
  * CDC chunking, CMS counters, the HLL distinct-n surrogate — and the
  * higher-order form allocates a one-char UTF8String array per input
  * before interpreting the lambda per element. The fused loop walks the
  * string's code points directly and keeps the projection inside
  * whole-stage codegen. */
case class KarpRabinHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"karp_rabin_hash needs a string input, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    KarpRabinHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.KarpRabinHash.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KarpRabinHash {
  private val P = 1000000007L

  /** The fused fold. Public static so generated code can call it; also
    * the single source of truth for [[SimHashReplayWord]]'s kr stage. */
  def compute(tok: UTF8String): Long = {
    val s = tok.toString
    var kr = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      kr = (kr * 257L + cp) % P
      i += Character.charCount(cp)
    }
    kr
  }

  /** Column API. */
  def karpRabin(s: Column): Column =
    Bridge.column(KarpRabinHash(Bridge.expression(s)))
}
