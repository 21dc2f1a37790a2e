package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: every 1..maxN-token-gram STRING of an
  * `array<string>` column as `array<struct<n int, gram string>>` — the
  * [[KarpRabinNGramHashes]] zero-window move for the EXACT distinct-n
  * path (`TextStats.distinctNgramRatio`), where the gram itself (not a
  * hash surrogate) is the aggregation key, so the corpus-wide
  * distinct-count contract demands the actual string.
  *
  * Each emitted gram is BIT-IDENTICAL to the retired lead-window path's
  * `concat_ws(" ", t, t1, …)` (kept as the spec reference in `src/test`):
  * the single-space join of n consecutive non-empty tokens. Token
  * conventions mirror that path exactly — zero-length tokens are
  * skipped (its `length(t) > 0` filter; grams
  * slide over the SUBSEQUENCE of survivors), a null element is treated
  * as empty (tokenizers here never produce one, but an expression must
  * not crash), a null array propagates null (explode then emits
  * nothing), and for L surviving tokens each n emits max(L−n+1, 0)
  * grams. Emission is n-major then position, deterministic.
  *
  * What this removes at the consumer: posexplode → doc-keyed sort →
  * lead window → concat_ws becomes ONE array walk per doc — no window
  * exchange, no per-doc sort; the gram stream is map-only until the
  * (group, n, gram) aggregate. Token bytes are not copied per gram:
  * unigrams reuse the input UTF8Strings and multi-grams concatWs from
  * them (the StringSplit buffer-sharing convention). */
case class TokenNGrams(child: Expression, maxN: Int) extends UnaryExpression {

  override def dataType: DataType = TokenNGrams.OutType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val typeOk = child.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!typeOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_ngrams needs an array<string> input, got ${child.dataType}")
    else if (maxN < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_ngrams needs maxN >= 1, got $maxN")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(input: Any): Any =
    TokenNGrams.compute(input.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TokenNGrams.compute($c, $maxN);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenNGrams {
  private[expr] val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("gram", StringType, nullable = false))),
    containsNull = false)

  private val Space = UTF8String.fromString(" ")

  /** The fused kernel. Public static so generated code calls the same
    * body the interpreter does (the [[KarpRabinHash]] pattern). */
  def compute(arr: ArrayData, maxN: Int): ArrayData = {
    val n0 = arr.numElements()
    // surviving (non-empty) tokens, window-path filter semantics
    val toks = new Array[UTF8String](n0)
    var len = 0
    var t = 0
    while (t < n0) {
      if (!arr.isNullAt(t)) {
        val s = arr.getUTF8String(t)
        if (s.numBytes() > 0) { toks(len) = s; len += 1 }
      }
      t += 1
    }
    var total = 0
    var k = 1
    while (k <= maxN) { total += math.max(len - k + 1, 0); k += 1 }
    val out = new Array[Any](total)
    var o = 0
    k = 1
    while (k <= maxN) {
      val m = len - k + 1
      val buf = if (k > 1) new Array[UTF8String](k) else null
      var i = 0
      while (i < m) {
        val gram =
          if (k == 1) toks(i)
          else {
            System.arraycopy(toks, i, buf, 0, k)
            UTF8String.concatWs(Space, buf: _*)
          }
        out(o) = new GenericInternalRow(Array[Any](k, gram))
        o += 1
        i += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column API. */
  def tokenNGrams(tokens: Column, maxN: Int): Column =
    Bridge.column(TokenNGrams(Bridge.expression(tokens), maxN))
}
