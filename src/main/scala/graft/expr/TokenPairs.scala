package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: every adjacent token pair of an
  * `array<string>` column as `array<struct<w1 string, w2 string>>` —
  * the bigram zip-shift for the STRING-keyed LM/collocation paths
  * (`TextStats.trainBigramModel` / `bigramLogLikelihood` /
  * `collocations`), where the word itself is the model key, so the
  * TokenGramHashes key relabeling does not apply.
  *
  * Semantics mirror the doc-keyed lead-window shape exactly: for L
  * tokens, L entries are emitted — (t_i, t_(i+1)) for i < L−1 and the
  * trailing (t_(L−1), NULL) successor marker (`lead` past the end) that
  * collocations' exact unigram rollup counts; consumers that trained on
  * `filter(w2.isNotNull)` drop it, identically. Unlike [[TokenNGrams]]
  * there is NO empty-token filter — the window path emits the ""
  * unigram-context of a whitespace-only doc, and so does this. A null
  * ELEMENT stays a null field (tokenizers here never produce one, but
  * an expression must not crash); a null array propagates null (explode
  * then emits nothing, like posexplode of null); an empty array emits
  * an empty array.
  *
  * What this removes at the consumer: per-doc id assignment →
  * posexplode → doc-keyed sort → lead window becomes ONE array walk per
  * doc — no window exchange, no per-doc sort; the pair stream is
  * map-only until the (w1, w2) count aggregate. Token bytes are not
  * copied: both fields reuse the input UTF8Strings. */
case class TokenPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TokenPairs.OutType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_pairs needs an array<string> input, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    TokenPairs.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TokenPairs.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenPairs {
  private[expr] val OutType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = true),
      StructField("w2", StringType, nullable = true))),
    containsNull = false)

  /** The fused kernel. Public static so generated code calls the same
    * body the interpreter does (the [[KarpRabinHash]] pattern). */
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    var next: UTF8String = if (n > 0 && !arr.isNullAt(0)) arr.getUTF8String(0) else null
    while (i < n) {
      val cur = next
      next = if (i + 1 < n && !arr.isNullAt(i + 1)) arr.getUTF8String(i + 1) else null
      out(i) = new GenericInternalRow(Array[Any](cur, next))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API. */
  def tokenPairs(tokens: Column): Column =
    Bridge.column(TokenPairs(Bridge.expression(tokens)))
}
