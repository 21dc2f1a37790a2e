package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: sliding k-token-gram 64-bit FNV-1a hashes
  * of an `array<string>` column — the decontamination gram kernel
  * (`TextStats.tokenGramHashRows`) as a codegen'd expression instead of a
  * Scala UDF, so the corpus gram stream stays inside whole-stage codegen
  * (no serializer boundary, no per-row `Seq[String]` materialization).
  *
  * Semantics: for n tokens and n ≥ k, emits n−k+1 hashes; fewer than k
  * tokens emit an EMPTY array (short docs produce no grams — the
  * contamination operators' documented exclusion). Each gram hash folds
  * the UTF-8 bytes of its k tokens with a 0x1f separator byte folded
  * after each token, so token-boundary shifts ("ab","c" vs "a","bc")
  * hash differently. A null token element contributes zero bytes (plus
  * the separator) rather than nulling the row — tokenizers in this
  * engine never produce null elements, but an expression must not crash
  * if one appears. Gram identity only needs SELF-consistency between the
  * corpus and benchmark sides (both run this expression); the driver
  * oracle replays membership with raw string grams.
  */
case class TokenGramHashes(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val typeOk = child.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!typeOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_gram_hashes needs an array<string> input, got ${child.dataType}")
    else if (k < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"token_gram_hashes needs k >= 1, got $k")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(input: Any): Any =
    TokenGramHashes.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.TokenGramHashes.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenGramHashes {
  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  /** The gram kernel. Public static so generated code calls the same
    * body the interpreter does (the [[KarpRabinHash]] pattern). */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val m = n - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    // pre-fetch token bytes once — each token participates in up to k grams
    val toks = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      toks(t) =
        if (arr.isNullAt(t)) Array.empty[Byte]
        else arr.getUTF8String(t).getBytes
      t += 1
    }
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = FnvOffset
      var j = 0
      while (j < k) {
        val b = toks(i + j)
        var c = 0
        while (c < b.length) { h ^= (b(c) & 0xff).toLong; h *= FnvPrime; c += 1 }
        h ^= 0x1fL
        h *= FnvPrime
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column API: sliding k-token-gram FNV-1a hashes of an `array<string>`
    * column. */
  def tokenGramHashes(tokens: Column, k: Int): Column =
    Bridge.column(TokenGramHashes(Bridge.expression(tokens), k))
}
