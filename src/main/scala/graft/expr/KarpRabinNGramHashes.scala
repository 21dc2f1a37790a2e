package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: every 1..maxN-token-gram Karp–Rabin hash
  * of an `array<string>` column in ONE code-point walk — the
  * [[TokenGramHashes]] move applied to the REPLAYABLE hash family, for
  * the oracled HLL distinct-n surrogate
  * (`TextStats.distinctNgramRatioApprox`).
  *
  * Each emitted value is BIT-IDENTICAL to
  * `KarpRabinHash.compute(gram tokens joined by a single space)` — the
  * fold `h ← (h·257 + codePoint) mod (10^9+7)` over the concatenated
  * gram string — computed compositionally instead of by building the
  * string and re-walking its characters per n:
  *
  *   KR(a ⧺ " " ⧺ b) = (KR(a) · 257^(cp(b)+1) + KR(" " ⧺ b)) mod P
  *
  * so one walk per token yields (h_t = KR(t), p_t = 257^cp(t) mod P) and
  * every gram hash is O(1) modular arithmetic from those (all operands
  * < P ≈ 2^30, so products fit a signed 64-bit long). The retired shape
  * — posexplode → doc-keyed sort → lead window → concat_ws → per-char
  * re-hash (chars walked 1+2+3 = 6× for maxN = 3), kept as the spec
  * reference in `src/test` — collapses to a map-only projection with ONE
  * char walk and no window exchange/sort.
  *
  * Token conventions mirror that reference exactly: zero-length tokens
  * are skipped (its `length(t) > 0` filter — grams slide over the
  * SUBSEQUENCE of non-empty tokens), a null element is
  * treated as empty (tokenizers here never produce one, but an
  * expression must not crash), a null array propagates null (explode
  * then emits nothing, like posexplode of null), and for L surviving
  * tokens each n emits max(L−n+1, 0) grams.
  *
  * Output packs (n, hash) into one long — `n << 32 | hash` — because
  * hash < 10^9+7 < 2^32; consumers recover n = value >> 32 and
  * hash = value & 0xffffffff with plain codegen'd bit ops. Emission
  * order is n-major then position, deterministic (downstream is an
  * aggregate, but determinism keeps probes reproducible). */
case class KarpRabinNGramHashes(child: Expression, maxN: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val typeOk = child.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    if (!typeOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"karp_rabin_ngram_hashes needs an array<string> input, got ${child.dataType}")
    else if (maxN < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"karp_rabin_ngram_hashes needs maxN >= 1, got $maxN")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(input: Any): Any =
    KarpRabinNGramHashes.compute(input.asInstanceOf[ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.KarpRabinNGramHashes.compute($c, $maxN);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KarpRabinNGramHashes {
  private val P = 1000000007L

  /** The fused kernel. Public static so generated code calls the same
    * body the interpreter does (the [[KarpRabinHash]] pattern). */
  def compute(arr: ArrayData, maxN: Int): ArrayData = {
    val n0 = arr.numElements()
    // per surviving (non-empty) token: h = KR(token), g = KR(" "+token),
    // pw = 257^(codePoints+1) mod P — one code-point walk per token
    val hs = new Array[Long](n0)
    val gs = new Array[Long](n0)
    val pws = new Array[Long](n0)
    var len = 0
    var t = 0
    while (t < n0) {
      if (!arr.isNullAt(t)) {
        val s = arr.getUTF8String(t).toString
        if (s.length > 0) {
          var h = 0L
          var p = 1L
          var i = 0
          val m = s.length
          while (i < m) {
            val cp = s.codePointAt(i)
            h = (h * 257L + cp) % P
            p = (p * 257L) % P
            i += Character.charCount(cp)
          }
          hs(len) = h
          gs(len) = (32L * p + h) % P // KR(" " + token): fold starts at 32
          pws(len) = (p * 257L) % P // 257^(cp+1): the space's extra digit
          len += 1
        }
      }
      t += 1
    }
    var total = 0
    var k = 1
    while (k <= maxN) { total += math.max(len - k + 1, 0); k += 1 }
    val out = new Array[Long](total)
    var o = 0
    k = 1
    while (k <= maxN) {
      val tag = k.toLong << 32
      var i = 0
      val m = len - k + 1
      while (i < m) {
        var h = hs(i)
        var j = 1
        while (j < k) {
          h = (h * pws(i + j) + gs(i + j)) % P
          j += 1
        }
        out(o) = tag | h
        o += 1
        i += 1
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column API. */
  def krNGramHashes(tokens: Column, maxN: Int): Column =
    Bridge.column(KarpRabinNGramHashes(Bridge.expression(tokens), maxN))
}
