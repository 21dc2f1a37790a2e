package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ROUGE-L between paired texts (Lin 2004, "ROUGE: A Package for
  * Automatic Evaluation of Summaries" §3.1, sentence-level LCS) — the
  * recall-side complement of [[Bleu]]'s n-gram precision for the same
  * pair-grading uses: summary/reference eval, paraphrase-pair QA, and
  * soft decontamination screens (a benchmark answer paraphrased into a
  * training doc shares a long subsequence even when no n-gram survives).
  *
  *   R_lcs = LCS(c, r) / |r|,  P_lcs = LCS(c, r) / |c|,
  *   F_lcs = 2·P·R / (P + R)          (the β = 1 form)
  *
  * The LCS is the classic O(|c|·|r|) two-row dynamic program, run as a
  * per-pair JVM kernel over the mapPartitions iterator (the
  * WeightedBins/Garch flatMap-kernel pattern): the DP is inherently
  * sequential per pair but embarrassingly parallel ACROSS pairs, which
  * is the axis a cluster scales on — no shuffle beyond the input's own
  * partitioning, no state off the executor. Cost is quadratic in token
  * length per pair (fine at document scale; pre-truncate the texts for
  * book-length inputs). Tokenization is the repo-wide whitespace
  * convention with empty tokens dropped.
  *
  * Determinism: the DP is integer-exact; R and P are 1e-6-canonized and
  * F is computed FROM the canonized factors then canonized (the [[Bleu]]
  * convention), so the DuckDB oracle — the same DP unrolled as an
  * anti-diagonal recursive CTE over token lists — replays every score
  * bit-for-bit. Null semantics match [[Bleu]]: pairs with a null side
  * are dropped; an empty candidate leaves P (and F) null, an empty
  * reference leaves R (and F) null; zero overlap scores 0, not null.
  *
  * `idCol` must be numeric (the kernel's typed encoder; every driver
  * pair id is). */
object Rouge {

  private def quantC(c: Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  private[graft] def lcsLen(a: Array[String], b: Array[String]): Long = {
    if (a.isEmpty || b.isEmpty) return 0L
    // two-row DP; prev(j) = LCS(a[0..i-1], b[0..j]), O(|b|) memory
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      var j = 1
      while (j <= b.length) {
        cur(j) =
          if (a(i - 1) == b(j - 1)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, cur.length)
      i += 1
    }
    prev(b.length).toLong
  }

  private def tokens(s: String): Array[String] =
    // Locale.ROOT: match Spark/DuckDB lower() under any default JVM locale
    s.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+").filter(_.nonEmpty)

  /** ROUGE-N (Lin 2004 §2): clipped n-gram RECALL between paired texts —
    * the recall-side mirror of [[Bleu]]'s clipped n-gram precision,
    * completing the eval-grading family (ROUGE-N counts how much of the
    * REFERENCE the candidate recovers; BLEU counts how much of the
    * candidate is in the reference). P and F1 ride along (the
    * rouge-score package convention).
    *
    *   hit = Σ_g min(cnt_cand(g), cnt_ref(g))
    *   R = hit / Σ_g cnt_ref(g),  P = hit / Σ_g cnt_cand(g)
    *
    * n-gram keys are the native [[graft.expr.TokenGramHashes]] of each
    * side's non-empty token array: no (pair, pos) sort exchange, no gram
    * string, 8-byte keys through the one count shuffle. Hashing only
    * relabels the count groups, so hit/c_ngrams/r_ngrams are identical
    * to string grams absent a collision (~2⁻⁶⁴ per pair) and the
    * SparkEntry query's exact-string oracle stays valid; RougeSpec pins the
    * equivalence against the string-gram reference. n is capped at 4
    * (the ROUGE-1..4 family). Same pair-keyed scale shape and 1e-6 canon
    * conventions as [[Bleu.bleu2]]; null-side pairs are dropped, a side
    * with no n-grams (< n tokens, or an empty or whitespace-only text)
    * leaves its ratio (and F) null, zero overlap scores 0; tokens are
    * compared whole, so a surrogate pair is never split. Output:
    * (idCol, c_ngrams, r_ngrams, hit, rouge_r, rouge_p, rouge_f). */
  def rougeN(pairs: DataFrame, n: Int = 2,
      idCol: String = "pair_id",
      candCol: String = "candidate",
      refCol: String = "reference"): DataFrame = {
    require(n >= 1 && n <= 4, s"n must be in [1, 4], got $n")
    val base = pairs.filter(col(candCol).isNotNull && col(refCol).isNotNull)
    // One pinned tokenize pass; every gram occurrence, tagged with its
    // side, feeds ONE gram-keyed aggregate (counts AND clip) + a per-pair
    // rollup — a side-only gram carries 0 for the other side, exactly the
    // full-outer coalesce(…, 0) rows of a clip join. r16: stages 11 → 10,
    // one corpus-sized gram shuffle instead of two plus the join
    // co-shuffle (a timing wash at sf0.1, 1.35 vs 1.33 s).
    val toksBoth = graft.core.Ckpt.pin(base
      .select(col(idCol),
        filter(split(lower(trim(col(candCol))), "\\s+"), t => length(t) > 0).as("__ctoks"),
        filter(split(lower(trim(col(refCol))), "\\s+"), t => length(t) > 0).as("__rtoks")))
    def occ(tokCol: String, cand: Boolean): DataFrame = toksBoth
      .select(col(idCol),
        explode(graft.expr.TokenGramHashes.tokenGramHashes(col(tokCol), n)).as("g"),
        lit(if (cand) 1L else 0L).as("c"), lit(if (cand) 0L else 1L).as("r"))
    val joined = occ("__ctoks", cand = true).unionAll(occ("__rtoks", cand = false))
      .groupBy(col(idCol), col("g"))
      .agg(sum(col("c")).as("cnt"), sum(col("r")).as("rcnt"))
      .groupBy(col(idCol))
      .agg(sum(least(col("cnt"), col("rcnt"))).as("hit"),
        sum(col("cnt")).as("c_ngrams"),
        sum(col("rcnt")).as("r_ngrams"))
    toksBoth.select(col(idCol))
      .join(joined, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("c_ngrams"), lit(0L)).as("c_ngrams"),
        coalesce(col("r_ngrams"), lit(0L)).as("r_ngrams"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .withColumn("rouge_r",
        when(col("r_ngrams") > 0, quantC(col("hit") / col("r_ngrams"))))
      .withColumn("rouge_p",
        when(col("c_ngrams") > 0, quantC(col("hit") / col("c_ngrams"))))
      .withColumn("rouge_f",
        when(col("rouge_r").isNotNull && col("rouge_p").isNotNull,
          when(col("rouge_r") + col("rouge_p") > 0,
            quantC(lit(2.0) * col("rouge_p") * col("rouge_r") /
              (col("rouge_p") + col("rouge_r"))))
            .otherwise(lit(0.0))))
  }

  /** LCS match POSITIONS in the reference (1-based), under the PINNED
    * backtrace rule that makes [[rougeLsum]]'s union well-defined and
    * oracle-replayable: walk from (|r|, |c|); on a token match take it
    * (always on an optimal path — `t(i)(j) = t(i-1)(j-1) + 1` whenever
    * `r(i-1) == c(j-1)`); otherwise step the CANDIDATE back when
    * `t(i)(j-1) > t(i-1)(j)`, else the reference. This is the
    * greedy-from-the-end rule of the public `rouge-score` package
    * (google-research, `rouge_scorer._lcs_ind`), so scores line up with
    * the ecosystem's rougeLsum, and it is deterministic — the whole
    * point, because WHICH positions an LCS matches is not math-pinned
    * when several longest subsequences exist. O(|r|·|c|) time and
    * memory (full table; sentences are short by construction). */
  private[graft] def lcsInd(r: Array[String], c: Array[String]): Array[Int] = {
    val m = r.length; val n = c.length
    if (m == 0 || n == 0) return Array.empty
    val t = Array.ofDim[Int](m + 1, n + 1)
    var i = 1
    while (i <= m) {
      var j = 1
      while (j <= n) {
        t(i)(j) =
          if (r(i - 1) == c(j - 1)) t(i - 1)(j - 1) + 1
          else math.max(t(i - 1)(j), t(i)(j - 1))
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    i = m; var j = n
    while (i > 0 && j > 0) {
      if (r(i - 1) == c(j - 1)) { out += i; i -= 1; j -= 1 }
      else if (t(i)(j - 1) > t(i - 1)(j)) j -= 1
      else i -= 1
    }
    // the walk emits positions end-first; return ascending (the
    // rouge-score convention) — callers treat this as a set either way
    out.reverseIterator.toArray
  }

  /** ROUGE-L-summary (Lin 2004 §3.2, union-LCS): the summary-level
    * variant — each side is split into SENTENCES, and each reference
    * sentence is credited with the UNION of its LCS match positions
    * across all candidate sentences, so a reference sentence partially
    * covered by several candidate sentences scores the union, not the
    * best single alignment:
    *
    *   hits = Σ_i clip( ∪_j matchPos(r_i, c_j) )
    *   R = hits / m,  P = hits / n,  F = 2PR/(P+R)
    *
    * (m, n = total reference / candidate tokens over all sentences.)
    * `clip` is the `rouge-score` package's double-counting guard: a
    * per-pair budget of candidate token counts, consumed as union
    * matches are credited, so a candidate token can't be credited to
    * more reference sentences than it occurs (without it, P > 1 is
    * reachable). The budget is per-TOKEN and each credit consumes one,
    * so the total is order-free: hits = Σ_t min(matched positions
    * bearing t, count of t in the candidate) — which is how the oracle
    * computes it relationally.
    * The match-position sets come from [[lcsInd]]'s pinned backtrace —
    * the obstruction that kept this op adjudicated-out (COVERAGE §7.4)
    * until the tie rule was pinned and replayed: the DuckDB oracle
    * rebuilds every sentence-pair DP table by anti-diagonal recursion,
    * walks the SAME backtrace in a second recursive CTE, and unions the
    * matched positions relationally. Sentences: split on `sentSplit`
    * (default `[.!?]+` — RE2-safe, no lookaround, so DuckDB's regex
    * replays it), trimmed, empties dropped; tokens per sentence follow
    * the repo-wide lowercase-whitespace convention. Same pair-keyed
    * kernel shape as [[rougeL]] — sequential per pair, embarrassingly
    * parallel across pairs, nothing leaves the executor — and the same
    * null semantics: null-side pairs dropped, an empty (no-token) side
    * nulls its ratio and F, zero overlap scores 0. Output: (idCol,
    * c_tokens, r_tokens, lcs_hits, rouge_r, rouge_p, rouge_f). */
  def rougeLsum(pairs: DataFrame,
      idCol: String = "pair_id",
      candCol: String = "candidate",
      refCol: String = "reference",
      sentSplit: String = "[.!?]+"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val base = pairs.filter(col(candCol).isNotNull && col(refCol).isNotNull)
      .select(col(idCol).cast("long").as("pair_id"),
        col(candCol).cast("string"), col(refCol).cast("string"))
      .as[(Long, String, String)]
    def sentTokens(s: String): Array[Array[String]] =
      s.split(sentSplit).map(_.trim).filter(_.nonEmpty).map(tokens)
    val raw = base.map { case (id, c, r) =>
      val cs = sentTokens(c); val rs = sentTokens(r)
      val n = cs.iterator.map(_.length.toLong).sum
      val m = rs.iterator.map(_.length.toLong).sum
      val budget = scala.collection.mutable.HashMap.empty[String, Int]
      cs.foreach(_.foreach(t => budget(t) = budget.getOrElse(t, 0) + 1))
      var hits = 0L
      rs.foreach { rt =>
        if (rt.nonEmpty) {
          val u = scala.collection.mutable.BitSet.empty
          cs.foreach { ct => if (ct.nonEmpty) u ++= lcsInd(rt, ct) }
          u.foreach { p =>
            val tok = rt(p - 1)
            val left = budget.getOrElse(tok, 0)
            if (left > 0) { hits += 1; budget(tok) = left - 1 }
          }
        }
      }
      (id, n, m, hits)
    }.toDF("pair_id", "c_tokens", "r_tokens", "lcs_hits")
    raw
      .withColumn("rouge_r",
        when(col("r_tokens") > 0, quantC(col("lcs_hits") / col("r_tokens"))))
      .withColumn("rouge_p",
        when(col("c_tokens") > 0, quantC(col("lcs_hits") / col("c_tokens"))))
      .withColumn("rouge_f",
        when(col("rouge_r").isNotNull && col("rouge_p").isNotNull,
          when(col("rouge_r") + col("rouge_p") > 0,
            quantC(lit(2.0) * col("rouge_p") * col("rouge_r") /
              (col("rouge_p") + col("rouge_r"))))
            .otherwise(lit(0.0))))
      .withColumnRenamed("pair_id", idCol)
  }

  /** Score (idCol, candCol, refCol) pairs. Output: (idCol, c_len, r_len,
    * lcs_len, rouge_r, rouge_p, rouge_f), one row per input pair with
    * both texts non-null. */
  def rougeL(pairs: DataFrame,
      idCol: String = "pair_id",
      candCol: String = "candidate",
      refCol: String = "reference"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val base = pairs.filter(col(candCol).isNotNull && col(refCol).isNotNull)
      .select(col(idCol).cast("long").as("pair_id"),
        col(candCol).cast("string"), col(refCol).cast("string"))
      .as[(Long, String, String)]
    val raw = base.map { case (id, c, r) =>
      val ct = tokens(c); val rt = tokens(r)
      (id, ct.length.toLong, rt.length.toLong, lcsLen(ct, rt))
    }.toDF("pair_id", "c_len", "r_len", "lcs_len")
    raw
      .withColumn("rouge_r",
        when(col("r_len") > 0, quantC(col("lcs_len") / col("r_len"))))
      .withColumn("rouge_p",
        when(col("c_len") > 0, quantC(col("lcs_len") / col("c_len"))))
      .withColumn("rouge_f",
        when(col("rouge_r").isNotNull && col("rouge_p").isNotNull,
          when(col("rouge_r") + col("rouge_p") > 0,
            quantC(lit(2.0) * col("rouge_p") * col("rouge_r") /
              (col("rouge_p") + col("rouge_r"))))
            .otherwise(lit(0.0))))
      .withColumnRenamed("pair_id", idCol)
  }
}
