package graft

import graft.ext.Rouge

/** Hand-computed coverage for [[graft.ext.Rouge]] (ROUGE-L): every LCS
  * value checkable by eye, plus the Bleu-convention null semantics. */
class RougeSpec extends SparkSpec {
  import spark.implicits._

  private def pairs = Seq(
    (1L, "the cat sat on the mat", "the cat ran on a mat"), // LCS the,cat,on,mat = 4
    (2L, "a b c d", "x y z"),                               // disjoint: 0
    (3L, "hello world", "hello world"),                     // identical: 2
    (4L, "z z z a b", "a b z z z"),                         // order matters: 3 (z z z)
    (5L, "   ", "a b"),                                     // empty candidate
    (6L, "a b", "   ")                                      // empty reference
  ).toDF("pair_id", "candidate", "reference")

  test("rougeL: hand-computed LCS, canonized R/P/F") {
    val out = Rouge.rougeL(pairs).collect().map(r =>
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_len"), r.getAs[Long]("r_len"),
        r.getAs[Long]("lcs_len"), Option(r.getAs[java.lang.Double]("rouge_r")),
        Option(r.getAs[java.lang.Double]("rouge_p")),
        Option(r.getAs[java.lang.Double]("rouge_f"))))).toMap
    assert(out(1L) == ((6L, 6L, 4L, Some(0.666667), Some(0.666667), Some(0.666667))),
      s"got ${out(1L)}")
    assert(out(2L) == ((4L, 3L, 0L, Some(0.0), Some(0.0), Some(0.0))), s"got ${out(2L)}")
    assert(out(3L) == ((2L, 2L, 2L, Some(1.0), Some(1.0), Some(1.0))), s"got ${out(3L)}")
    assert(out(4L) == ((5L, 5L, 3L, Some(0.6), Some(0.6), Some(0.6))), s"got ${out(4L)}")
    // empty candidate: P and F null, R = 0; empty reference: R and F null
    assert(out(5L) == ((0L, 2L, 0L, Some(0.0), None, None)), s"got ${out(5L)}")
    assert(out(6L) == ((2L, 0L, 0L, None, Some(0.0), None)), s"got ${out(6L)}")
  }

  test("rougeL: null sides dropped; asymmetric lengths give R != P") {
    val p = Seq((1L, Option("a b c d"), Option("a b")),
        (2L, Option.empty[String], Option("x")),
        (3L, Option("x"), Option.empty[String]))
      .toDF("pair_id", "candidate", "reference")
    val out = Rouge.rougeL(p).collect()
    assert(out.map(_.getAs[Long]("pair_id")).toSet == Set(1L))
    val r = out(0)
    // LCS = 2: R = 2/2 = 1, P = 2/4 = 0.5, F = 2*.5*1/1.5 = 0.666667
    assert(r.getAs[Double]("rouge_r") == 1.0 && r.getAs[Double]("rouge_p") == 0.5)
    assert(r.getAs[Double]("rouge_f") == 0.666667)
  }

  test("lcsLen kernel: symmetry and subsequence (not substring) semantics") {
    def l(a: String, b: String) =
      Rouge.lcsLen(a.split(" "), b.split(" "))
    assert(l("a x b y c", "a b c") == 3) // gaps allowed
    assert(l("a b c", "a x b y c") == 3) // symmetric
    assert(l("a a a", "a a") == 2)       // multiplicity respected
    assert(l("c b a", "a b c") == 1)     // reversal: only one survives
  }

  test("rougeN: hand-computed clipped recall at n=1 and n=2") {
    val out1 = Rouge.rougeN(pairs, n = 1).collect().map(r =>
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_ngrams"),
        r.getAs[Long]("r_ngrams"), r.getAs[Long]("hit"),
        Option(r.getAs[java.lang.Double]("rouge_r")),
        Option(r.getAs[java.lang.Double]("rouge_p"))))).toMap
    // pair 1: clip the:1, cat:1, on:1, mat:1 -> hit 4 of 6/6
    assert(out1(1L) == ((6L, 6L, 4L, Some(0.666667), Some(0.666667))), s"got ${out1(1L)}")
    assert(out1(2L) == ((4L, 3L, 0L, Some(0.0), Some(0.0))), s"got ${out1(2L)}")
    // empty candidate: c_ngrams 0 -> P null, R = 0
    assert(out1(5L) == ((0L, 2L, 0L, Some(0.0), None)), s"got ${out1(5L)}")
    val out2 = Rouge.rougeN(pairs, n = 2).collect().map(r =>
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_ngrams"),
        r.getAs[Long]("r_ngrams"), r.getAs[Long]("hit"),
        Option(r.getAs[java.lang.Double]("rouge_f"))))).toMap
    // pair 1 bigrams: only "the cat" matches -> 1 of 5/5, F = 0.2
    assert(out2(1L) == ((5L, 5L, 1L, Some(0.2))), s"got ${out2(1L)}")
    // identical 2-token texts: one bigram each, full match
    assert(out2(3L) == ((1L, 1L, 1L, Some(1.0))), s"got ${out2(3L)}")
  }

  test("rougeN: hashKeys relabeling is row-exact vs the string-gram path") {
    // rougeN keys grams by hash; the SparkEntry oracle replays STRING grams,
    // which is only sound because hashing relabels the count groups
    // without changing any count — pin that, including repeated grams,
    // boundary-sensitive tokens, and empty/whitespace sides
    val p = pairs.union(Seq(
      (7L, "ab c ab c ab", "ab c x ab"),
      (8L, "a bc", "ab c")).toDF("pair_id", "candidate", "reference"))
    for (n <- 1 to 3) {
      val exact = GramReference.rougeN(p, n = n).orderBy("pair_id")
        .collect().map(_.toString).toSeq
      val hashed = Rouge.rougeN(p, n = n).orderBy("pair_id")
        .collect().map(_.toString).toSeq
      assert(exact == hashed, s"n=$n: hashKeys changed rougeN output")
    }
  }

  test("rougeN: multiplicity clipping and asymmetric R vs P") {
    val p = Seq((1L, "a a a", "a a")).toDF("pair_id", "candidate", "reference")
    val r = Rouge.rougeN(p, n = 1).collect()(0)
    // clip min(3, 2) = 2: R = 2/2 = 1, P = 2/3, F = 0.8
    assert(r.getAs[Long]("hit") == 2L)
    assert(r.getAs[Double]("rouge_r") == 1.0)
    assert(r.getAs[Double]("rouge_p") == 0.666667)
    assert(r.getAs[Double]("rouge_f") == 0.8)
    // a 1-token candidate has no bigrams: P and F null, R = 0
    val short = Seq((1L, "a", "a b c")).toDF("pair_id", "candidate", "reference")
    val s = Rouge.rougeN(short, n = 2).collect()(0)
    assert(s.getAs[Long]("c_ngrams") == 0L && s.getAs[Long]("r_ngrams") == 2L)
    assert(Option(s.getAs[java.lang.Double]("rouge_p")).isEmpty)
    assert(s.getAs[Double]("rouge_r") == 0.0)
    intercept[IllegalArgumentException](Rouge.rougeN(short, n = 5))
  }

  test("lcsInd: pinned greedy-from-the-end backtrace (the rougeLsum tie rule)") {
    def ind(r: String, c: String) =
      Rouge.lcsInd(r.split(" "), c.split(" ")).toList
    // unambiguous: positions are the LCS itself (1-based, ascending)
    assert(ind("a x b y c", "a b c") == List(1, 3, 5))
    // ambiguous length-1 LCS ("a b" vs "b a"): the pinned walk moves the
    // reference pointer on the tie (t[i][j-1] == t[i-1][j]) and then
    // matches 'a' — position 1, never 'b'
    assert(ind("a b", "b a") == List(1))
    // repeated token: the end-anchored walk matches the LAST occurrence
    assert(ind("a b a", "a") == List(3))
    // empty sides
    assert(Rouge.lcsInd(Array.empty[String], Array("a")).isEmpty)
    assert(Rouge.lcsInd(Array("a"), Array.empty[String]).isEmpty)
  }

  test("rougeLsum: union across candidate sentences beats best single LCS") {
    // ref = one 5-token sentence; candidate = two sentences each covering
    // a disjoint piece: union credits 4 positions where any single
    // alignment scores only 2
    val p = Seq((1L, "a b. d e", "a b c d e")).toDF("pair_id", "candidate", "reference")
    val r = Rouge.rougeLsum(p).collect()(0)
    assert(r.getAs[Long]("c_tokens") == 4L && r.getAs[Long]("r_tokens") == 5L)
    assert(r.getAs[Long]("lcs_hits") == 4L)
    assert(r.getAs[Double]("rouge_r") == 0.8 && r.getAs[Double]("rouge_p") == 1.0)
    assert(r.getAs[Double]("rouge_f") == 0.888889)
  }

  test("rougeLsum: union per ref sentence, clipped by candidate token counts") {
    // both candidate sentences match the SAME ref positions -> union = 2
    val p = Seq(
      (1L, "a b. a b", "a b c"),
      // the clip: both ref sentences union-match 'x y', but the candidate
      // has only ONE of each token -> hits clamp at 2 (P = 1.0, never > 1)
      (2L, "x y", "x y. x y"),
      // single-sentence sides degenerate to plain ROUGE-L
      (3L, "the cat sat on the mat", "the cat ran on a mat")
    ).toDF("pair_id", "candidate", "reference")
    val out = Rouge.rougeLsum(p).collect().map(r =>
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_tokens"),
        r.getAs[Long]("r_tokens"), r.getAs[Long]("lcs_hits"),
        r.getAs[Double]("rouge_r"), r.getAs[Double]("rouge_p")))).toMap
    assert(out(1L) == ((4L, 3L, 2L, 0.666667, 0.5)), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 4L, 2L, 0.5, 1.0)), s"got ${out(2L)}")
    assert(out(3L) == ((6L, 6L, 4L, 0.666667, 0.666667)), s"got ${out(3L)}")
    // pair 3 agrees with sentence-level rougeL on the same texts
    val l = Rouge.rougeL(p.filter($"pair_id" === 3L)).collect()(0)
    assert(l.getAs[Long]("lcs_len") == 4L)
  }

  test("rougeLsum: null and empty-side semantics match the rougeL convention") {
    val p = Seq(
      (1L, Option("   "), Option("a b")),   // no candidate tokens: P, F null
      (2L, Option("a b"), Option(" . ! ")), // no reference tokens: R, F null
      (3L, Option.empty[String], Option("x")),
      (4L, Option("x"), Option.empty[String])
    ).toDF("pair_id", "candidate", "reference")
    val out = Rouge.rougeLsum(p).collect().map(r =>
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_tokens"), r.getAs[Long]("r_tokens"),
        Option(r.getAs[java.lang.Double]("rouge_r")),
        Option(r.getAs[java.lang.Double]("rouge_p")),
        Option(r.getAs[java.lang.Double]("rouge_f"))))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((0L, 2L, Some(0.0), None, None)), s"got ${out(1L)}")
    assert(out(2L) == ((2L, 0L, None, Some(0.0), None)), s"got ${out(2L)}")
  }

  test("rougeLsum invariants on generated pairs: clip bound, union dominance, " +
      "candidate-sentence-order invariance") {
    // deterministic pseudo-random word-soup pairs (no RNG in tests):
    // small vocab forces heavy repetition, the regime where the clip
    // and the union actually bite
    val vocab = Array("a", "b", "c", "d")
    def word(seed: Int) = vocab(math.abs(seed * 2654435761L.toInt) % 4)
    def sent(seed: Int, len: Int) = (0 until len).map(i => word(seed * 31 + i)).mkString(" ")
    def summary(seed: Int, nSents: Int) =
      (0 until nSents).map(si => sent(seed * 7 + si, 3 + (seed + si) % 4)).mkString(". ")
    val pairs = (1 to 40).map { i =>
      (i.toLong, summary(i, 1 + i % 3), summary(i + 100, 1 + (i / 2) % 3))
    }.toDF("pair_id", "candidate", "reference")
    val out = Rouge.rougeLsum(pairs).collect().map(r =>
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_tokens"), r.getAs[Long]("r_tokens"),
        r.getAs[Long]("lcs_hits")))).toMap
    // clip bound: hits can never exceed either side's token count
    out.foreach { case (id, (n, m, hits)) =>
      assert(hits <= math.min(n, m), s"pair $id: hits $hits > min($n, $m)")
      assert(hits >= 0)
    }
    // union dominance: hits >= the single best whole-summary LCS clipped
    // the same way is NOT guaranteed (different sentence splits), but
    // hits >= each individual (ref sentence, cand sentence) LCS length
    // clipped at the candidate total IS — check via the 1-sentence case:
    // collapsing both sides to one sentence must never beat the
    // summary-level union on the same flattened text pair
    val flat = pairs.selectExpr("pair_id",
      "replace(candidate, '. ', ' ') AS candidate",
      "replace(reference, '. ', ' ') AS reference")
    val flatL = Rouge.rougeL(flat).collect().map(r =>
      r.getAs[Long]("pair_id") -> r.getAs[Long]("lcs_len")).toMap
    out.foreach { case (id, (n, _, hits)) =>
      // whole-text LCS uses each candidate token at most once, and every
      // cross-sentence alignment it makes is available to SOME
      // (r_i, c_j) sentence pair's LCS only in weaker form — so no exact
      // ordering holds in general; assert the sane envelope instead
      assert(flatL(id) <= n, s"pair $id: flat LCS exceeds candidate tokens")
    }
    // candidate sentence ORDER must not change the union (positions are
    // per reference sentence; the union and the per-token clip are
    // order-free)
    val swapped = pairs.selectExpr("pair_id",
      // reverse candidate sentence order via split/reverse/join
      "array_join(reverse(split(candidate, '\\\\. ')), '. ') AS candidate",
      "reference")
    val out2 = Rouge.rougeLsum(swapped).collect().map(r =>
      r.getAs[Long]("pair_id") -> ((r.getAs[Long]("c_tokens"), r.getAs[Long]("r_tokens"),
        r.getAs[Long]("lcs_hits")))).toMap
    assert(out2 == out, "reordering candidate sentences changed rougeLsum")
  }

  test("rougeL is deterministic under input order") {
    val shuffled = pairs.orderBy(org.apache.spark.sql.functions.rand(13))
    val a = Rouge.rougeL(pairs).orderBy("pair_id").collect().map(_.toString).toSeq
    val b = Rouge.rougeL(shuffled).orderBy("pair_id").collect().map(_.toString).toSeq
    assert(a == b)
  }
}
