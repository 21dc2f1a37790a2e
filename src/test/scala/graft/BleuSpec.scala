package graft

import graft.ext.Bleu

/** Hand-computed coverage for [[graft.ext.Bleu.bleu2]]: every clipped
  * count, precision, and brevity penalty checkable by eye. */
class BleuSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6

  test("bleu2: hand-computed clipped precisions, bp, and the composite") {
    val pairs = Seq(
      // identical -> p1 = p2 = 1, bp = 1, bleu = 1
      (1L, "the cat sat", "the cat sat"),
      // cand "the the the cat" vs ref "the cat sat on the mat":
      // unigrams: the x3 clipped by ref(the)=2 -> 2, cat 1 -> hit 3/4
      // bigrams: "the the" x2 (ref 0), "the cat" 1 (ref 1) -> 1/3
      // bp: c=4 < r=6 -> exp(1 - 6/4) = exp(-0.5)
      (2L, "the the the cat", "the cat sat on the mat"),
      // zero unigram overlap -> p1 = 0, bleu = 0
      (3L, "aa bb", "cc dd"),
      // 1-token candidate: no bigrams -> p2 null -> bleu null
      (4L, "cat", "cat sat"),
      // whitespace-only candidate: c_len 0 -> everything null
      (5L, "   ", "cat sat")
    ).toDF("pair_id", "candidate", "reference")
    val out = Bleu.bleu2(pairs).collect().map { r =>
      r.getAs[Long]("pair_id") -> (r.getAs[Long]("c_len"), r.getAs[Long]("r_len"),
        Option(r.getAs[java.lang.Double]("p1")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("p2")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("bp")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("bleu")).map(_.doubleValue))
    }.toMap
    assert(out(1L) == (3L, 3L, Some(1.0), Some(1.0), Some(1.0), Some(1.0)), s"got $out")
    val bp2 = r6(math.exp(-0.5))
    val bleu2 = r6(bp2 * math.sqrt(0.75 * r6(1.0 / 3.0)))
    assert(out(2L) == (4L, 6L, Some(0.75), Some(r6(1.0 / 3.0)), Some(bp2), Some(bleu2)),
      s"got ${out(2L)}")
    assert(out(3L) == (2L, 2L, Some(0.0), Some(0.0), Some(1.0), Some(0.0)))
    assert(out(4L) == (1L, 2L, Some(1.0), None, Some(r6(math.exp(-1.0))), None))
    assert(out(5L) == (0L, 2L, None, None, None, None))
  }

  test("bleu2: hashKeys relabeling is row-exact vs the string-gram path") {
    // bleu2 keys grams by hash against an exact-string SparkEntry oracle —
    // sound iff hashing only relabels the clip groups. Pin row-exact
    // equality on the hand-computed battery plus boundary-sensitive and
    // repeated-gram pairs.
    val pairs = Seq(
      (1L, "the cat sat", "the cat sat"),
      (2L, "the the the cat", "the cat sat on the mat"),
      (3L, "aa bb", "cc dd"),
      (4L, "cat", "cat sat"),
      (5L, "   ", "cat sat"),
      (6L, "ab c ab c ab", "ab c x ab"),
      (7L, "a bc", "ab c")
    ).toDF("pair_id", "candidate", "reference")
    val exact = GramReference.bleu2(pairs).orderBy("pair_id").collect().map(_.toString).toSeq
    val hashed = Bleu.bleu2(pairs).orderBy("pair_id")
      .collect().map(_.toString).toSeq
    assert(exact == hashed, "hashKeys changed bleu2 output")
  }

  test("bleu2: null text drops the pair; asymmetry of cand/ref roles") {
    val pairs = Seq(
      (1L, Option("a b"), Option.empty[String]),
      (2L, Option.empty[String], Option("a b")),
      // cand shorter subset of ref: full precision, penalized length
      (3L, Option("a b"), Option("a b c d")),
      // roles swapped: extra cand tokens dilute precision, bp = 1
      (4L, Option("a b c d"), Option("a b"))
    ).toDF("pair_id", "candidate", "reference")
    val out = Bleu.bleu2(pairs).collect().map(r =>
      r.getAs[Long]("pair_id") -> (
        Option(r.getAs[java.lang.Double]("p1")).map(_.doubleValue),
        Option(r.getAs[java.lang.Double]("bp")).map(_.doubleValue))).toMap
    assert(!out.contains(1L) && !out.contains(2L), s"null-text pairs present: $out")
    assert(out(3L) == (Some(1.0), Some(r6(math.exp(-1.0)))))
    assert(out(4L) == (Some(0.5), Some(1.0)))
  }
}
