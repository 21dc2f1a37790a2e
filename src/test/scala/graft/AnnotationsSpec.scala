package graft

import graft.ext.Annotations

/** Hand-computed coverage for [[graft.ext.Annotations]] (majority-vote
  * consensus + annotator quality): three items, three annotators, one
  * abstention, one exact tie — every consensus decision checkable by
  * eye. */
class AnnotationsSpec extends SparkSpec {
  import spark.implicits._

  // item 1: a, a, b -> consensus a (2/3); item 2: a, b, NULL -> tie,
  // label asc -> a (1/2); item 3: b, b, b -> b (3/3)
  private def votes = Seq(
    (1L, "x", Option("a")), (1L, "y", Option("a")), (1L, "z", Option("b")),
    (2L, "x", Option("a")), (2L, "y", Option("b")), (2L, "z", Option.empty[String]),
    (3L, "x", Option("b")), (3L, "y", Option("b")), (3L, "z", Option("b"))
  ).toDF("doc_id", "annotator", "label")

  test("majorityVote: counts, tie-by-label, abstention dropped, canonized fraction") {
    val mv = Annotations.majorityVote(votes).collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[String]("label"),
        r.getAs[Long]("n_votes"), r.getAs[Long]("n_total"),
        r.getAs[Double]("vote_frac"))).toMap
    assert(mv(1L) == ("a", 2L, 3L, 0.666667), s"got $mv")
    assert(mv(2L) == ("a", 1L, 2L, 0.5), s"got $mv") // tie -> smaller label
    assert(mv(3L) == ("b", 3L, 3L, 1.0), s"got $mv")
  }

  test("annotatorQuality: agreement with consensus; abstentions score nothing") {
    val q = Annotations.annotatorQuality(votes, Annotations.majorityVote(votes))
      .collect().map(r => r.getAs[String]("annotator") ->
        (r.getAs[Long]("n_votes"), r.getAs[Double]("agreement"))).toMap
    assert(q("x") == (3L, 1.0), s"got $q")       // agrees everywhere
    assert(q("y") == (3L, 0.666667), s"got $q")  // misses the item-2 tie
    assert(q("z") == (2L, 0.5), s"got $q")       // null vote dropped from n
  }

  test("annotatorQualityLoo: self-vote excluded, ties by label, single-voter items dropped") {
    // item 1 LOO: x,y see the a/b tie -> "a" (label asc); z sees a(2) -> "a"
    // item 2 LOO: x sees only b -> disagrees; y sees only a -> disagrees
    // item 3 LOO: everyone sees b(2) -> agree
    val q = Annotations.annotatorQualityLoo(votes)
      .collect().map(r => r.getAs[String]("annotator") ->
        (r.getAs[Long]("n_votes_loo"), r.getAs[Double]("agreement_loo"))).toMap
    assert(q("x") == (3L, 0.666667), s"got $q")
    assert(q("y") == (3L, 0.666667), s"got $q")
    assert(q("z") == (2L, 0.5), s"got $q")
    // an item with a single voter has no leave-one-out consensus: it must
    // drop from that annotator's count instead of scoring
    val plus = votes.union(Seq((4L, "x", Option("a"))).toDF("doc_id", "annotator", "label"))
    val q2 = Annotations.annotatorQualityLoo(plus)
      .collect().map(r => r.getAs[String]("annotator") ->
        r.getAs[Long]("n_votes_loo")).toMap
    assert(q2("x") == 3L, s"got $q2")
  }

  test("weightedVote: reliable annotator outvotes two mediocre ones; negative weights flip") {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def lo(a: Double) = r6(math.log(a / (1.0 - a)))
    // expert (0.9) vs two coin-flippers (0.55): on item 1 the expert's
    // "a" must beat the two agreeing "b" votes (2.197 > 2*0.201)
    val votes = Seq(
      (1L, "e", "a"), (1L, "m1", "b"), (1L, "m2", "b"),
      (2L, "e", "a"), (2L, "m1", "a"), (2L, "m2", "b")
    ).toDF("doc_id", "annotator", "label")
    val quality = Seq(("e", 3L, 0.9), ("m1", 3L, 0.55), ("m2", 3L, 0.55))
      .toDF("annotator", "n_votes", "agreement")
    val out = Annotations.weightedVote(votes, quality).collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[String]("label"),
        r.getAs[Double]("score"), r.getAs[Long]("n_votes"))).toMap
    assert(out(1L) == ("a", lo(0.9), 1L), s"got $out")
    assert(out(2L) == ("a", r6(lo(0.9) + lo(0.55)), 2L), s"got $out")
    // worse-than-chance annotator: negative weight counts AGAINST its label
    val adv = Seq((1L, "x", "a"), (1L, "y", "b")).toDF("doc_id", "annotator", "label")
    val advQ = Seq(("x", 2L, 0.8), ("y", 2L, 0.2)).toDF("annotator", "n_votes", "agreement")
    val o2 = Annotations.weightedVote(adv, advQ).collect().map(r =>
      (r.getAs[String]("label"), r.getAs[Double]("score")))
    // y's b-vote scores ln(.2/.8) < 0, so a wins even 1-vs-1
    assert(o2.toSeq == Seq(("a", lo(0.8))), s"got ${o2.toSeq}")
    // clamp: a perfect annotator gets ln(0.99/0.01), not infinity
    val perfQ = Seq(("x", 2L, 1.0), ("y", 2L, 0.2)).toDF("annotator", "n_votes", "agreement")
    val o3 = Annotations.weightedVote(adv, perfQ).collect()
      .map(_.getAs[Double]("score")).toSeq
    assert(o3 == Seq(lo(0.99)), s"got $o3")
  }

  // Dawid–Skene fixture: 4 items × 3 annotators × labels {x, y};
  // annotator 'a' disagrees with the b/c pair on items 1 and 2.
  // Expected values computed by an INDEPENDENT plain-python mirror of the
  // paper's EM with the library's 1e-6 canon at every stage (λ = 0.01).
  private def dsVotes = Seq(
    (1L, "a", "x"), (1L, "b", "x"), (1L, "c", "y"),
    (2L, "a", "x"), (2L, "b", "y"), (2L, "c", "y"),
    (3L, "a", "y"), (3L, "b", "y"), (3L, "c", "y"),
    (4L, "a", "x"), (4L, "b", "x"), (4L, "c", "x")
  ).toDF("doc_id", "annotator", "label")

  test("dawidSkene: two EM rounds match the hand-computed fixture exactly") {
    val t = Annotations.dawidSkene(dsVotes, rounds = 2, smoothing = 0.01)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label")) ->
        r.getAs[Double]("posterior")).toMap
    val expected = Map(
      (1L, "x") -> 0.910403, (1L, "y") -> 0.089597,
      (2L, "x") -> 0.089597, (2L, "y") -> 0.910403,
      (3L, "x") -> 0.00054,  (3L, "y") -> 0.99946,
      (4L, "x") -> 0.99946,  (4L, "y") -> 0.00054)
    assert(t == expected, s"got $t")
  }

  test("dawidSkene: round 0 is the majority-vote proportion init (argmax == majorityVote)") {
    val t0 = Annotations.dawidSkene(dsVotes, rounds = 0)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label")) ->
        r.getAs[Double]("posterior")).toMap
    assert(t0((1L, "x")) == 0.666667 && t0((2L, "y")) == 0.666667 &&
      t0((3L, "y")) == 1.0 && t0((3L, "x")) == 0.0, s"got $t0")
    // hard argmax of the init == majorityVote's winner, incl. its tie rule
    val cons = Annotations.dawidSkeneConsensus(dsVotes, rounds = 0)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("label")).toMap
    val mv = Annotations.majorityVote(dsVotes)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("label")).toMap
    assert(cons == mv, s"ds=$cons mv=$mv")
  }

  test("dawidSkene: EM sharpens the confident items and demotes the lone dissenter") {
    val t = Annotations.dawidSkene(dsVotes, rounds = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label")) ->
        r.getAs[Double]("posterior")).toMap
    // unanimous items end up sharper than their 1.0-vs-0.0 init would
    // survive smoothing alone, and the 2-1 items sharpen past 2/3
    assert(t((4L, "x")) > 0.99 && t((1L, "x")) > 0.9, s"got $t")
    // abstentions drop; a null-vote item keeps its other votes
    val withNull = dsVotes.unionByName(
      Seq((1L, "d", Option.empty[String])).toDF("doc_id", "annotator", "label"))
    val t2 = Annotations.dawidSkene(withNull, rounds = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label")) ->
        r.getAs[Double]("posterior")).toMap
    assert(t2 == t, s"null vote changed posteriors: $t2 vs $t")
  }

  test("dawidSkeneModel: round-1 confusion matrices match the python mirror") {
    val pi = Annotations.dawidSkeneModel(dsVotes, rounds = 1)
      .collect().map(r => (r.getAs[String]("annotator"), r.getAs[String]("true_label"),
        r.getAs[String]("vote_label")) -> r.getAs[Double]("pi")).toMap
    assert(pi.size == 12) // 3 annotators x 2x2 full grid
    val expected = Map(
      ("a", "x", "x") -> 0.99505, ("a", "x", "y") -> 0.00495,
      ("a", "y", "x") -> 0.5, ("a", "y", "y") -> 0.5,
      ("b", "x", "x") -> 0.830033, ("b", "x", "y") -> 0.169967,
      ("b", "y", "x") -> 0.169967, ("b", "y", "y") -> 0.830033,
      ("c", "x", "x") -> 0.5, ("c", "x", "y") -> 0.5,
      ("c", "y", "x") -> 0.00495, ("c", "y", "y") -> 0.99505)
    assert(pi == expected, s"got $pi")
    intercept[IllegalArgumentException](Annotations.dawidSkeneModel(dsVotes, rounds = 0))
  }

  test("dawidSkene is deterministic under input order (canonized lockstep)") {
    val shuffled = dsVotes.orderBy(org.apache.spark.sql.functions.rand(11))
    val a = Annotations.dawidSkene(dsVotes, rounds = 2)
      .orderBy("doc_id", "label").collect().map(_.toString).toSeq
    val b = Annotations.dawidSkene(shuffled, rounds = 2)
      .orderBy("doc_id", "label").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("dawidSkeneTrace: llf matches the python mirror and is monotone non-decreasing") {
    // values from the independent canonized-EM mirror (λ = 0.01):
    // round-1 llf = −5.93557, round-2 llf = −5.75371 — EM's guarantee
    val tr = Annotations.dawidSkeneTrace(dsVotes, rounds = 2)
      .orderBy("round").collect()
      .map(r => r.getAs[Int]("round") -> r.getAs[Double]("llf"))
    assert(tr.toSeq == Seq(1 -> -5.93557, 2 -> -5.75371), s"got ${tr.toSeq}")
    assert(tr(1)._2 >= tr(0)._2, "EM llf must be monotone non-decreasing")
    // the fit-all bundle returns the same trace frame
    val (_, _, tr2) = Annotations.dawidSkeneFitAll(dsVotes, rounds = 2)
    assert(tr2.orderBy("round").collect().map(_.getAs[Double]("llf")).toSeq ==
      tr.map(_._2).toSeq)
    intercept[IllegalArgumentException](Annotations.dawidSkeneTrace(dsVotes, rounds = 0))
  }

  test("dawidSkene: viral item (2,500 votes) keeps finite normalized posteriors") {
    // pre-fix regression: s_ln sums ln π over an item's votes, so 2,500
    // votes at π ≈ 0.5–0.6 gave s_ln ≈ −1,400, exp underflowed to 0 for
    // EVERY label, z = 0, posterior 0/0 (NaN). The per-item log-sum-exp
    // shift keeps the posterior finite at any vote count.
    val viral = (0 until 2500).map(i =>
      (1L, s"a${i % 50}", if (i % 5 < 3) "x" else "y")) ++
      Seq((2L, "a0", "y"), (2L, "a1", "y"), (3L, "a2", "x"))
    val votes = viral.toDF("doc_id", "annotator", "label")
    val t = Annotations.dawidSkene(votes, rounds = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label")) ->
        r.getAs[Double]("posterior")).toMap
    t.foreach { case (k, p) =>
      assert(!p.isNaN && p >= 0.0 && p <= 1.0, s"non-finite posterior at $k: $t") }
    val z1 = t((1L, "x")) + t((1L, "y"))
    assert(math.abs(z1 - 1.0) < 2e-6, s"viral item not normalized: $t")
    assert(t((1L, "x")) > 0.5, s"60/40 x-majority should win item 1: $t")
  }

  test("fleissKappa: hand-computed multi-rater agreement") {
    // P_i: 1/3, 1, 1, 1/3 -> p_bar 0.666667; p_x = p_y = 0.5 -> p_e 0.5
    // kappa = (0.666667 - 0.5)/0.5 = 0.333334
    val v = Seq(
      (1L, "a", "x"), (1L, "b", "x"), (1L, "c", "y"),
      (2L, "a", "x"), (2L, "b", "x"), (2L, "c", "x"),
      (3L, "a", "y"), (3L, "b", "y"), (3L, "c", "y"),
      (4L, "a", "x"), (4L, "b", "y"), (4L, "c", "y")
    ).toDF("doc_id", "annotator", "label")
    val r = Annotations.fleissKappa(v).collect()(0)
    assert(r.getAs[Long]("n_items") == 4L && r.getAs[Long]("n_votes") == 12L)
    assert(r.getAs[Double]("p_bar") == 0.666667 && r.getAs[Double]("p_e") == 0.5)
    assert(r.getAs[Double]("kappa") == 0.333334, s"got $r")
    // single-vote items drop from the pool entirely
    val withSingle = v.unionByName(Seq((5L, "a", "x")).toDF("doc_id", "annotator", "label"))
    val r2 = Annotations.fleissKappa(withSingle).collect()(0)
    assert(r2.getAs[Long]("n_items") == 4L && r2.getAs[Long]("n_votes") == 12L)
    assert(r2.getAs[Double]("kappa") == 0.333334)
    // perfect non-degenerate agreement: kappa exactly 1
    val perfect = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "y"), (2L, "b", "y"))
      .toDF("doc_id", "annotator", "label")
    assert(Annotations.fleissKappa(perfect).collect()(0).getAs[Double]("kappa") == 1.0)
    // degenerate pool (one label everywhere): p_e = 1 -> kappa null
    val degen = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "x"), (2L, "b", "x"))
      .toDF("doc_id", "annotator", "label")
    val rd = Annotations.fleissKappa(degen).collect()(0)
    assert(rd.getAs[Double]("p_e") == 1.0 &&
      Option(rd.getAs[java.lang.Double]("kappa")).isEmpty)
  }

  test("krippendorffAlpha: the paper's nominal worked example (missing data)") {
    // Krippendorff 2011 §"A nominal example": 12 units, 4 observers,
    // missing cells; unit 12 has ONE vote (dropped), n = 40 pairable
    // values over 11 units, A_o = 0.8, A_e = 86/390, alpha = 0.743
    val rows = Seq(
      ("A", Seq(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 1, 7 -> 4, 8 -> 1, 9 -> 2)),
      ("B", Seq(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 2, 7 -> 4, 8 -> 1, 9 -> 2,
        10 -> 5, 12 -> 3)),
      ("C", Seq(2 -> 3, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 3, 7 -> 4, 8 -> 2, 9 -> 2,
        10 -> 5, 11 -> 1)),
      ("D", Seq(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 4, 7 -> 4, 8 -> 1, 9 -> 2,
        10 -> 5, 11 -> 1))
    ).flatMap { case (obs, vs) => vs.map { case (u, l) => (u.toLong, obs, l.toString) } }
      .toDF("doc_id", "annotator", "label")
    val r = Annotations.krippendorffAlpha(rows).collect()(0)
    assert(r.getAs[Long]("n_items") == 11L && r.getAs[Long]("n_votes") == 40L)
    assert(r.getAs[Double]("a_o") == 0.8 && r.getAs[Double]("a_e") == 0.220513, s"got $r")
    assert(r.getAs[Double]("alpha") == 0.743421, s"got $r")
    // degenerate pool: one label everywhere -> A_e = 1 -> alpha null
    val deg = Seq((1L, "a", "x"), (1L, "b", "x"), (2L, "a", "x"), (2L, "b", "x"))
      .toDF("doc_id", "annotator", "label")
    val d = Annotations.krippendorffAlpha(deg).collect()(0)
    assert(d.isNullAt(d.fieldIndex("alpha")) && d.getAs[Double]("a_e") == 1.0)
    // null labels are abstentions: dropping to one vote drops the item
    val abst = Seq((1L, "a", Option("x")), (1L, "b", Option.empty[String]),
      (2L, "a", Option("x")), (2L, "b", Option("y")))
      .toDF("doc_id", "annotator", "label")
    val a = Annotations.krippendorffAlpha(abst).collect()(0)
    assert(a.getAs[Long]("n_items") == 1L && a.getAs[Long]("n_votes") == 2L, s"got $a")
  }

  test("krippendorffAlphaInterval: paper data under the squared-difference metric") {
    // Same 12-unit / 4-observer data as the nominal test, interval
    // metric: alpha = 0.849107 (vs nominal 0.743421 — near-misses like
    // 1-vs-2 cost less than 1-vs-5, raising agreement). Both D_o and
    // D_e hand-verified against a direct pairwise-sum implementation
    // of Krippendorff 2011 §C (D_o = 13/30, D_e = 112/39).
    val rows = Seq(
      ("A", Seq(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 1, 7 -> 4, 8 -> 1, 9 -> 2)),
      ("B", Seq(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 2, 7 -> 4, 8 -> 1, 9 -> 2,
        10 -> 5, 12 -> 3)),
      ("C", Seq(2 -> 3, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 3, 7 -> 4, 8 -> 2, 9 -> 2,
        10 -> 5, 11 -> 1)),
      ("D", Seq(1 -> 1, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 2, 6 -> 4, 7 -> 4, 8 -> 1, 9 -> 2,
        10 -> 5, 11 -> 1))
    ).flatMap { case (obs, vs) => vs.map { case (u, l) => (u.toLong, obs, l) } }
      .toDF("doc_id", "annotator", "value")
    val r = Annotations.krippendorffAlphaInterval(rows).collect()(0)
    assert(r.getAs[Long]("n_items") == 11L && r.getAs[Long]("n_votes") == 40L)
    assert(r.getAs[Double]("d_o") == 0.433333 && r.getAs[Double]("d_e") == 2.871795,
      s"got $r")
    assert(r.getAs[Double]("alpha") == 0.849107, s"got $r")
  }

  test("krippendorffAlphaInterval: hand example, perfect, degenerate, abstention") {
    // item1 votes {1,2}, item2 votes {3,3,4}, item3 one vote (dropped):
    // do_sum = (2*5-9)/1 + (3*34-100)/2 = 2; n = 5, S1 = 13, S2 = 39;
    // d_o = 4/5, d_e = 2*26/20 = 2.6, alpha = 1 - 0.8/2.6 = 0.692308
    val rows = Seq((1L, "a", 1), (1L, "b", 2), (2L, "a", 3), (2L, "b", 3),
      (2L, "c", 4), (3L, "a", 5)).toDF("doc_id", "annotator", "value")
    val r = Annotations.krippendorffAlphaInterval(rows).collect()(0)
    assert(r.getAs[Long]("n_items") == 2L && r.getAs[Long]("n_votes") == 5L)
    assert(r.getAs[Double]("d_o") == 0.8 && r.getAs[Double]("d_e") == 2.6, s"got $r")
    assert(r.getAs[Double]("alpha") == 0.692308, s"got $r")
    // perfect agreement across DIFFERENT values: d_o = 0, alpha = 1
    val perfect = Seq((1L, "a", 2), (1L, "b", 2), (2L, "a", 4), (2L, "b", 4))
      .toDF("doc_id", "annotator", "value")
    val p = Annotations.krippendorffAlphaInterval(perfect).collect()(0)
    assert(p.getAs[Double]("d_o") == 0.0 && p.getAs[Double]("alpha") == 1.0, s"got $p")
    // degenerate pool (one value everywhere): d_e = 0 -> alpha null
    val deg = Seq((1L, "a", 3), (1L, "b", 3), (2L, "a", 3), (2L, "b", 3))
      .toDF("doc_id", "annotator", "value")
    val d = Annotations.krippendorffAlphaInterval(deg).collect()(0)
    assert(d.isNullAt(d.fieldIndex("alpha")) && d.getAs[Double]("d_e") == 0.0, s"got $d")
    // null values are abstentions: dropping to one vote drops the item
    val abst = Seq((1L, "a", Option(1)), (1L, "b", Option.empty[Int]),
      (2L, "a", Option(2)), (2L, "b", Option(5)))
      .toDF("doc_id", "annotator", "value")
    val a = Annotations.krippendorffAlphaInterval(abst).collect()(0)
    assert(a.getAs[Long]("n_items") == 1L && a.getAs[Long]("n_votes") == 2L, s"got $a")
  }

  test("bradleyTerry: two hand-computed MM rounds, mean-1 normalization") {
    // A beats B 2-1; A beats C; C beats B. Round 1 from flat theta:
    // den_A = 3/2 + 1/2 = 2 -> 1.5; B -> 0.5; C -> 1.0 (mean already 1).
    // Round 2: den_A = 3/2 + 1/2.5 = 1.9, den_B = 3/2 + 1/1.5,
    // den_C = 1/2.5 + 1/1.5; normalized thetas pinned from a python
    // mirror of the same canon steps.
    val comps = Seq(("A", "B", "A"), ("A", "B", "A"), ("A", "B", "B"),
      ("A", "C", "A"), ("C", "B", "C")).toDF("a", "b", "winner")
    val out = Annotations.bradleyTerry(comps).collect()
      .map(r => (r.getAs[String]("item"), r.getAs[Long]("wins"),
        r.getAs[Long]("n_comps"), r.getAs[Double]("theta")))
    assert(out.toSeq == Seq(("A", 3L, 4L, 1.590619), ("C", 1L, 2L, 0.94443),
      ("B", 1L, 4L, 0.46495)), s"got ${out.toSeq}")
  }

  test("bradleyTerry: all-loser hits theta 0; bad winner raises; self-pairs drop") {
    val comps = Seq(("A", "B", "A"), ("A", "C", "A"), ("B", "C", "C"),
      ("A", "A", "A")).toDF("a", "b", "winner")
    val out = Annotations.bradleyTerry(comps).collect()
      .map(r => r.getAs[String]("item") ->
        ((r.getAs[Long]("wins"), r.getAs[Double]("theta")))).toMap
    assert(out("B") == ((0L, 0.0)), s"got ${out("B")}")
    assert(out("A")._1 == 2L && out("A")._2 > out("C")._2, s"got $out")
    // the self-pair contributed nothing: A has 2 wins from 2 real games
    val bad = Seq(("A", "B", "Z")).toDF("a", "b", "winner")
    val e = intercept[Exception](Annotations.bradleyTerry(bad).collect())
    assert(e.getMessage != null)
  }

  test("bradleyTerry: top thetas recover the strongest planted decile") {
    // deterministic league: item i has strength i+1; game g pairs (i, j)
    // by hash striping and awards the win by a hash draw proportional to
    // s(i)/(s(i)+s(j)) — the BT generative model itself, derandomized
    import org.apache.spark.sql.functions._
    val items = 50
    val games = 50000L
    val comps = spark.range(games)
      .withColumn("h1", abs(xxhash64(col("id"))))
      .withColumn("h2", abs(xxhash64(col("id") + lit(games))))
      .withColumn("i", (col("h1") % items).cast("int"))
      .withColumn("j",
        ((col("i") + lit(1) + col("h2") % lit(items - 1)) % items).cast("int"))
      .withColumn("draw", abs(xxhash64(col("id") * 31)) % (col("i") + col("j") + lit(2)))
      .select(col("i").cast("string").as("a"), col("j").cast("string").as("b"),
        when(col("draw") < col("i") + lit(1), col("i")).otherwise(col("j"))
          .cast("string").as("winner"))
    val top = Annotations.bradleyTerry(comps, rounds = 4)
      .collect().map(_.getAs[String]("item").toInt).toSeq
    assert(top.size == items)
    // ~2,000 games per item leave adjacent strengths (about 2 % apart in
    // win rate) inside sampling noise, so one of the top 5 may come from
    // just below the decile; the planted order must still dominate
    val recovered = top.take(5).count(_ >= items - 5)
    assert(recovered >= 4,
      s"planted-order recovery failed: $recovered/5 from the top decile, top=${top.take(10)}")
  }

  test("majority vote is deterministic under re-evaluation and input order") {
    val shuffled = votes.orderBy(org.apache.spark.sql.functions.rand(7))
    val a = Annotations.majorityVote(votes).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val b = Annotations.majorityVote(shuffled).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }
}
