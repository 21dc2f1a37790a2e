package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Negatives, Similarity}

/** Hand-computed coverage for [[graft.ext.Negatives]] (round-8 module,
  * landed untested — round-9 ADVICE item). The planar corpus uses unit
  * vectors at known angles so every cosine is a textbook value:
  * cos(a, b) = cos(θa − θb) exactly.
  *
  * Corpus (id, angle°, label): 1 @ 0° L10 (the anchor), 2 @ 15° L10
  * (positive, cos .966), 3 @ 30° L20 (neg, cos .866), 4 @ 60° L20
  * (neg, cos .5), 5 @ 80° L30 (neg, cos .174), 6 @ 5° null-label
  * (cos .996 — the hardest candidate, but unknown gold set ⇒ never a
  * negative).
  */
class NegativesSpec extends SparkSpec {

  import spark.implicits._

  private def unit(deg: Double): Array[Double] = {
    val r = math.toRadians(deg)
    Array(math.cos(r), math.sin(r))
  }

  private def corpus = Seq(
    (1L, unit(0), Option(10)),
    (2L, unit(15), Option(10)),
    (3L, unit(30), Option(20)),
    (4L, unit(60), Option(20)),
    (5L, unit(80), Option(30)),
    (6L, unit(5), Option.empty[Int])
  ).toDF("vec_id", "embedding", "label")

  private def anchorRow = corpus.filter($"vec_id" === 1L)

  test("hard negatives: label-mismatch candidates ranked by cosine, pos_max rides along") {
    val out = Negatives.hardNegatives(corpus, anchorRow, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6, math.rint(r.getDouble(4) * 1e6) / 1e6))
    // negatives of anchor 1 (label 10): ids 3 (.866025), 4 (.5), 5 (.173648);
    // id 6 (null label) excluded despite cos .996; id 2 is a positive;
    // k = 2 keeps the two hardest. pos_max = cos(15°) = .965926 from id 2.
    assert(out.toSeq == Seq(
      (1L, 1, 3L, 0.866025, 0.965926),
      (1L, 2, 4L, 0.5, 0.965926)))
  }

  test("semi-hard band keeps only pos_max - m < cos < pos_max") {
    val out = Negatives.hardNegatives(corpus, anchorRow, k = 5, marginBand = Some(0.4))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6))
    // band is (.565926, .965926): id 3 (.866) in, id 4 (.5) and 5 (.174) out
    assert(out.toSeq == Seq((1L, 1, 3L, 0.866025)))
  }

  test("anchor with no positive: null pos_max on the plain path, no rows on the band path") {
    val lone = Seq((9L, unit(40), Option(99))).toDF("vec_id", "embedding", "label")
    val plain = Negatives.hardNegatives(corpus, lone, k = 3)
    val rows = plain.collect()
    assert(rows.nonEmpty && rows.forall(_.isNullAt(plain.columns.indexOf("pos_max"))))
    // hardest negatives still mined: every labeled corpus row mismatches
    // 99; from 40° the cosines are id3 Δ10° .985, id4 Δ20° .940, id2 Δ25° .906
    assert(rows.map(_.getLong(2)).toSeq == Seq(3L, 4L, 2L))
    assert(Negatives.hardNegatives(corpus, lone, k = 3, marginBand = Some(0.2)).count() == 0L)
  }

  test("null-label anchor emits no rows on either path (documented contract)") {
    val anon = Seq((8L, unit(10), Option.empty[Int])).toDF("vec_id", "embedding", "label")
    assert(Negatives.hardNegatives(corpus, anon, k = 3).count() == 0L)
    assert(Negatives.hardNegatives(corpus, anon, k = 3, marginBand = Some(0.3)).count() == 0L)
  }

  test("triplet assembly pairs the hardest positive with each mined negative") {
    val out = Negatives.triplets(corpus, anchorRow, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        math.rint(r.getDouble(4) * 1e6) / 1e6, math.rint(r.getDouble(5) * 1e6) / 1e6,
        math.rint(r.getDouble(6) * 1e6) / 1e6))
    // pos leg: id 2 (cos 15° = .965926); neg legs: ids 3 (.866025), 4 (.5);
    // margins are the raw-double differences, canonized at read
    assert(out.toSeq == Seq(
      (1L, 1, 2L, 3L, 0.965926, 0.866025, 0.0999),
      (1L, 2, 2L, 4L, 0.965926, 0.5, 0.465926)))
  }

  test("no positive leg or null anchor label ⇒ no triplets") {
    val lone = Seq((9L, unit(40), Option(99))).toDF("vec_id", "embedding", "label")
    assert(Negatives.triplets(corpus, lone, k = 3).count() == 0L)
    val anon = Seq((8L, unit(10), Option.empty[Int])).toDF("vec_id", "embedding", "label")
    assert(Negatives.triplets(corpus, anon, k = 3).count() == 0L)
  }

  test("celled mining holds a recall floor vs the brute path on the driver fixture") {
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = Tables.embeddings(spark, dir)
    val k = 5
    // brute gold: every row an anchor — the same semantics the celled
    // path approximates (self-join via the broadcast-anchor form)
    val brute = Negatives.hardNegatives(emb, emb, k)
      .select(col("query_id"), col("vec_id"))
    val celled = Negatives.hardNegativesCelled(emb, k,
      Similarity.trainIvfCentroids(emb, nlist = 16), nprobe = 4)
      .select(col("query_id"), col("vec_id"))
    val nAnchors = brute.select("query_id").distinct().count()
    val hits = brute.join(celled, Seq("query_id", "vec_id")).count()
    val recall = hits.toDouble / (nAnchors * k)
    info(f"celled recall vs brute on the driver fixture: $recall%.3f")
    // floor calibrated on the round-9 fixture (measured 0.5–0.7 band);
    // nprobe/nlist = 4/16 structurally buys partial recall on the
    // near-uniform fixture vectors — a fixture regeneration that drops
    // below this should fail loudly
    assert(recall >= 0.4, s"celled recall vs brute fell to $recall")
  }

  test("epoch anchor batches partition the corpus deterministically") {
    val bs = 2
    val nBatches = 3 // 6 rows / batchSize 2
    val batches = (0 until nBatches).map(b =>
      Negatives.epochAnchorBatch(corpus, bs, b.toLong, epoch = 7)
        .select("vec_id").collect().map(_.getLong(0)).toSet)
    // disjoint, covering, each exactly batchSize
    assert(batches.map(_.size).sum == 6 && batches.reduce(_ ++ _).size == 6)
    batches.foreach(b => assert(b.size == bs))
    // deterministic across re-evaluation
    val again = Negatives.epochAnchorBatch(corpus, bs, 1L, epoch = 7)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == batches(1))
    // batch membership follows the epoch-shuffle order exactly
    val order = graft.ext.Sampling.epochShuffle(corpus.select("vec_id"), "vec_id", 7)
      .orderBy("shuffle_rank", "vec_id").collect().map(_.getLong(0)).toSeq
    assert(batches(0) == order.slice(0, 2).toSet &&
      batches(1) == order.slice(2, 4).toSet && batches(2) == order.slice(4, 6).toSet)
    // a different epoch permutes (on 6 rows the 32-bit mix makes an
    // identical 3-way split astronomically unlikely; pinned here so a
    // mix-chain regression that freezes the permutation fails loudly)
    val other = (0 until nBatches).map(b =>
      Negatives.epochAnchorBatch(corpus, bs, b.toLong, epoch = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSet)
    assert(other != batches, "epoch 8 must not reproduce epoch 7's batches")
  }

  test("epoch-batch mining equals broadcast mining over the same anchor set") {
    val anchors = Negatives.epochAnchorBatch(corpus, 2, 1L, epoch = 7)
    val direct = Negatives.hardNegatives(corpus, anchors, k = 2)
      .collect().map(_.toString).toSeq
    val viaEpoch = Negatives.hardNegativesEpochBatch(corpus, 2, 1L, epoch = 7, k = 2)
      .collect().map(_.toString).toSeq
    assert(viaEpoch == direct)
  }
}
