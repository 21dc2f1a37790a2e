package graft

import graft.ext.{SemDedup, Similarity}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // 1 and 2 are near-identical directions, 3 is orthogonal, 4 is a
  // noisy singleton; 5 is zero-norm (NaN cosine) and must never pair.
  private def vecs = Seq(
    (1L, Array(1.0, 0.02, 0.0, 0.0)),
    (2L, Array(1.0, 0.00, 0.01, 0.0)),
    (3L, Array(0.0, 0.0, 0.0, 1.0)),
    (4L, Array(0.3, -0.7, 0.1, 0.2)),
    (5L, Array(0.0, 0.0, 0.0, 0.0))
  ).toDF("vec_id", "embedding")

  /** A one-cell Lloyd-trained quantizer: every vector shares the cell. */
  private def oneTrainedCell = Similarity.trainIvfCentroids(vecs, nlist = 1, iters = 1)

  test("planted near-identical pair found; orthogonal and zero-norm never pair") {
    // nlist=1 puts everything in one cell: the pair cut alone decides
    val pairs = SemDedup.semanticNearDupPairs(vecs, oneTrainedCell, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("semanticDeduplicate keeps min-id representative and all non-dups") {
    val kept = SemDedup.semanticDeduplicate(vecs, oneTrainedCell, threshold = 0.95)
      .collect().map(_.getAs[Long]("vec_id")).sorted
    assert(kept.sameElements(Array(1L, 3L, 4L, 5L)), s"got ${kept.toSeq}")
  }

  test("replayable twin: pinned quantizer splits cells, cross-cell pairs not checked") {
    // with the pinned planes, 1/2 may or may not share a cell — assert the
    // structural contract instead: every emitted pair shares a cell and
    // clears the threshold, and the keep set is embeddings minus losers
    val assigned = Similarity.assignCells(vecs, Similarity.integerPlanes(4, 2))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val pairs = SemDedup.semanticNearDupPairs(vecs, Similarity.integerPlanes(4, 2),
        threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("cos")))
    pairs.foreach { case (a, b, c) =>
      assert(assigned(a) == assigned(b), s"cross-cell pair ($a,$b)")
      assert(c >= 0.95 && a < b)
    }
    val kept = SemDedup.semanticDeduplicate(vecs, Similarity.integerPlanes(4, 2),
        threshold = 0.95)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val losers = pairs.map(_._2).toSet // min-id keep on a single pair chain
    assert(kept == Set(1L, 2L, 3L, 4L, 5L) -- losers, s"kept $kept losers $losers")
  }

  test("cross-corpus contamination pairs: benchmark twin flagged, orthogonal not") {
    val bench = Seq((100L, Array(1.0, 0.02, 0.0, 0.0))).toDF("vec_id", "embedding")
    val oneCell = Array(Array(1.0, 0.0, 0.0, 0.0)) // single cell: threshold decides
    val pairs = SemDedup.crossNearDupPairs(vecs, bench, oneCell, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("corpus_id"), r.getAs[Long]("bench_id"))).toSet
    // vec 1 IS the benchmark doc; vec 2 is its near-twin (cos ~0.9997);
    // 3 orthogonal, 4 dissimilar, 5 zero-norm (NaN) never pair
    assert(pairs == Set((1L, 100L), (2L, 100L)), s"got $pairs")
  }

  test("threshold is respected exactly: lowering it admits more pairs") {
    // cos(1,2) = 1/(sqrt(1.0004)*sqrt(1.0001)) ~= 0.99975: above it, no pairs
    val strict = SemDedup.semanticNearDupPairs(vecs, oneTrainedCell, threshold = 0.9999)
      .count()
    val loose = SemDedup.semanticNearDupPairs(vecs, oneTrainedCell, threshold = -0.5)
      .count()
    // 4 finite vectors in one cell -> 6 candidate pairs at the loose cut
    assert(strict == 0 && loose == 6L, s"strict=$strict loose=$loose")
  }
}
