package graft

import graft.ext.{ClusterCurate, Similarity}
import org.apache.spark.sql.functions._

class ClusterCurateSpec extends SparkSpec {
  import spark.implicits._

  // Two hand-placed clusters around orthogonal axes: x-axis vectors at
  // decreasing prototypicality 1 > 2 > 3, y-axis vectors 10 > 11; 99 is
  // zero-norm (NaN cosine to everything) and must never appear.
  private val cents = Array(
    Array(1.0, 0.0, 0.0, 0.0),
    Array(0.0, 1.0, 0.0, 0.0))
  private def vecs = Seq(
    (1L, Array(1.0, 0.00, 0.0, 0.0)),
    (2L, Array(1.0, 0.10, 0.0, 0.0)),
    (3L, Array(1.0, 0.25, 0.0, 0.0)),
    (10L, Array(0.0, 1.0, 0.00, 0.0)),
    (11L, Array(0.1, 1.0, 0.00, 0.0)),
    (99L, Array(0.0, 0.0, 0.0, 0.0))
  ).toDF("vec_id", "embedding")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Long, Double)] =
    df.collect().map(r => (r.getAs[Int]("cell"), r.getAs[Int]("rank"),
      r.getAs[Long]("vec_id"), r.getAs[Double]("proto_cos"))).toSeq

  test("most-prototypical keep: quota per cell, rank by cos desc, zero-norm dropped") {
    val kept = rows(ClusterCurate.clusterBalancedKeep(vecs, cents, quota = 2))
    assert(kept.map(t => (t._1, t._2, t._3)) ==
      Seq((0, 1, 1L), (0, 2, 2L), (1, 1, 10L), (1, 2, 11L)), s"got $kept")
    // prototypicality really is the cosine to the assigned centroid
    val c2 = kept.find(_._3 == 2L).get._4
    assert(math.abs(c2 - 1.0 / math.sqrt(1.01)) < 1e-12)
  }

  test("least-prototypical keep: same cells, opposite order, exact un-negated scores") {
    val most = rows(ClusterCurate.clusterBalancedKeep(vecs, cents, quota = 10))
    val least = rows(ClusterCurate.clusterBalancedKeep(vecs, cents, quota = 10,
      keepMostPrototypical = false))
    assert(least.map(t => (t._1, t._2, t._3)) ==
      Seq((0, 1, 3L), (0, 2, 2L), (0, 3, 1L), (1, 1, 11L), (1, 2, 10L)), s"got $least")
    // double negation through TopKAgg is bit-exact: the score sets match
    assert(most.map(t => (t._3, t._4)).toMap == least.map(t => (t._3, t._4)).toMap)
  }

  test("degenerate embeddings drop unconditionally: NaN, Inf and zero-norm elements") {
    // The old guard was !isnan(proto_cos): a NaN element → NaN cosine →
    // dropped; an Inf element → Inf/Inf or Inf·0 → NaN cosine → dropped.
    // The input-side norm² filter must reproduce that row set even though
    // Spark SQL orders NaN GREATER than every other value (a bare
    // norm² > 0 would keep the NaN row and rank it FIRST under the
    // score-desc TopKAgg).
    val poisoned = vecs.union(Seq(
      (80L, Array(Double.NaN, 1.0, 0.0, 0.0)),
      (81L, Array(Double.PositiveInfinity, 0.0, 0.0, 0.0)),
      (82L, Array(Double.NegativeInfinity, 1.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding"))
    val kept = rows(ClusterCurate.clusterBalancedKeep(poisoned, cents, quota = 10))
    assert(!kept.exists(t => Seq(80L, 81L, 82L, 99L).contains(t._3)), s"got $kept")
    // and the finite rows are untouched by the extra conjunct
    assert(kept == rows(ClusterCurate.clusterBalancedKeep(vecs, cents, quota = 10)))
  }

  test("quota cuts, ties break by vec_id ascending") {
    // 21 duplicates an embedding of 2 — identical cosine, lower id first
    val withTie = vecs.union(Seq((21L, Array(2.0, 0.2, 0.0, 0.0))).toDF("vec_id", "embedding"))
    val kept = rows(ClusterCurate.clusterBalancedKeep(withTie, cents, quota = 2))
    assert(kept.filter(_._1 == 0).map(_._3) == Seq(1L, 2L), s"got $kept")
  }

  test("replayable twin runs through the pinned quantizer and keeps quota per cell") {
    val n = 40
    val df = (0 until n).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 7 + d).abs + 0.1))).toDF("vec_id", "embedding")
    val kept = ClusterCurate.clusterBalancedKeep(df, Similarity.integerPlanes(8, 4), quota = 3)
    val byCell = kept.groupBy("cell").agg(count(lit(1)).as("n"), max("rank").as("mr"))
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Int]("mr")))
    assert(byCell.nonEmpty && byCell.forall { case (cnt, mr) => cnt <= 3 && mr == cnt },
      s"got ${byCell.toSeq}")
    // deterministic: two runs agree exactly
    assert(kept.collect().toSeq == ClusterCurate.clusterBalancedKeep(
      df, Similarity.integerPlanes(8, 4), quota = 3).collect().toSeq)
  }
}
