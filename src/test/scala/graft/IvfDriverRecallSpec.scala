package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.Similarity

/** Per-round recall gate on the DRIVER's actual embeddings fixture
  * (round-7 review finding: converting q_similarity_topk_ivf to the
  * pinned-quantizer persisted-index path made its DuckDB oracle a
  * replay — it proves the search replays, not that the search is any
  * good). The driver regenerates testdata between rounds, so this spec
  * re-measures recall-vs-brute on the fresh fixture every round for
  * BOTH the pinned integer-plane quantizer the driver query ships and
  * the Lloyd-trained path.
  *
  * Thresholds are calibrated floors, not aspirations: the fixture's
  * vectors are near-uniform (top-5 cosines ≈ 0.3–0.44 — genuinely
  * ambiguous neighbors), where nprobe/nlist = 1/4 structurally buys
  * partial recall. Measured at round 7: pinned 0.4–0.8 per query
  * (sf0.01 and sf0.1), trained ≥ pinned on average. A fixture change
  * that drops below these floors should fail a round, loudly. */
class IvfDriverRecallSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("pinned-quantizer driver IVF keeps its recall floor on the driver fixture") {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
    val pinned = Similarity.ivfTopK(emb, q, 5, Similarity.integerPlanes(64, 16), 4)
    val recalls = Similarity.withRecallAtK(pinned, brute)
      .select("query_id", "recall_at_k").distinct()
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall_at_k")).toMap
    assert(recalls.size == 3, s"expected 3 queries, got $recalls")
    assert(recalls.values.forall(_ >= 0.4), s"pinned recall floor broken: $recalls")
    assert(recalls.values.sum / recalls.size >= 0.5, s"pinned mean recall < 0.5: $recalls")
  }

  test("Lloyd-trained IVF is at least as good as the pinned floor on the driver fixture") {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
    val trained = Similarity.ivfTopK(emb, q, k = 5,
      Similarity.trainIvfCentroids(emb, nlist = 16, sampleMod = 2), nprobe = 4)
    val recalls = Similarity.withRecallAtK(trained, brute)
      .select("query_id", "recall_at_k").distinct()
      .collect().map(_.getAs[Double]("recall_at_k"))
    assert(recalls.nonEmpty && recalls.sum / recalls.length >= 0.5,
      s"trained mean recall < 0.5: ${recalls.toSeq}")
  }

  test("incremental add-batch index equals a from-scratch build under the same centroids") {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.integerPlanes(64, 16)
    val a = emb.filter(col("vec_id") % 3 =!= 2)
    val b = emb.filter(col("vec_id") % 3 === 2)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_add").toString
    try {
      // grown index: create from A, add B in two uneven batches
      Similarity.ivfIndexCreate(a, cents, s"$tmp/grown")
      Similarity.ivfIndexAddBatch(b.filter(col("vec_id") < 100), cents, s"$tmp/grown")
      Similarity.ivfIndexAddBatch(b.filter(col("vec_id") >= 100), cents, s"$tmp/grown")
      // one-shot index over the union corpus, same centroids
      Similarity.ivfIndexCreate(emb, cents, s"$tmp/oneshot")
      val g = spark.read.parquet(s"$tmp/grown")
        .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val o = spark.read.parquet(s"$tmp/oneshot")
        .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(g == o, "grown index must hold the identical (vec_id, cell) assignments")
      // and the search over the grown index is row-identical
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_emb"))
      val sg = Similarity.ivfTopKPreAssigned(
          spark.read.parquet(s"$tmp/grown"), q, 5, cents, nprobe = 4)
        .collect().map(_.toString).toSeq
      val so = Similarity.ivfTopKPreAssigned(
          spark.read.parquet(s"$tmp/oneshot"), q, 5, cents, nprobe = 4)
        .collect().map(_.toString).toSeq
      assert(sg == so, "search over grown vs one-shot index must agree exactly")
    } finally graft.core.Fs.rmTree(tmp)
  }
}
