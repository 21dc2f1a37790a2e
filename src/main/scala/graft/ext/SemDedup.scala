package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) deduplication, SemDeDup-style (published
  * technique: Abbas et al. 2023, arXiv:2303.09540): a coarse k-means
  * quantizer confines the pairwise cosine check to WITHIN-CLUSTER
  * candidates, pairs at/above the threshold form near-duplicate
  * components, and one representative per component survives.
  *
  * Relation to the other near-dup families: minhash/simhash (Dedup)
  * catch lexical duplicates; sign-LSH embedding near-dup
  * (Dedup.embeddingNearDuplicates) buckets by random hyperplanes; this
  * op buckets by a TRAINED quantizer, which concentrates genuinely
  * similar vectors into the same cell far better than random planes when
  * the corpus is clustered — the published result is that it removes
  * semantic templates/boilerplate lexical dedup misses.
  *
  * The quantizer is a value the caller passes (`cents`): trained by
  * [[Similarity.trainIvfCentroids]] or pinned by
  * [[Similarity.integerPlanes]].
  *
  * Scale shape (the 100 TB audit):
  *   - the quantizer trains on a SAMPLE (`sampleMod` of
  *     [[Similarity.trainIvfCentroids]]), model-sized;
  *   - assignment is one map-side pass (the amortized [[Similarity.assignCells]]
  *     path — at a standing corpus, write the assigned frame bucketed by
  *     cell and re-dedup never re-assigns);
  *   - the candidate join is a self-equijoin on cell id — shuffle keyed
  *     by cell; cost is sum over cells of |cell|²/2, CONTROLLED BY nlist
  *     (cells of ~1-10k vectors at any corpus size keeps the quadratic
  *     term bounded), the same knob the paper tunes;
  *   - components + keep reuse the dedup chain's BSP/union-find machinery
  *     ([[Dedup.connectedComponents]]) with its checkpoint-per-round
  *     lineage policy.
  *
  * The missed-pair trade-off is the algorithm's own: a near-dup pair
  * split across two cells is not checked (the paper accepts this; raise
  * nlist recall with better centroids, not wider joins).
  */
object SemDedup {

  /** Within-cell cosine-threshold pairs over a pre-assigned
    * (vec_id, emb, cell) frame — the [[Similarity.assignCells]] schema.
    * NaN cosines (zero-norm vectors) never pair. */
  def pairsFromAssigned(assigned: DataFrame, threshold: Double): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine threshold must be in (-1, 1], got $threshold")
    val cos = graft.expr.CosineSimilarity.cosineSim(col("l.emb"), col("r.emb"))
    assigned.as("l")
      .join(assigned.as("r"),
        col("l.cell") === col("r.cell") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("doc_a"), col("r.vec_id").as("doc_b"), cos.as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= lit(threshold))
  }

  /** Near-duplicate pairs under the quantizer `cents`: assign every
    * vector to its max-cosine cell ([[Similarity.assignCells]], (cos desc,
    * idx asc) tie rule), then [[pairsFromAssigned]]. `cents` is the model
    * — [[Similarity.trainIvfCentroids]] on a sample for production, the
    * pinned [[Similarity.integerPlanes]] for the driver's oracle, which
    * replays assignment, candidate generation and the threshold cut.
    * Centroids only move WHERE cell boundaries fall, never the
    * machinery. */
  def semanticNearDupPairs(
      embeddings: DataFrame,
      cents: Array[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    pairsFromAssigned(Similarity.assignCells(embeddings, cents, idCol, embCol), threshold)

  /** Cross-corpus semantic contamination pairs: embedding-space analog of
    * the n-gram benchmark decontamination (TextStats.contaminatedDocIds)
    * — find (corpusId, benchId) pairs whose cosine clears `threshold`,
    * with BOTH sides assigned through the SAME quantizer so the join
    * stays cell-local. Typical use: flag training docs semantically
    * near an eval set, then anti-join them away. The benchmark side is
    * usually model-sized, but the cell equijoin never materializes a
    * cross product either way. */
  def crossNearDupPairs(
      corpus: DataFrame,
      benchmark: DataFrame,
      cents: Array[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine threshold must be in (-1, 1], got $threshold")
    val l = Similarity.assignCells(corpus, cents, idCol, embCol)
    val r = Similarity.assignCells(benchmark, cents, idCol, embCol)
    val cos = graft.expr.CosineSimilarity.cosineSim(col("l.emb"), col("r.emb"))
    l.as("l").join(r.as("r"), col("l.cell") === col("r.cell"))
      .select(col("l.vec_id").as("corpus_id"), col("r.vec_id").as("bench_id"),
        cos.as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= lit(threshold))
  }

  /** End-to-end semantic dedup under the quantizer `cents`: pairs →
    * connected components → keep each component's minimum-id vector;
    * vectors in no component pass through. Returns the surviving rows of
    * `embeddings` unchanged. */
  def semanticDeduplicate(
      embeddings: DataFrame,
      cents: Array[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val pairs = semanticNearDupPairs(embeddings, cents, threshold, idCol, embCol)
      .select("doc_a", "doc_b")
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("__loser_id"))
    embeddings.join(losers, col(idCol) === col("__loser_id"), "left_anti")
  }
}
