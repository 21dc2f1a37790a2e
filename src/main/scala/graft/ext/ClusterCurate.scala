package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cluster-balanced corpus curation — the public "SSL prototypes" recipe
  * (Sorscher et al. 2022, "Beyond neural scaling laws: beating power law
  * scaling via data pruning"): cluster the embedding space, score each
  * document by its cosine to the assigned cluster centroid
  * ("prototypicality"), and keep a per-cluster quota — either the MOST
  * prototypical (clean/canonical examples, the small-data regime) or the
  * LEAST prototypical (hard/diverse examples, the big-data regime the
  * paper recommends at web scale). A per-cluster quota also balances the
  * retained corpus across semantic clusters, the balancing step used by
  * public curation pipelines (e.g. DataComp) to stop head clusters from
  * dominating the kept set.
  *
  * Scale shape (the [[SemDedup]] conventions): assignment is ONE map-side
  * pass over the corpus against model-sized centroids
  * ([[Similarity.assignCells]] — codegen'd argmax ≤16 cells, closure UDF
  * above); the per-cluster cut is the k-capped [[TopKAgg]], so map-side
  * combine bounds the shuffle at quota·P rows per cluster rather than
  * sorting whole clusters through a window — the same reason the ANN
  * paths never rank through `row_number()`.
  *
  * Determinism: ties on equal prototypicality break by vec_id ascending
  * (the [[TopKAgg]] rule), so the kept set is a pure function of
  * (centroids, quota, variant). The centroids are a value the caller
  * passes: trained ([[Similarity.trainIvfCentroids]]) or pinned
  * ([[Similarity.integerPlanes]]), with which the driver oracle replays
  * assignment, score and quota cut bit-for-bit.
  */
object ClusterCurate {

  /** Cosine of each row's embedding to its ASSIGNED centroid, matching
    * [[Similarity.assignCells]] numerics: ≤16 cells embed the centroids
    * as literals and reuse the native codegen'd cosine; larger
    * quantizers score through a closure UDF with the same left-to-right
    * arithmetic (the [[Similarity.assignUdf]] cutover). */
  private def protoCos(cents: Array[Array[Double]]): (Column, Column) => Column =
    if (cents.length <= 16) { (emb, cell) =>
      Dedup.cosine(emb,
        element_at(array(cents.map(c => array(c.map(lit): _*)): _*), cell + 1))
    } else {
      val frozen = cents.map(_.clone())
      val u = udf { (emb: Seq[Double], cell: Int) =>
        val cvec = frozen(cell)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < cvec.length) {
          dot += emb(j) * cvec(j); na += emb(j) * emb(j); nb += cvec(j) * cvec(j)
          j += 1
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      (emb, cell) => u(emb, cell)
    }

  /** Keep up to `quota` vectors per cluster, ranked by prototypicality
    * (cosine to the assigned centroid): most-prototypical-first when
    * `keepMostPrototypical`, least-first otherwise (the large-corpus
    * pruning direction). Emits (cell, rank, vec_id, proto_cos) ordered
    * by (cell, rank); rank 1 = the first kept under the variant's order.
    * Degenerate embeddings (zero norm → NaN cosine) are dropped, the
    * shared guard of every scored path. */
  def clusterBalancedKeep(
      embeddings: DataFrame,
      cents: Array[Array[Double]],
      quota: Int,
      keepMostPrototypical: Boolean = true,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    require(quota > 0, "quota must be positive")
    val dim = cents(0).length
    val assigned = Similarity.assignCells(embeddings, cents, idCol, embCol)
      .filter(size(col("emb")) === dim)
    val score = protoCos(cents)(col("emb"), col("cell"))
    // Filter on the INPUT columns, never the derived score (the
    // kmvDistinct lesson): a null/NaN filter on proto_cos pushes
    // isnotnull(<score tree>) AND !isnan(<score tree>) below the
    // projection, and for the ≤16-cell path that tree embeds the whole
    // nlist×dim centroid array as literals — the duplicated per-row
    // evaluation cost 1.27 s vs 0.20 s on the sf0.1 bench corpus
    // (r15 TmpCk bisect). The input test that matches the old
    // !isnan(proto_cos) row set UNCONDITIONALLY is 0 < norm² ≤ MaxValue:
    // the score is null/NaN exactly when the embedding's norm² is 0
    // (0/0), NaN (a NaN element — and Spark SQL orders NaN GREATER than
    // every other value, so a bare norm² > 0 would KEEP such a row) or
    // +Inf (an Inf element, or overflow — Inf/Inf and the NaN from
    // Inf·0 both made the old filter drop it). NaN and +Inf both fail
    // ≤ MaxValue under Spark's NaN-greatest ordering; dim mismatches
    // are already gone (size filter above) and the pinned quantizer's
    // centroids are never degenerate. ClusterCurateSpec pins the NaN /
    // Inf / zero-norm drops; the q_cluster_keep oracle pins the
    // finite-data row set.
    val norm2 = aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)
    val scored = assigned
      .filter(col("vec_id").isNotNull &&
        norm2 > lit(0.0) && norm2 <= lit(Double.MaxValue))
      .withColumn("proto_cos", score)
    // TopKAgg keeps (score desc, vec_id asc); the least-prototypical
    // variant feeds the NEGATED score — (−cos desc, id asc) ≡ (cos asc,
    // id asc) — and un-negates on emit (IEEE negation is exact).
    val topk = udaf(new TopKAgg(quota))
    val fed = if (keepMostPrototypical) col("proto_cos") else -col("proto_cos")
    val emitted = if (keepMostPrototypical) col("sv.cos") else -col("sv.cos")
    scored.groupBy("cell")
      .agg(topk(col("vec_id"), fed).as("top"))
      .select(col("cell"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("cell"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), emitted.as("proto_cos"))
      .orderBy("cell", "rank")
  }
}
