package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Label propagation over a similarity graph (Zhu & Ghahramani 2002's
  * semi-supervised LP, synchronous form with clamped seeds): spread a
  * small labeled seed set across the corpus through near-dup / kNN
  * edges. The training-data use is weak supervision at scale — label a
  * seed slice by hand (language, domain, quality tier), let similarity
  * carry it to everything the graph can reach.
  *
  * Per iteration every NON-SEED vertex adopts the label with the
  * greatest incident weight sum among its labeled neighbors (ties break
  * to the lexicographically smaller label); seed labels are clamped and
  * never change. Weight sums are 1e-6-canonicalized BEFORE the argmax,
  * so the vote is a function of values both engines reproduce
  * bit-exactly and the whole run unrolls into oracle CTEs (the
  * [[TextRank]]/[[Classifier]] fixed-iteration convention).
  *
  * Spark shape: the pair list is mirrored into both directions once and
  * Ckpt-pinned; each iteration is ONE join of the edge frame with the
  * current (vertex, label) frame on `src` plus two keyed aggregates
  * ((dst, label) weight sum, then the per-dst argmax) — graph-sized,
  * map-combinable, never all-pairs. A hub vertex skews only the probe
  * side of the per-step join (the AQE skew case). Driver round-trips
  * scale with ITERATIONS only. Unreached vertices stay unlabeled and
  * are absent from the output.
  *
  * Reference scope note: no counterpart in the reference engine — §7.4
  * LLM-pipeline extension surface.
  */
object LabelProp {

  private def quant(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Propagate `seeds` (idCol, labelCol — non-null labels) through
    * undirected `pairs` (aCol, bCol, optional weight `wCol`, default 1)
    * for `iters` synchronous rounds. Output: (idCol, labelCol, origin)
    * where origin ∈ {seed, propagated}; only labeled vertices appear. */
  def propagate(seeds: DataFrame, pairs: DataFrame, iters: Int = 3,
      idCol: String = "doc_id", labelCol: String = "label",
      aCol: String = "doc_a", bCol: String = "doc_b",
      wCol: Option[String] = None): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val w = wCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val half = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"), w.as("w"))
    // Re-key the edge frame through an AQE-sized exchange before pinning:
    // a localCheckpoint freezes its input's partitioning and AQE cannot
    // re-coalesce an ExistingRDD leaf, so pinning the raw union (both
    // mirrored halves, NO shuffle on top) froze sum-of-input partitions
    // and every downstream round paid one tiny task per frozen partition
    // (r15 job profile: 405 tasks across 25 jobs for this query). A
    // repartition by the join key lets AQE pick the partition count from
    // the frame's REAL size — one partition at bench scale, many at 100 TB
    // — and lands the pinned frame already keyed by `src` for the
    // per-round join. The seed frame ends in distinct() (a shuffle), so
    // AQE already coalesces it.
    val edges = graft.core.Ckpt.pin(half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .repartition(col("src")))
    val seed = graft.core.Ckpt.pin(seeds
      .filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("long").as("v"), col(labelCol).as("lbl"))
      .distinct())
    var cur = seed
    var it = 0
    // Pin every fourth round, never the last (the TextRank cadence): each
    // round references `cur` exactly once, so the unrolled plan grows
    // linearly and AQE sizes the per-round joins from real stage output —
    // the eager localCheckpoint per round was pure sequential job latency
    // at bench scale. Values are unchanged (pinning never alters an
    // expression; the q_label_prop oracle pins equivalence).
    while (it < iters) {
      val votes = edges
        .join(cur.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst"), col("lbl"))
        .agg(quant(sum(col("w"))).as("ws"))
      val best = votes
        .groupBy("dst")
        .agg(min(struct((-col("ws")).as("nw"), col("lbl"))).as("b"))
        .select(col("dst").as("v"), col("b.lbl").as("lbl"))
      val next = seed.unionByName(best.join(seed.select("v"), Seq("v"), "left_anti"))
      it += 1
      cur = if (it < iters && it % 4 == 0) graft.core.Ckpt.pin(next) else next
    }
    cur.join(seed.select(col("v"), lit(true).as("__is_seed")), Seq("v"), "left")
      .select(col("v").as(idCol), col("lbl").as(labelCol),
        when(col("__is_seed").isNotNull, lit("seed"))
          .otherwise(lit("propagated")).as("origin"))
  }
}
