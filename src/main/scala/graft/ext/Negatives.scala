package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hard-negative mining over an embedded corpus — the contrastive-
  * training data-prep op (SURVEY §7.4 extension family): for each anchor
  * vector, the highest-cosine candidates that do NOT share the anchor's
  * label. "Take the top-scoring non-gold passages" is the DPR recipe
  * (Karpukhin et al. 2020, §4.2 "hard negatives"); the optional margin
  * band below the hardest positive is FaceNet's semi-hard rule
  * (Schroff et al. 2015, §3.2) transplanted from euclidean to cosine.
  *
  * Scale shape:
  *   - [[hardNegatives]] broadcasts the ANCHOR set — a training batch's
  *     anchors are model-sized by construction — and streams the corpus
  *     through a label-mismatch filter into the k-capped [[TopKAgg]], so
  *     map-side combine reduces every scan partition to ≤ k rows per
  *     anchor and the shuffle moves k·P rows, never the N·A scored
  *     stream (the [[Similarity.bruteForceTopK]] plan with an extra
  *     pushed filter).
  *   - [[hardNegativesCelled]] is the corpus-wide form (every row an
  *     anchor): candidates come from an IVF cell EQUIJOIN — anchors
  *     probe their nprobe nearest cells, candidates sit in their
  *     assigned cell — so there is no broadcast loop and no N² scan;
  *     per-cell work is bounded by cell population (nlist ∝ √N keeps
  *     cells ~√N), the same shuffle geometry as [[Similarity.ivfTopK]].
  *
  * The label column is the positive-set oracle (gold cluster / source
  * query id). Anchors are never their own negative (label equality
  * excludes self-pairs); `pos_max` — the hardest positive's cosine,
  * self excluded by id — rides along for downstream triplet assembly.
  */
object Negatives {

  /** Mine top-k hard negatives for each (broadcast) anchor. Output:
    * (query_id, rank, vec_id, cos, pos_max) with the library's
    * deterministic (cos desc, vec_id asc) tie rule inside [[TopKAgg]].
    *
    * `marginBand = Some(m)` keeps only semi-hard negatives, i.e. those
    * with `pos_max - m < cos < pos_max`: harder than the band floor,
    * easier than the hardest positive. Anchors with NO positive
    * (`pos_max` null) emit no semi-hard rows — the band is undefined —
    * but DO emit plain hard negatives when `marginBand` is None (their
    * `pos_max` is null in the output). BOTH paths reference the scored
    * corpus subplan twice (pos_max is a second aggregate over it — the
    * band path joins it pre-aggregation, the plain path left-joins it
    * onto the ranked output), and each reference is a separate corpus
    * scan to Catalyst; cache the corpus frame if that matters at your
    * scale.
    *
    * Null/NaN discipline matches bruteForceTopK: null ids, null
    * embeddings, and NaN cosines are filtered before ranking, and rows
    * with a null label never qualify as negatives (unknown gold set) —
    * nor as positives. The same null-unsafe comparison applies to the
    * ANCHOR side: an anchor whose own label is null emits NO rows on
    * either path (`label =!= qlabel` is null-valued for every candidate
    * — its gold set is unknown, so nothing can be certified a
    * negative); filter such anchors out, or label them, before mining. */
  def hardNegatives(
      corpus: DataFrame,
      anchors: DataFrame,
      k: Int,
      marginBand: Option[Double] = None,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    marginBand.foreach(m => require(m > 0, s"marginBand must be positive, got $m"))
    val topk = udaf(new TopKAgg(k))
    val cand = corpus.select(
      col(idCol).cast("long").as("vec_id"),
      col(embCol).cast("array<double>").as("emb"),
      col(labelCol).as("label"))
    val anc = broadcast(anchors.select(
      col(idCol).cast("long").as("query_id"),
      col(embCol).cast("array<double>").as("qemb"),
      col(labelCol).as("qlabel")))
    val scored = cand.crossJoin(anc)
      .withColumn("cos", Dedup.cosine(col("emb"), col("qemb")))
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
    // hardest positive per anchor: same label, self excluded by id
    val posMax = scored
      .filter(col("label").isNotNull && col("label") === col("qlabel") &&
        col("vec_id") =!= col("query_id"))
      .groupBy("query_id").agg(max(col("cos")).as("pos_max"))
    val negs = scored.filter(col("label").isNotNull && col("label") =!= col("qlabel"))
    // band path: pos_max is constant per anchor, so riding it through the
    // aggregation (max) avoids referencing the posMax subplan twice —
    // each reference is a separate corpus scan to Catalyst
    val top = marginBand match {
      case Some(m) => negs.join(broadcast(posMax), "query_id")
        .filter(col("cos") < col("pos_max") && col("cos") > col("pos_max") - lit(m))
        .groupBy("query_id")
        .agg(topk(col("vec_id"), col("cos")).as("top"), max(col("pos_max")).as("pos_max"))
      case None => negs
        .groupBy("query_id")
        .agg(topk(col("vec_id"), col("cos")).as("top"))
        .join(broadcast(posMax), Seq("query_id"), "left")
    }
    top
      .select(col("query_id"), col("pos_max"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.cos").as("cos"), col("pos_max"))
      .orderBy("query_id", "rank")
  }

  /** Training-triplet assembly — the consumable form of this module's
    * output (FaceNet §3 trains on (anchor, positive, negative); DPR
    * batches gold + mined hard negative per question): each anchor is
    * paired with its HARDEST positive (max cosine, same label, self
    * excluded, vec_id tiebreak asc on cosine ties) and each of its top-k
    * hard negatives, with the triplet margin pos_cos − neg_cos riding
    * along (the quantity FaceNet's α thresholds). Anchors with no
    * positive produce NO triplets — a triplet needs all three legs —
    * and null-label anchors none either (the [[hardNegatives]]
    * contract). Same plan shape as [[hardNegatives]]: one broadcast
    * scoring scan referenced twice (positive argmax + negative TopKAgg),
    * both keyed joins.
    *
    * Output: (query_id, rank, pos_id, neg_id, pos_cos, neg_cos, margin),
    * ordered (query_id, rank). */
  def triplets(
      corpus: DataFrame,
      anchors: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val topk = udaf(new TopKAgg(k))
    val cand = corpus.select(
      col(idCol).cast("long").as("vec_id"),
      col(embCol).cast("array<double>").as("emb"),
      col(labelCol).as("label"))
    val anc = broadcast(anchors.select(
      col(idCol).cast("long").as("query_id"),
      col(embCol).cast("array<double>").as("qemb"),
      col(labelCol).as("qlabel")))
    val scored = cand.crossJoin(anc)
      .withColumn("cos", Dedup.cosine(col("emb"), col("qemb")))
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
    // hardest positive: argmax by (cos desc, vec_id asc) — max_by on the
    // (cos, -vec_id) struct would tie-break DESCENDING on id, so rank
    // with the library's explicit tie rule instead
    val pos = scored
      .filter(col("label").isNotNull && col("label") === col("qlabel") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("pos_id"), col("cos").as("pos_cos"))
    val negs = scored.filter(col("label").isNotNull && col("label") =!= col("qlabel"))
      .groupBy("query_id")
      .agg(topk(col("vec_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("neg_id"), col("sv.cos").as("neg_cos"))
    negs.join(pos, "query_id")
      .select(col("query_id"), col("rank"), col("pos_id"), col("neg_id"),
        col("pos_cos"), col("neg_cos"), (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy("query_id", "rank")
  }

  /** The anchor set a trainer's epoch-batch `batchId` consumes: corpus
    * rows whose position in the deterministic epoch shuffle
    * ([[Sampling.epochShuffleRank]], (rank, id) order) falls in
    * `(batchId·batchSize, (batchId+1)·batchSize]`. The global position
    * comes from [[Sampling.globalOrdinal]] (two-phase rank — no
    * corpus-sized single-partition window; the rank is < 2^32 so its
    * double cast is exact), so the cut is scale-safe and REPRODUCIBLE:
    * the same (corpus, epoch, batchSize, batchId) names the same anchors
    * on every run, retry, and cluster — which is what lets mining align
    * with the training loop instead of running corpus-wide. Batches
    * partition the corpus: disjoint, covering, `batchSize` rows each
    * (the last one short). */
  def epochAnchorBatch(
      corpus: DataFrame,
      batchSize: Int,
      batchId: Long,
      epoch: Int,
      idCol: String = "vec_id"): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    // rank column only — NOT Sampling.epochShuffle, whose corpus-wide
    // orderBy is redundant here (globalOrdinal re-orders by (rank, id)
    // itself) and would otherwise lean on Catalyst's EliminateSorts to
    // avoid a wasted range-exchange sort (round-10 advice).
    val ranked = corpus.withColumn("shuffle_rank",
      Sampling.epochShuffleRank(col(idCol), epoch))
    Sampling.globalOrdinal(ranked, "shuffle_rank", idCol)
      .filter(col("ordinal") > batchId * batchSize.toLong &&
        col("ordinal") <= (batchId + 1) * batchSize.toLong)
      .drop("shuffle_rank", "ordinal")
  }

  /** Per-epoch-batch hard-negative mining — the training-loop shape the
    * celled miner's ledger prescribes: instead of paying the corpus-wide
    * nprobe·N^1.5 cell join for anchors a trainer won't consume this
    * step, mine exactly ONE training batch's anchors per call through
    * the broadcast path ([[hardNegatives]]). An epoch is N/batchSize
    * such calls, each aligned with the step that consumes it, so mining
    * cost scales with data CONSUMED rather than data HELD — measured
    * (round 11, ARCHITECTURE.md; 100k vectors, 2048-anchor batches ×
    * 2 epochs): per-batch cost is FLAT across batches and epochs
    * (~25–28 s steady after JIT warm), each call one O(N) ordinal rank
    * + one O(batch·N) broadcast mine.
    *
    * Honest crossover: the per-batch mine is brute over the batch, so a
    * FULL-corpus sweep per epoch totals the same N² the brute path
    * always cost (~1600 s extrapolated at 100k) — the celled miner's
    * one-shot nprobe·N·N/nlist covered every anchor in 182 s (~9×
    * cheaper, at its measured 0.90 recall). This API's win is
    * consumption ALIGNMENT, not total-epoch throughput: early-stopped
    * runs, curriculum subsets, and partial epochs that consume fewer
    * than ~nlist/(nprobe·√N)-fraction of the corpus (≈ 11k of 100k
    * anchors at the probe's shape) come out ahead, and nothing is mined
    * for steps that never execute. Semantics per batch are exactly
    * [[hardNegatives]] over [[epochAnchorBatch]]'s anchors (same output
    * schema, same tie rules, same margin-band option). */
  def hardNegativesEpochBatch(
      corpus: DataFrame,
      batchSize: Int,
      batchId: Long,
      epoch: Int,
      k: Int,
      marginBand: Option[Double] = None,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    // Pin the batch-sized anchor cut: [[hardNegatives]] references its
    // anchor frame under BOTH the pos_max and the negatives branch, and
    // without a pin each reference re-executes the full two-phase
    // globalOrdinal chain (bounds agg + bucket offsets + two windows +
    // their broadcasts — the r15 plan audit counted the subplan fully
    // duplicated, 8 parquet scans). One eager materialization of ≤
    // batchSize rows replaces both copies with a leaf; values unchanged
    // (the q_epoch_negatives oracle pins equivalence).
    hardNegatives(corpus,
      graft.core.Ckpt.pin(epochAnchorBatch(corpus, batchSize, batchId, epoch, idCol)),
      k, marginBand, idCol, embCol, labelCol)

  /** Corpus-wide hard-negative mining: EVERY corpus row is an anchor, and
    * the candidate generator is the IVF cell equijoin under the quantizer
    * `cents` (e.g. [[Similarity.trainIvfCentroids]]) instead of a
    * broadcast scan — anchors explode to their `nprobe` nearest cells,
    * candidates sit in their one assigned cell, and the join key is the
    * cell id. Approximate exactly like [[Similarity.ivfTopK]] (a negative
    * outside the probed cells is missed); recall vs the brute path is
    * spec-measured. No margin band here: the semi-hard floor needs the
    * hardest POSITIVE, which cell pruning cannot bound — mine semi-hard
    * batches with [[hardNegatives]] on a bounded anchor set instead.
    * Per-cell work is superlinear in N (nprobe·N^1.5 at nlist ∝ √N);
    * when anchors are consumed batch-by-batch in a training loop, prefer
    * [[hardNegativesEpochBatch]], whose cost scales with batches
    * consumed. */
  def hardNegativesCelled(
      corpus: DataFrame,
      k: Int,
      cents: Array[Array[Double]],
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val labels = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(labelCol).as("label"))
    val assigned = Similarity.assignCells(corpus, cents, idCol, embCol)
      .join(labels, "vec_id")
    val probe = Similarity.probeUdf(cents, nprobe)
    val anchors = assigned.select(
      col("vec_id").as("query_id"), col("emb").as("qemb"), col("label").as("qlabel"),
      explode(probe(col("emb"))).as("cell"))
    TopK.rank(anchors.join(assigned, "cell")
      .filter(col("label").isNotNull && col("qlabel").isNotNull &&
        col("label") =!= col("qlabel"))
      .withColumn("cos", Dedup.cosine(col("emb"), col("qemb"))), k)
  }
}
