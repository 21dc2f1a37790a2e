package graft.ops

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Encoders}
import graft.core.Panel

/** K11 — per-(group × feature) outlier detection
  * (time_series_study.py:881-977): three methods with sklearn-style label
  * semantics (−1 outlier / 1 inlier) and a contamination-quantile cut.
  *
  * Exact sklearn score parity is a declared non-goal (SURVEY §2.9): the
  * contract is the published algorithms — Liu et al. 2008 isolation forest,
  * Breunig et al. 2000 LOF — with deterministic seeding, label semantics,
  * and the 10% contamination cut, verified by property tests. The z-score
  * method is exact (population σ, |z| > 3).
  */
object Outliers {

  // ---- isolation forest (1-D, Liu et al. 2008) ----------------------------

  private def cFactor(n: Int): Double =
    if (n <= 1) 0.0
    else 2.0 * (math.log(n - 1.0) + 0.5772156649015329) - 2.0 * (n - 1.0) / n

  /** Average isolation path length per point over `nTrees` random trees.
    *
    * The two random draws are injected (the signature-injection seam that
    * promoted the minhash/stream-dedup queries to hard oracles):
    * `pickFn(tree, step, bound)` yields the Fisher–Yates swap offset and
    * `splitFn(tree, nodeId)` the split fraction in [0, 1), where nodeId is
    * heap numbering (root 1, children 2i / 2i+1). The production wrapper
    * below feeds both from one shared `Random` in the exact historical
    * call order (per tree: psi swap draws, then split draws in left-first
    * DFS), so seeded outputs are bit-identical to the pre-refactor code;
    * the replayable wrapper feeds order-free integer mixes that DuckDB
    * replays node-for-node. */
  private[graft] def iforestDepthsCore(
      x: Array[Double], nTrees: Int, subsample: Int,
      pickFn: (Int, Int, Int) => Int,
      splitFn: (Int, Long) => Double): Array[Double] = {
    val n = x.length
    val psi = math.min(subsample, n)
    val hlim = math.ceil(math.log(psi.toDouble) / math.log(2.0)).toInt
    val depths = new Array[Double](n)

    // subsample WITHOUT replacement (Liu et al. 2008): partial
    // Fisher-Yates of the index range, first psi entries; the pool
    // carries across trees (historical behavior, replayed by the oracle
    // as one continuous swap chain)
    val idxPool = Array.tabulate(n)(identity)
    var t = 0
    while (t < nTrees) {
      // one random tree on a subsample; returns a scorer via recursive closure
      def buildScore(idx: Array[Int], depth: Int, id: Long): Double => Double = {
        if (idx.length <= 1 || depth >= hlim) {
          val adj = depth + cFactor(idx.length)
          _ => adj
        } else {
          var mn = Double.PositiveInfinity
          var mx = Double.NegativeInfinity
          idx.foreach { i => val v = x(i); if (v < mn) mn = v; if (v > mx) mx = v }
          if (mn == mx) { val adj = depth + cFactor(idx.length); _ => adj }
          else {
            val split = mn + splitFn(t, id) * (mx - mn)
            val left = idx.filter(x(_) < split)
            val right = idx.filter(x(_) >= split)
            val ls = buildScore(left, depth + 1, 2 * id)
            val rs = buildScore(right, depth + 1, 2 * id + 1)
            v => if (v < split) ls(v) else rs(v)
          }
        }
      }
      var s = 0
      while (s < psi) {
        val j = s + pickFn(t, s, n - s)
        val tmp = idxPool(s); idxPool(s) = idxPool(j); idxPool(j) = tmp
        s += 1
      }
      val sample = java.util.Arrays.copyOfRange(idxPool, 0, psi)
      val scorer = buildScore(sample, 0, 1L)
      var i = 0
      while (i < n) { depths(i) += scorer(x(i)); i += 1 }
      t += 1
    }
    depths.map(_ / nTrees)
  }

  private def iforestDepths(x: Array[Double], rng: Random, nTrees: Int, subsample: Int): Array[Double] =
    iforestDepthsCore(x, nTrees, subsample,
      (_, _, bound) => rng.nextInt(bound),
      (_, _) => rng.nextDouble())

  /** Order-free integer-mix draws for the replayable path: every value is
    * a pure function of its key, so the oracle can reproduce any draw
    * without tracking call order. Modular affine mixes in the engine's
    * minhash convention (mod 1e9+7, fraction over 1e9) — exact in 64-bit
    * integers on both engines. */
  private[graft] def replayPick(t: Int, s: Int, bound: Int): Int =
    ((((s + 1).toLong * (2L * t + 5L) + (11L * t + 3L)) % 1000000007L) % bound).toInt

  private[graft] def replaySplit(t: Int, id: Long): Double =
    (((id * (2L * t + 3L) + (7L * t + 1L)) % 1000000007L) % 1000000000L) / 1e9

  /** (labels ∈ {−1,1}, scores) — higher score = more anomalous is inverted
    * to sklearn's convention where LOWER decision value = more anomalous. */
  def isolationForest(
      x: Array[Double],
      contamination: Double = 0.1,
      nTrees: Int = 100,
      subsample: Int = 256,
      seed: Long = 42L): (Array[Int], Array[Double]) = {
    val n = x.length
    val psi = math.min(subsample, n)
    val depths = iforestDepths(x, new Random(seed), nTrees, psi)
    // score_samples = -2^(-E[h]/c(psi)); decision = score_samples - offset
    val scoreSamples = depths.map(d => -math.pow(2.0, -d / cFactor(psi)))
    val offset = quantile(scoreSamples, contamination)
    val decision = scoreSamples.map(_ - offset)
    (decision.map(d => if (d < 0) -1 else 1), decision)
  }

  /** Replayable isolation forest: the production tree recursion
    * ([[iforestDepthsCore]]) driven by the keyed integer-mix draws, with
    * avg depth and score 1e-6-canonized BEFORE the contamination cut so
    * the threshold comparison happens between grid values both engines
    * compute bit-identically (only ln/pow sit outside exact arithmetic,
    * the accepted BM25-class parity risk). Small default hyperparameters
    * keep the node count oracle-replayable; the algorithm — partial
    * Fisher–Yates subsampling, uniform splits in [min, max), path-length
    * scoring with the c(ψ) normalizer, np.percentile offset — is the
    * production path, structure-for-structure. */
  def isolationForestReplayable(
      x: Array[Double],
      contamination: Double = 0.1,
      nTrees: Int = 4,
      subsample: Int = 16): (Array[Int], Array[Double]) = {
    val psi = math.min(subsample, x.length)
    def q6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val depths = iforestDepthsCore(x, nTrees, psi, replayPick, replaySplit).map(q6)
    val c = cFactor(psi)
    val scoreSamples = depths.map(d => q6(-math.pow(2.0, -d / c)))
    val offset = quantile(scoreSamples, contamination)
    val decision = scoreSamples.map(_ - offset)
    (decision.map(d => if (d < 0) -1 else 1), decision)
  }

  // ---- local outlier factor (1-D, Breunig et al. 2000) --------------------

  /** (labels, negative_outlier_factor). Neighborhoods include distance ties
    * like sklearn; lrd is guarded with 1e-10 for duplicate-heavy data. */
  def localOutlierFactor(
      x: Array[Double],
      nNeighbors: Int,
      contamination: Double = 0.1): (Array[Int], Array[Double]) = {
    val n = x.length
    val k = math.max(1, math.min(nNeighbors, n - 1))
    val order = x.zipWithIndex.sortBy(_._1)
    val sorted = order.map(_._1)
    // k-distance + neighbor list (with ties) per point via sorted expansion
    val kdist = new Array[Double](n)
    val neighbors = new Array[Array[Int]](n)
    var p = 0
    while (p < n) {
      var lo = p
      var hi = p
      var taken = 0
      while (taken < k && (lo > 0 || hi < n - 1)) {
        val dl = if (lo > 0) sorted(p) - sorted(lo - 1) else Double.PositiveInfinity
        val dr = if (hi < n - 1) sorted(hi + 1) - sorted(p) else Double.PositiveInfinity
        if (dl <= dr) { lo -= 1 } else { hi += 1 }
        taken += 1
      }
      val kd = math.max(sorted(p) - sorted(lo), sorted(hi) - sorted(p))
      // include all distance ties
      while (lo > 0 && sorted(p) - sorted(lo - 1) <= kd) lo -= 1
      while (hi < n - 1 && sorted(hi + 1) - sorted(p) <= kd) hi += 1
      kdist(p) = kd
      neighbors(p) = ((lo until p) ++ (p + 1 to hi)).toArray
      p += 1
    }
    val lrd = new Array[Double](n)
    p = 0
    while (p < n) {
      var s = 0.0
      neighbors(p).foreach { o =>
        s += math.max(kdist(o), math.abs(sorted(p) - sorted(o)))
      }
      lrd(p) = 1.0 / (s / neighbors(p).length + 1e-10)
      p += 1
    }
    val lofSorted = new Array[Double](n)
    p = 0
    while (p < n) {
      var s = 0.0
      neighbors(p).foreach(o => s += lrd(o))
      lofSorted(p) = s / neighbors(p).length / lrd(p)
      p += 1
    }
    // back to original index order; negative_outlier_factor_ = -LOF
    val nof = new Array[Double](n)
    p = 0
    while (p < n) { nof(order(p)._2) = -lofSorted(p); p += 1 }
    val threshold = quantile(nof, contamination)
    (nof.map(v => if (v < threshold) -1 else 1), nof)
  }

  // ---- z-score (exact, time_series_study.py:932-936) ----------------------

  def zscore(x: Array[Double]): (Array[Int], Array[Double]) = {
    val n = x.length
    val mu = x.sum / n
    val sigma = math.sqrt(x.map(v => (v - mu) * (v - mu)).sum / n)
    val z = x.map(v => math.abs((v - mu) / sigma))
    (z.map(v => if (v > 3) -1 else 1), z)
  }

  /** linear-interpolation percentile (np.percentile default) */
  private def quantile(a: Array[Double], q: Double): Double = {
    val s = a.sorted
    val pos = q * (s.length - 1)
    val i = pos.toInt
    if (i >= s.length - 1) s.last
    else s(i) + (pos - i) * (s(i + 1) - s(i))
  }

  case class OutlierRow(
      group_key: String, feature: String, method: String, n: Long,
      n_outliers: Long, outlier_rate: Double, avg_outlier_score: Double,
      max_outlier_score: Double, min_outlier_score: Double)

  /** Per-(group × feature) outlier summary (`:941-954`): one row per series
    * with ≥ minLen finite points; avg score over outliers (0.0 when none),
    * max/min over all scores. Deterministic: the iforest seed derives from
    * (group, feature). */
  def outlierSummary(
      melted: DataFrame,
      method: String = "isolation_forest",
      contamination: Double = 0.1,
      minLen: Int = 10): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[OutlierRow]) { (g, f, x) =>
      val (labels, scores) = method match {
        case "isolation_forest" =>
          isolationForest(x, contamination, seed = (g + "|" + f).hashCode.toLong ^ 42L)
        case "isolation_forest_replay" =>
          isolationForestReplayable(x, contamination)
        case "local_outlier_factor" =>
          localOutlierFactor(x, math.min(20, x.length / 2), contamination)
        case "zscore" => zscore(x)
        case m => throw new IllegalArgumentException(s"Unknown method: $m")
      }
      val out = labels.zip(scores).filter(_._1 == -1).map(_._2)
      Iterator.single(OutlierRow(
        g, f, method, x.length, out.length, out.length.toDouble / x.length,
        if (out.nonEmpty) out.sum / out.length else 0.0,
        scores.max, scores.min))
    }.orderBy("feature", "group_key")
}
