package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import graft.core.Panel

/** K9 — Markov regime-switching regression (time_series_study.py:686-778):
  * k-regime switching-intercept Gaussian model with common variance
  * (MarkovRegression(k_regimes, trend='c'), switching_variance=False):
  *
  *   y_t = μ_{S_t} + ε_t,  ε_t ~ N(0, σ²),  S_t a k-state Markov chain.
  *
  * Fit by EM + quasi-Newton: Hamilton filter (steady-state initialization)
  * for the E-step likelihood, Kim smoother for smoothed marginal/pairwise
  * probabilities, closed-form M-step. EM runs a modest basin-finding
  * budget from deterministic moment/quantile starts; each result is then
  * polished by L-BFGS on the exact filter likelihood and the best
  * likelihood wins (statsmodels warm-starts EM then BFGS-polishes; the
  * optimum is the same when both land on the dominant mode — verified
  * against the recorded reference outputs in AdvancedSpec).
  *
  * Quirks preserved/deviated (SURVEY §2.9): `regime_switches` replicates
  * the reference's argmax-over-dates quirk (R2) for parity; the honest
  * count of smoothed-state changes is emitted as `regime_switches_true`;
  * the real transition probabilities are emitted (R1 deviation — the
  * reference's regex against a non-string index always yields []).
  */
object Regimes {

  final case class MsFit(
      p: Array[Array[Double]], // p(j)(k) = P(S_t = k | S_{t-1} = j)
      mu: Array[Double],
      sigma2: Double,
      llf: Double,
      smoothed: Array[Array[Double]]) // smoothed(t)(k)

  /** Stationary distribution of transition matrix p (power iteration —
    * k is tiny). */
  private def steadyState(p: Array[Array[Double]]): Array[Double] = {
    val k = p.length
    var pi = Array.fill(k)(1.0 / k)
    var it = 0
    while (it < 500) {
      val next = Array.tabulate(k)(j => (0 until k).map(i => pi(i) * p(i)(j)).sum)
      val diff = (0 until k).map(i => math.abs(next(i) - pi(i))).max
      pi = next
      if (diff < 1e-14) it = 500
      it += 1
    }
    pi
  }

  /** One EM fit from the given start; returns the converged fit. */
  private def emFit(
      y: Array[Double],
      mu0: Array[Double],
      sigma20: Double,
      p0: Double,
      maxIter: Int,
      tol: Double): MsFit = {
    val n = y.length
    val k = mu0.length
    var mu = mu0.clone()
    var sigma2 = sigma20
    var p = Array.tabulate(k, k)((i, j) => if (i == j) p0 else (1.0 - p0) / (k - 1))
    var llf = Double.NegativeInfinity
    var iter = 0
    var done = false
    var filtered = Array.ofDim[Double](n, k)
    var predicted = Array.ofDim[Double](n, k)
    var smoothed = Array.ofDim[Double](n, k)

    while (iter < maxIter && !done) {
      // E: Hamilton filter
      val dens = Array.tabulate(n, k) { (t, j) =>
        val z = (y(t) - mu(j)) * (y(t) - mu(j)) / sigma2
        math.exp(-0.5 * z) / math.sqrt(2.0 * math.Pi * sigma2)
      }
      val pi = steadyState(p)
      var ll = 0.0
      var t = 0
      while (t < n) {
        var j = 0
        while (j < k) {
          predicted(t)(j) =
            if (t == 0) pi(j)
            else (0 until k).map(i => filtered(t - 1)(i) * p(i)(j)).sum
          j += 1
        }
        var s = 0.0
        j = 0
        while (j < k) { filtered(t)(j) = predicted(t)(j) * dens(t)(j); s += filtered(t)(j); j += 1 }
        if (s <= 0 || s.isNaN) { s = 1e-300 } // degenerate guard
        ll += math.log(s)
        j = 0
        while (j < k) { filtered(t)(j) /= s; j += 1 }
        t += 1
      }
      // Kim smoother
      smoothed(n - 1) = filtered(n - 1).clone()
      t = n - 2
      while (t >= 0) {
        var j = 0
        while (j < k) {
          var s = 0.0
          var m = 0
          while (m < k) {
            if (predicted(t + 1)(m) > 0)
              s += p(j)(m) * smoothed(t + 1)(m) / predicted(t + 1)(m)
            m += 1
          }
          smoothed(t)(j) = filtered(t)(j) * s
          j += 1
        }
        t -= 1
      }
      // M
      val newP = Array.ofDim[Double](k, k)
      val denomP = new Array[Double](k)
      t = 0
      while (t < n - 1) {
        var j = 0
        while (j < k) {
          var m = 0
          while (m < k) {
            if (predicted(t + 1)(m) > 0)
              newP(j)(m) += filtered(t)(j) * p(j)(m) * smoothed(t + 1)(m) / predicted(t + 1)(m)
            m += 1
          }
          denomP(j) += smoothed(t)(j)
          j += 1
        }
        t += 1
      }
      for (j <- 0 until k; m <- 0 until k)
        newP(j)(m) = if (denomP(j) > 0) newP(j)(m) / denomP(j) else (if (j == m) 1.0 else 0.0)
      val newMu = Array.tabulate(k) { j =>
        var num = 0.0; var den = 0.0
        var tt = 0
        while (tt < n) { num += smoothed(tt)(j) * y(tt); den += smoothed(tt)(j); tt += 1 }
        if (den > 0) num / den else mu(j)
      }
      var s2 = 0.0
      t = 0
      while (t < n) {
        var j = 0
        while (j < k) { s2 += smoothed(t)(j) * (y(t) - newMu(j)) * (y(t) - newMu(j)); j += 1 }
        t += 1
      }
      val newSigma2 = math.max(s2 / n, 1e-12)

      if (ll - llf < tol && iter > 0) done = true
      llf = ll
      p = newP
      mu = newMu
      sigma2 = newSigma2
      iter += 1
    }
    // the loop's llf/smoothed were evaluated at the PRE-M-step parameters;
    // one final E-pass makes the returned state consistent with (p, mu, σ²)
    emAt(y, p, mu, sigma2)
  }

  /** Forward-only filter log-likelihood (no smoother, no state storage) —
    * the polish objective. Cheaper than emAt by the whole backward pass. */
  private def filterLlf(y: Array[Double], p: Array[Array[Double]],
      mu: Array[Double], sigma2: Double): Double = {
    val n = y.length
    val k = mu.length
    val pi = steadyState(p)
    val f = new Array[Double](k)
    val raw = new Array[Double](k)
    var ll = 0.0
    var t = 0
    while (t < n) {
      var s = 0.0
      var j = 0
      while (j < k) {
        var pred = 0.0
        if (t == 0) pred = pi(j)
        else { var i = 0; while (i < k) { pred += f(i) * p(i)(j); i += 1 } }
        val z = (y(t) - mu(j)) * (y(t) - mu(j)) / sigma2
        raw(j) = pred * math.exp(-0.5 * z) / math.sqrt(2.0 * math.Pi * sigma2)
        s += raw(j)
        j += 1
      }
      if (s <= 0 || s.isNaN) s = 1e-300
      ll += math.log(s)
      j = 0
      while (j < k) { f(j) = raw(j) / s; j += 1 }
      t += 1
    }
    ll
  }

  /** k=2 filter NLL with its ANALYTIC gradient in the polish's transformed
    * coordinates θ = (a0, a1, μ0, μ1, v): p(j,0) = sigmoid(a_j),
    * v = ln σ², π from the closed form π0 = p10/(p01+p10). Forward-mode:
    * the sensitivity of the filtered pair w.r.t. each parameter is carried
    * through the predict→update→normalize recursion alongside the state —
    * one O(n·k·dim) pass instead of dim+1 full filter evaluations per
    * finite-difference gradient (and no line-search zoom noise from
    * subtractive cancellation). */
  private[graft] def filterNllGrad2(y: Array[Double])(
      th: breeze.linalg.DenseVector[Double]): (Double, breeze.linalg.DenseVector[Double]) = {
    import breeze.linalg.DenseVector
    val n = y.length
    val s0 = 1.0 / (1.0 + math.exp(-th(0))) // p00
    val s1 = 1.0 / (1.0 + math.exp(-th(1))) // p10
    val mu = Array(th(2), th(3))
    val s2 = math.exp(th(4))
    val p = Array(Array(s0, 1.0 - s0), Array(s1, 1.0 - s1))
    val ds0 = s0 * (1.0 - s0)
    val ds1 = s1 * (1.0 - s1)
    // dp(i)(j)(q): derivative of p(i)(j) w.r.t. a_q; row i depends on a_i only
    val dp = Array.ofDim[Double](2, 2, 2)
    dp(0)(0)(0) = ds0; dp(0)(1)(0) = -ds0
    dp(1)(0)(1) = ds1; dp(1)(1)(1) = -ds1
    // stationary init: pi0 = p10 / (p01 + p10), p01 = 1 - p00
    val den = (1.0 - s0) + s1
    val pi0 = s1 / den
    val dpi0 = new Array[Double](5)
    dpi0(0) = s1 / (den * den) * ds0        // ∂π0/∂p00 · ∂p00/∂a0
    dpi0(1) = (1.0 - s0) / (den * den) * ds1 // ∂π0/∂p10 · ∂p10/∂a1
    val c = math.sqrt(2.0 * math.Pi * s2)

    val f = new Array[Double](2)
    val df = Array.ofDim[Double](2, 5)
    var ll = 0.0
    val dll = new Array[Double](5)
    val pred = new Array[Double](2)
    val dpred = Array.ofDim[Double](2, 5)
    val raw = new Array[Double](2)
    val draw = Array.ofDim[Double](2, 5)
    var t = 0
    while (t < n) {
      var j = 0
      while (j < 2) {
        if (t == 0) {
          pred(j) = if (j == 0) pi0 else 1.0 - pi0
          var q = 0
          while (q < 5) { dpred(j)(q) = if (j == 0) dpi0(q) else -dpi0(q); q += 1 }
        } else {
          pred(j) = f(0) * p(0)(j) + f(1) * p(1)(j)
          var q = 0
          while (q < 5) {
            var d = df(0)(q) * p(0)(j) + df(1)(q) * p(1)(j)
            if (q < 2) d += f(0) * dp(0)(j)(q) + f(1) * dp(1)(j)(q)
            dpred(j)(q) = d
            q += 1
          }
        }
        val e = y(t) - mu(j)
        val dj = math.exp(-0.5 * e * e / s2) / c
        raw(j) = pred(j) * dj
        // dd/dμ_j = d·e/σ²; dd/dv = d·(e²/(2σ²) − 1/2); zero w.r.t. a's
        var q = 0
        while (q < 5) {
          var d = dpred(j)(q) * dj
          if (q == 2 + j) d += pred(j) * dj * e / s2
          if (q == 4) d += pred(j) * dj * (e * e / (2.0 * s2) - 0.5)
          draw(j)(q) = d
          q += 1
        }
        j += 1
      }
      var s = raw(0) + raw(1)
      if (s <= 0 || s.isNaN) s = 1e-300
      ll += math.log(s)
      var q = 0
      while (q < 5) {
        val dsq = draw(0)(q) + draw(1)(q)
        dll(q) += dsq / s
        df(0)(q) = (draw(0)(q) - (raw(0) / s) * dsq) / s
        df(1)(q) = (draw(1)(q) - (raw(1) / s) * dsq) / s
        q += 1
      }
      f(0) = raw(0) / s
      f(1) = raw(1) / s
      t += 1
    }
    if (ll.isNaN || ll.isInfinite)
      (1e10 * (1.0 + (th dot th)), th * 2e10) // convex penalty bowl (see Garch)
    else (-ll, DenseVector.tabulate(5)(q => -dll(q)))
  }

  /** L-BFGS polish of an EM fit on the exact filter likelihood, general k.
    * Transformed params: per transition row, k−1 softmax logits (last entry
    * pinned to 0); k means; log variance — k(k−1)+k+1 free parameters
    * (5 for k=2, matching the reference's parameter count). EM crawls on
    * the shared-variance ridge; the quasi-Newton step snaps it to the
    * local maximum, matching a BFGS-polished reference fit. k=2 uses the
    * analytic filter gradient; k>2 falls back to finite differences over
    * the forward-only likelihood. */
  private def polish(y: Array[Double], f: MsFit, maxIter: Int, tol: Double): MsFit = {
    import breeze.linalg.DenseVector
    import breeze.optimize.{ApproximateGradientFunction, LBFGS}
    val k = f.mu.length
    val nTrans = k * (k - 1)

    def unpack(th: DenseVector[Double]): (Array[Array[Double]], Array[Double], Double) = {
      val p = Array.ofDim[Double](k, k)
      var idx = 0
      var j = 0
      while (j < k) {
        val logits = new Array[Double](k)
        var m = 0
        while (m < k - 1) { logits(m) = th(idx); idx += 1; m += 1 }
        logits(k - 1) = 0.0
        val mx = logits.max
        val exps = logits.map(v => math.exp(v - mx))
        val s = exps.sum
        m = 0
        while (m < k) { p(j)(m) = exps(m) / s; m += 1 }
        j += 1
      }
      val mu = Array.tabulate(k)(i => th(nTrans + i))
      (p, mu, math.exp(th(nTrans + k)))
    }

    def clampLog(x: Double) = math.log(math.min(math.max(x, 1e-8), 1e8))
    val start = DenseVector.zeros[Double](nTrans + k + 1)
    var idx = 0
    for (j <- 0 until k; m <- 0 until k - 1) {
      start(idx) = clampLog(math.max(f.p(j)(m), 1e-8) / math.max(f.p(j)(k - 1), 1e-8))
      idx += 1
    }
    for (i <- 0 until k) start(nTrans + i) = f.mu(i)
    start(nTrans + k) = math.log(math.max(f.sigma2, 1e-12))

    def nll(th: DenseVector[Double]): Double = {
      val (p, mu, s2) = unpack(th)
      -filterLlf(y, p, mu, s2)
    }
    Garch.muteBreezeOptimizerLogs
    val g: breeze.optimize.DiffFunction[DenseVector[Double]] =
      if (k == 2)
        new breeze.optimize.DiffFunction[DenseVector[Double]] {
          def calculate(th: DenseVector[Double]): (Double, DenseVector[Double]) =
            filterNllGrad2(y)(th)
        }
      else new ApproximateGradientFunction[Int, DenseVector[Double]](nll _)
    val opt = try new LBFGS[DenseVector[Double]](
      maxIter = maxIter, m = 7, tolerance = math.min(tol, 1e-8))
      .minimize(g, start) catch { case NonFatal(_) => start }
    val (p, mu, s2) = unpack(opt)
    // one E-pass at the optimum refreshes filter/smoother state exactly
    val refreshed = emAt(y, p, mu, s2)
    if (refreshed.llf >= f.llf) refreshed else f
  }

  /** Single E-pass (filter + smoother + llf) at fixed parameters. */
  private def emAt(y: Array[Double], p: Array[Array[Double]], mu: Array[Double], sigma2: Double): MsFit = {
    val n = y.length
    val k = mu.length
    val filtered = Array.ofDim[Double](n, k)
    val predicted = Array.ofDim[Double](n, k)
    val smoothed = Array.ofDim[Double](n, k)
    val pi = steadyState(p)
    var ll = 0.0
    var t = 0
    while (t < n) {
      var j = 0
      while (j < k) {
        predicted(t)(j) =
          if (t == 0) pi(j)
          else (0 until k).map(i => filtered(t - 1)(i) * p(i)(j)).sum
        j += 1
      }
      var s = 0.0
      j = 0
      while (j < k) {
        val z = (y(t) - mu(j)) * (y(t) - mu(j)) / sigma2
        filtered(t)(j) = predicted(t)(j) * math.exp(-0.5 * z) / math.sqrt(2.0 * math.Pi * sigma2)
        s += filtered(t)(j)
        j += 1
      }
      if (s <= 0 || s.isNaN) s = 1e-300
      ll += math.log(s)
      j = 0
      while (j < k) { filtered(t)(j) /= s; j += 1 }
      t += 1
    }
    smoothed(n - 1) = filtered(n - 1).clone()
    t = n - 2
    while (t >= 0) {
      var j = 0
      while (j < k) {
        var s = 0.0
        var m = 0
        while (m < k) {
          if (predicted(t + 1)(m) > 0)
            s += p(j)(m) * smoothed(t + 1)(m) / predicted(t + 1)(m)
          m += 1
        }
        smoothed(t)(j) = filtered(t)(j) * s
        j += 1
      }
      t -= 1
    }
    MsFit(p, mu, sigma2, ll, smoothed)
  }

  /** Multi-start EM, each polished by L-BFGS; keeps the best-likelihood
    * fit. Deterministic. EM only needs to reach the right basin (the
    * polish finishes convergence), so its default budget is modest.
    *
    * Shares [[Garch.fit]]'s JVM-wide muting of the `breeze.optimize`
    * logger (opt out with `-Dgraft.muteBreezeLogs=false`). */
  def fit(y: Array[Double], kRegimes: Int = 2, maxIter: Int = 300, tol: Double = 1e-8): MsFit = {
    val n = y.length
    val mean = y.sum / n
    val sd = math.sqrt(y.map(v => (v - mean) * (v - mean)).sum / n)
    val sorted = y.sorted
    def quant(q: Double) = sorted(math.min(((n - 1) * q).round.toInt, n - 1))
    val starts: Seq[(Array[Double], Double, Double)] =
      if (kRegimes == 2)
        Seq(
          (Array(mean - sd, mean + sd), sd * sd, 0.9),
          (Array(quant(0.25), quant(0.75)), sd * sd, 0.9),
          (Array(quant(0.1), quant(0.9)), sd * sd / 2, 0.75),
          (Array(mean - 0.1 * sd, mean + 0.1 * sd), sd * sd, 0.5))
      else
        Seq((Array.tabulate(kRegimes)(j => quant((j + 0.5) / kRegimes)), sd * sd, 0.9))
    val fits = starts.map { case (m, s2, p0) =>
      val em = emFit(y, m, s2, p0, maxIter, tol)
      polish(y, em, maxIter, tol)
    }
    fits.maxBy(f => if (f.llf.isNaN) Double.NegativeInfinity else f.llf)
  }

  case class RegimeCoreRow(
      group_key: String, feature: String, n: Long,
      hamilton_llf0: Double, mean_filtered_p0: Double)

  /** K9 hard-oracle core: one Hamilton-filter forward pass — the E-step
    * recursion of `emAt` (steady-state init, predict, Gaussian update,
    * normalize, log-sum accumulation) — at deterministic start parameters:
    * μ = (mean−sd, mean+sd), σ² = population variance, p00 = p11 = 0.9.
    * A DuckDB oracle replays the recursion as a `list_reduce` fold,
    * pinning the filter arithmetic the EM/polish likelihood is built on;
    * the data-dependent optimum stays pinned by the golden-parity tests.
    * Emits the filter log-likelihood and the mean filtered probability of
    * regime 0. */
  def filterCores(melted: DataFrame, minLen: Int = 20): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[RegimeCoreRow]) { (g, f, y) =>
      val n = y.length
      val mean = y.sum / n
      val varp = y.map(v => (v - mean) * (v - mean)).sum / n
      if (varp <= 0) Iterator.empty
      else {
        val sd = math.sqrt(varp)
        val (llf, meanF0) =
          hamiltonPass(y, 0.9, 0.9, mean - sd, mean + sd, varp)
        Iterator.single(RegimeCoreRow(g, f, n.toLong, llf, meanF0))
      }
    }.orderBy("feature", "group_key")

  /** Forward filter, 2-regime, SINGLE-state form: the filtered pair is
    * normalized so it is carried as f0 alone with f1 ≡ 1 − f0 — exactly
    * (not just up to float) the recursion the DuckDB oracle folds, because
    * DuckDB's lambda struct fields mutate sequentially (a later field sees
    * an earlier field's update, even nested), which forbids two mutually-
    * dependent state fields. Differs from `emAt`'s two-state loop by ulp
    * only (AdvancedSpec pins the agreement); the closed-form π₀ =
    * (1−p11)/(2−p00−p11) replaces the power iteration the same way. */
  private[graft] def hamiltonPass(y: Array[Double], p00: Double, p11: Double,
      mu0: Double, mu1: Double, sigma2: Double): (Double, Double) = {
    val n = y.length
    val c = math.sqrt(2.0 * math.Pi * sigma2)
    val pi0 = (1.0 - p11) / (2.0 - p00 - p11)
    var f0 = 0.0
    var ll = 0.0
    var sumF0 = 0.0
    var t = 0
    while (t < n) {
      val pred0 = if (t == 0) pi0 else f0 * p00 + (1.0 - f0) * (1.0 - p11)
      val pred1 = if (t == 0) 1.0 - pi0 else f0 * (1.0 - p00) + (1.0 - f0) * p11
      val r0 = pred0 * math.exp(-0.5 * (y(t) - mu0) * (y(t) - mu0) / sigma2) / c
      val r1 = pred1 * math.exp(-0.5 * (y(t) - mu1) * (y(t) - mu1) / sigma2) / c
      var s = r0 + r1
      if (s <= 0 || s.isNaN) s = 1e-300
      ll += math.log(s)
      f0 = r0 / s
      sumF0 += f0
      t += 1
    }
    (ll, sumF0 / n)
  }

  case class EmTraceRow(
      group_key: String, feature: String, round: Int,
      llf: Double, p00: Double, p11: Double,
      mu_1: Double, mu_2: Double, sigma2: Double)

  /** K9 EM trajectory in replay form (round-13 promotion, the
    * Dawid–Skene/Bradley–Terry unrolled-rounds recipe): from the SAME
    * pinned start as [[filterCores]] (μ = mean ∓ sd, σ² = population
    * variance, p00 = p11 = 0.9), run `rounds` full EM iterations —
    * forward Hamilton filter, backward Kim smoother, closed-form M-step —
    * and emit each round's entry-parameter log-likelihood plus its
    * post-M-step parameters. This pins the E-step/smoother/M-step
    * STRUCTURE the production [[emFit]] iterates; the full fit's
    * data-dependent optimum stays pinned by the golden-parity specs.
    *
    * Replay conventions (shared with [[hamiltonPass]]): the filtered
    * state is carried single-component (f1 ≡ 1 − f0), the off-diagonal
    * transitions are 1 − p00 / 1 − p11, π₀ is the closed form
    * (1−p11)/(2−p00−p11) rather than the power iteration, and every
    * parameter is canonized to the 1e-6 grid at round boundaries so the
    * two engines stay in bit-lockstep round over round (the only
    * divergence channels left are exp/ln, the accepted BM25-class
    * risk). */
  def emTrace(melted: DataFrame, rounds: Int = 2, minLen: Int = 20): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    Panel.perSeries(melted, minLen, Encoders.product[EmTraceRow]) { (g, f, y) =>
      val n = y.length
      val mean = y.sum / n
      val varp = y.map(v => (v - mean) * (v - mean)).sum / n
      if (varp <= 0) Iterator.empty
      else {
        def q6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
        val sd = math.sqrt(varp)
        var mu0 = q6(mean - sd)
        var mu1 = q6(mean + sd)
        var s2 = q6(varp)
        var p00 = 0.9
        var p11 = 0.9
        val out = Array.newBuilder[EmTraceRow]
        var r = 1
        while (r <= rounds) {
          val c = math.sqrt(2.0 * math.Pi * s2)
          val pi0 = (1.0 - p11) / (2.0 - p00 - p11)
          // forward filter (single-state; both predicted components kept
          // for the smoother/M-step)
          val p0s = new Array[Double](n)
          val p1s = new Array[Double](n)
          val f0s = new Array[Double](n)
          var ll = 0.0
          var f0 = 0.0
          var t = 0
          while (t < n) {
            val pred0 = if (t == 0) pi0 else f0 * p00 + (1.0 - f0) * (1.0 - p11)
            val pred1 = if (t == 0) 1.0 - pi0 else f0 * (1.0 - p00) + (1.0 - f0) * p11
            val r0 = pred0 * math.exp(-0.5 * (y(t) - mu0) * (y(t) - mu0) / s2) / c
            val r1 = pred1 * math.exp(-0.5 * (y(t) - mu1) * (y(t) - mu1) / s2) / c
            var s = r0 + r1
            if (s <= 0 || s.isNaN) s = 1e-300
            ll += math.log(s)
            f0 = r0 / s
            p0s(t) = pred0; p1s(t) = pred1; f0s(t) = f0
            t += 1
          }
          // Kim smoother
          val sm0 = new Array[Double](n)
          val sm1 = new Array[Double](n)
          sm0(n - 1) = f0s(n - 1)
          sm1(n - 1) = 1.0 - f0s(n - 1)
          t = n - 2
          while (t >= 0) {
            val a0 = (if (p0s(t + 1) > 0) p00 * sm0(t + 1) / p0s(t + 1) else 0.0) +
              (if (p1s(t + 1) > 0) (1.0 - p00) * sm1(t + 1) / p1s(t + 1) else 0.0)
            sm0(t) = f0s(t) * a0
            val a1 = (if (p0s(t + 1) > 0) (1.0 - p11) * sm0(t + 1) / p0s(t + 1) else 0.0) +
              (if (p1s(t + 1) > 0) p11 * sm1(t + 1) / p1s(t + 1) else 0.0)
            sm1(t) = (1.0 - f0s(t)) * a1
            t -= 1
          }
          // M-step
          var num00 = 0.0; var num11 = 0.0; var den0 = 0.0; var den1 = 0.0
          t = 0
          while (t < n - 1) {
            if (p0s(t + 1) > 0) num00 += f0s(t) * p00 * sm0(t + 1) / p0s(t + 1)
            if (p1s(t + 1) > 0) num11 += (1.0 - f0s(t)) * p11 * sm1(t + 1) / p1s(t + 1)
            den0 += sm0(t); den1 += sm1(t)
            t += 1
          }
          val nP00 = if (den0 > 0) num00 / den0 else 1.0
          val nP11 = if (den1 > 0) num11 / den1 else 1.0
          var mn0 = 0.0; var md0 = 0.0
          t = 0
          while (t < n) { mn0 += sm0(t) * y(t); md0 += sm0(t); t += 1 }
          var mn1 = 0.0; var md1 = 0.0
          t = 0
          while (t < n) { mn1 += sm1(t) * y(t); md1 += sm1(t); t += 1 }
          val nMu0 = if (md0 > 0) mn0 / md0 else mu0
          val nMu1 = if (md1 > 0) mn1 / md1 else mu1
          var ssum = 0.0
          t = 0
          while (t < n) {
            // acc + (term0 + term1): associates exactly like the
            // oracle's per-t fold element
            ssum += sm0(t) * (y(t) - nMu0) * (y(t) - nMu0) +
              sm1(t) * (y(t) - nMu1) * (y(t) - nMu1)
            t += 1
          }
          val nS2 = math.max(ssum / n, 1e-12)
          p00 = q6(nP00); p11 = q6(nP11)
          mu0 = q6(nMu0); mu1 = q6(nMu1); s2 = q6(nS2)
          out += EmTraceRow(g, f, r, q6(ll), p00, p11, mu0, mu1, s2)
          r += 1
        }
        out.result().iterator
      }
    }.orderBy("feature", "group_key", "round")
  }

  /** Per-(group × feature) k-regime fit over the melted panel, k ≥ 2
    * (`kRegimes`, default 2 — the reference's golden-run shape, whose
    * tabular output is 2-regime only). Columns: group_key, feature,
    * `regime_j_prob` (j = 1..k), regime_switches, regime_switches_true,
    * log_likelihood, aic, bic, `pjj` (j = 0..k−1), `mu_j` (j = 1..k),
    * sigma2. Each series is fit in date order (see
    * [[graft.core.Panel.perSeries]]); series with fewer than `minLen`
    * finite points are skipped (`:724-726`); failed fits warn-and-skip in
    * the reference — here they emit null metrics. The smoothed state at t
    * is the most probable regime, the lowest index on ties. */
  def regimeDetection(melted: DataFrame, kRegimes: Int = 2, minLen: Int = 20): DataFrame = {
    require(kRegimes >= 2, s"need at least 2 regimes, got $kRegimes")
    import org.apache.spark.sql.types._
    val k = kRegimes
    val schema = StructType(
      Seq(StructField("group_key", StringType), StructField("feature", StringType)) ++
        (1 to k).map(j => StructField(s"regime_${j}_prob", DoubleType)) ++
        Seq(StructField("regime_switches", IntegerType),
          StructField("regime_switches_true", IntegerType),
          StructField("log_likelihood", DoubleType),
          StructField("aic", DoubleType), StructField("bic", DoubleType)) ++
        (0 until k).map(j => StructField(s"p$j$j", DoubleType)) ++
        (1 to k).map(j => StructField(s"mu_$j", DoubleType)) :+
        StructField("sigma2", DoubleType))
    val nullTail = Seq.fill(schema.length - 2)(null)
    Panel.perSeries(melted, minLen, Encoders.row(schema)) { (g, f, y) =>
      try {
        val ft = fit(y, k)
        val n = y.length
        val kParams = k * (k - 1) + k + 1 // transitions + means + variance
        val aic = 2.0 * kParams - 2.0 * ft.llf
        val bic = math.log(n.toDouble) * kParams - 2.0 * ft.llf
        val probs = Array.tabulate(k)(j => ft.smoothed.map(_(j)).sum / n)
        // quirk R2: per-regime date-of-max, count of consecutive diffs
        val tmax = Array.tabulate(k)(j =>
          ft.smoothed.map(_(j)).zipWithIndex.maxBy(v => (v._1, -v._2))._2)
        val switchesQuirk = (1 until k).count(i => tmax(i) != tmax(i - 1))
        val states = ft.smoothed.map(r => r.zipWithIndex.maxBy(v => (v._1, -v._2))._2)
        val switchesTrue = (1 until n).count(t => states(t) != states(t - 1))
        val vals: Seq[Any] =
          Seq[Any](g, f) ++ probs.toSeq ++
            Seq[Any](switchesQuirk, switchesTrue, ft.llf, aic, bic) ++
            (0 until k).map(j => ft.p(j)(j)) ++ ft.mu.toSeq :+ ft.sigma2
        Iterator.single(Row(vals: _*))
      } catch {
        case NonFatal(_) => Iterator.single(Row(Seq[Any](g, f) ++ nullTail: _*))
      }
    }.orderBy("feature", "group_key")
  }
}
