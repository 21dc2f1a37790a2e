package graft.ops

import breeze.linalg.DenseVector
import breeze.optimize.{DiffFunction, LBFGS}
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Encoders}
import graft.core.Panel

/** K10 — volatility analysis (time_series_study.py:780-879): the three
  * model types the reference's API accepts, as constant-mean Gaussian MLE:
  *
  *   GARCH(1,1):      σ²_t = ω + α·ε²_{t−1} + β·σ²_{t−1}
  *   GJR-GARCH(1,1,1): σ²_t = ω + (α + γ·1[ε<0])·ε²_{t−1} + β·σ²_{t−1}
  *   EGARCH(1,1,1):   ln σ²_t = ω + β·ln σ²_{t−1} + α(|z|−√(2/π)) + γ·z
  *
  * L-BFGS on transformed parameters (positivity/stationarity enforced by
  * softmax/tanh maps); σ²_0 is the EWMA backcast (λ=0.94, ≤75 obs), the
  * arch package's convention. The reference's recorded GARCH run produced
  * an empty table (SURVEY §2.9 Q4), so parity is validated by parameter
  * recovery on synthetic series with known (ω, α, β[, γ]).
  *
  * persistence replicates the reference's string-match over param names
  * ('alpha'/'beta' only, `:838-842`) — GJR's γ is deliberately excluded,
  * exactly like the reference.
  */
object Garch {

  /** Breeze's L-BFGS logs every line-search retry at ERROR through slf4j.
    * The fits guard non-convergence themselves (penalty bowl here; best-llf
    * fallback in Regimes.polish), so the retries are expected noise on
    * near-flat objectives — mute the logger once per JVM. This is a global
    * config mutation a host application may not want (it also hides that
    * application's own Breeze diagnostics): set
    * `-Dgraft.muteBreezeLogs=false` to keep the logger untouched. */
  private[ops] lazy val muteBreezeOptimizerLogs: Unit =
    if (sys.props.getOrElse("graft.muteBreezeLogs", "true") != "false")
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        "breeze.optimize", org.apache.logging.log4j.Level.OFF)
      catch { case _: Throwable => () }

  final case class GarchFit(
      model: String, mu: Double, omega: Double, alpha: Double, beta: Double,
      gamma: Double, llf: Double, condVol: Array[Double]) {
    /** reference quirk: only alpha+beta, never gamma (`:838-842`) */
    def persistence: Double = alpha + beta
    def nParams: Int = if (model == "GARCH") 4 else 5
  }

  private def backcast(e2: Array[Double]): Double = {
    val m = math.min(75, e2.length)
    val lam = 0.94
    var wsum = 0.0
    var s = 0.0
    var i = 0
    while (i < m) { val w = math.pow(lam, i); wsum += w; s += w * e2(i); i += 1 }
    s / wsum
  }

  /** θ → (μ, ω, α, β, γ) under the model's constraint map. */
  private def untransform(model: String, th: DenseVector[Double]): (Double, Double, Double, Double, Double) =
    model match {
      case "GARCH" =>
        val (ea, eb) = (math.exp(th(2)), math.exp(th(3)))
        val d = 1.0 + ea + eb
        (th(0), math.exp(th(1)), ea / d, eb / d, 0.0)
      case "GJR-GARCH" =>
        // arch-package constraint set: α ≥ 0, β ≥ 0, α+γ ≥ 0, α+β+γ/2 < 1
        // (γ MAY be negative — inverse leverage). Parametrize the composite
        // α' = α+γ/2 via softmax with β, then split α = 2α'·sigmoid(u):
        // α ∈ (0, 2α') ⇒ γ = 2(α'−α) ∈ (−2α', 2α') with α+γ = 2α'−α ≥ 0.
        val (ea, eb) = (math.exp(th(2)), math.exp(th(3)))
        val d = 1.0 + ea + eb
        val aPrime = ea / d
        val alpha = 2.0 * aPrime / (1.0 + math.exp(-th(4)))
        (th(0), math.exp(th(1)), alpha, eb / d, 2.0 * (aPrime - alpha))
      case "EGARCH" =>
        (th(0), th(1), th(2), math.tanh(th(3)), th(4)) // ω, α, γ free; |β|<1
      case m => throw new IllegalArgumentException(s"Unknown model type: $m")
    }

  /** Conditional variance path at the given parameters. */
  private def variancePath(model: String, y: Array[Double],
      mu: Double, omega: Double, alpha: Double, beta: Double, gamma: Double): Array[Double] = {
    val n = y.length
    val e = y.map(_ - mu)
    val e2 = e.map(v => v * v)
    val out = new Array[Double](n)
    val bc = backcast(e2)
    if (model == "EGARCH") {
      var ls2 = math.log(math.max(bc, 1e-300))
      val c = math.sqrt(2.0 / math.Pi)
      var t = 0
      while (t < n) {
        if (t > 0) {
          val s2prev = math.exp(ls2)
          val z = e(t - 1) / math.sqrt(s2prev)
          ls2 = omega + beta * ls2 + alpha * (math.abs(z) - c) + gamma * z
        }
        out(t) = math.exp(ls2)
        t += 1
      }
    } else {
      var s2 = bc
      var t = 0
      while (t < n) {
        if (t > 0) {
          val lev = if (model == "GJR-GARCH" && e(t - 1) < 0) gamma else 0.0
          s2 = omega + (alpha + lev) * e2(t - 1) + beta * s2
        }
        out(t) = s2
        t += 1
      }
    }
    out
  }

  /** Weighted mean of ε over the backcast window (needed for ∂bc/∂μ). */
  private def backcastDMu(e: Array[Double]): Double = {
    val m = math.min(75, e.length)
    val lam = 0.94
    var wsum = 0.0
    var s = 0.0
    var i = 0
    while (i < m) { val w = math.pow(lam, i); wsum += w; s += w * e(i); i += 1 }
    -2.0 * s / wsum
  }

  /** Out-of-domain / overflow fallback: a large convex bowl whose gradient
    * points back toward the origin of the transformed space. A flat 1e12
    * plateau (the finite-difference era) gave L-BFGS a zero direction and
    * produced endless "line search zoom failed" retries; the bowl gives the
    * line search something to descend. */
  private def penalty(th: DenseVector[Double]): (Double, DenseVector[Double]) =
    (1e10 * (1.0 + (th dot th)), th * 2e10)

  /** NLL and its analytic gradient in transformed coordinates.
    *
    * Gradient structure: per-observation dNLL/dσ²_t = 0.5(1/σ²_t −
    * ε²_t/σ⁴_t) composed with the variance recursion's sensitivity
    * ∂σ²_t/∂p, carried forward as 5 scalar states (p ∈ μ,ω,α,β,γ) — the
    * same O(n) pass as the likelihood itself, vs 2·dim extra full
    * likelihood evaluations per L-BFGS step for finite differences. The
    * backcast σ²₀ depends on μ, so ∂σ²₀/∂μ seeds the recursion. EGARCH
    * propagates ∂ln σ²_t instead (z_{t−1} = ε e^{−L/2} couples the state
    * through both ε and L). Indicator/|z| kinks use a.e. derivatives. The
    * chain to transformed coordinates multiplies the constraint-map
    * Jacobian (softmax / sigmoid-split / tanh). */
  private[graft] def nllGrad(model: String, y: Array[Double])(
      th: DenseVector[Double]): (Double, DenseVector[Double]) = {
    val (mu, omega, alpha, beta, gamma) =
      try untransform(model, th)
      catch { case NonFatal(_) => return penalty(th) }
    val n = y.length
    val e = new Array[Double](n)
    val e2 = new Array[Double](n)
    var t = 0
    while (t < n) { e(t) = y(t) - mu; e2(t) = e(t) * e(t); t += 1 }
    val bc = backcast(e2)
    val dbcDmu = backcastDMu(e)

    var nllAcc = 0.0
    // gradient wrt the UNTRANSFORMED (μ, ω, α, β, γ)
    val g = new Array[Double](5)

    if (model == "EGARCH") {
      val c = math.sqrt(2.0 / math.Pi)
      var l = math.log(math.max(bc, 1e-300))
      val dl = new Array[Double](5)
      if (bc > 1e-300) dl(0) = dbcDmu / bc
      t = 0
      while (t < n) {
        val s2 = math.exp(l)
        if (s2 <= 0 || s2.isNaN || s2.isInfinite) return penalty(th)
        val zt = e(t) / math.sqrt(s2)
        nllAcc += 0.5 * (math.log(2.0 * math.Pi) + l + zt * zt)
        val w = 0.5 * (1.0 - zt * zt)
        var j = 0
        while (j < 5) { g(j) += w * dl(j); j += 1 }
        g(0) -= e(t) / s2
        if (t + 1 < n) {
          val sg = math.signum(zt)
          val coef = alpha * sg + gamma
          val a = beta - coef * zt / 2.0
          val newL = omega + beta * l + alpha * (math.abs(zt) - c) + gamma * zt
          val nd = new Array[Double](5)
          nd(0) = a * dl(0) + coef * (-1.0 / math.sqrt(s2))
          nd(1) = 1.0 + a * dl(1)
          nd(2) = (math.abs(zt) - c) + a * dl(2)
          nd(3) = l + a * dl(3)
          nd(4) = zt + a * dl(4)
          System.arraycopy(nd, 0, dl, 0, 5)
          l = newL
        }
        t += 1
      }
    } else {
      var s2 = bc
      val ds = new Array[Double](5)
      ds(0) = dbcDmu
      t = 0
      while (t < n) {
        if (s2 <= 0 || s2.isNaN || s2.isInfinite) return penalty(th)
        nllAcc += 0.5 * (math.log(2.0 * math.Pi) + math.log(s2) + e2(t) / s2)
        val w = 0.5 * (1.0 / s2 - e2(t) / (s2 * s2))
        var j = 0
        while (j < 5) { g(j) += w * ds(j); j += 1 }
        g(0) -= e(t) / s2
        if (t + 1 < n) {
          val neg = model == "GJR-GARCH" && e(t) < 0
          val lev = if (neg) gamma else 0.0
          val nd = new Array[Double](5)
          nd(0) = -2.0 * (alpha + lev) * e(t) + beta * ds(0)
          nd(1) = 1.0 + beta * ds(1)
          nd(2) = e2(t) + beta * ds(2)
          nd(3) = s2 + beta * ds(3)
          nd(4) = (if (neg) e2(t) else 0.0) + beta * ds(4)
          System.arraycopy(nd, 0, ds, 0, 5)
          s2 = omega + (alpha + lev) * e2(t) + beta * s2
        }
        t += 1
      }
    }
    if (nllAcc.isNaN || nllAcc.isInfinite) return penalty(th)

    // chain through the constraint-map Jacobian to θ
    val gth = DenseVector.zeros[Double](th.length)
    model match {
      case "GARCH" =>
        gth(0) = g(0)
        gth(1) = g(1) * omega
        gth(2) = g(2) * alpha * (1.0 - alpha) - g(3) * alpha * beta
        gth(3) = -g(2) * alpha * beta + g(3) * beta * (1.0 - beta)
      case "GJR-GARCH" =>
        // α = 2aP·s(u), γ = 2aP(1−2s(u)), aP = α + γ/2 softmaxed with β
        val aP = (2.0 * alpha + gamma) / 2.0
        val s = if (aP > 0) alpha / (2.0 * aP) else 0.5
        val gAP = g(2) * 2.0 * s + g(4) * 2.0 * (1.0 - 2.0 * s)
        gth(0) = g(0)
        gth(1) = g(1) * omega
        gth(2) = gAP * aP * (1.0 - aP) - g(3) * aP * beta
        gth(3) = -gAP * aP * beta + g(3) * beta * (1.0 - beta)
        gth(4) = (g(2) - 2.0 * g(4)) * 2.0 * aP * s * (1.0 - s)
      case "EGARCH" =>
        gth(0) = g(0)
        gth(1) = g(1)
        gth(2) = g(2)
        gth(3) = g(3) * (1.0 - beta * beta)
        gth(4) = g(4)
    }
    (nllAcc, gth)
  }

  /** NLL at explicit untransformed parameters — the exact objective the MLE
    * minimizes (backcast + variancePath + Gaussian accumulation). Public to
    * graft so the SQL-oracle core query can pin its arithmetic per round. */
  private[graft] def nllAt(model: String, y: Array[Double],
      mu: Double, omega: Double, alpha: Double, beta: Double, gamma: Double): Double = {
    val s2s = variancePath(model, y, mu, omega, alpha, beta, gamma)
    var ll = 0.0
    var t = 0
    while (t < y.length) {
      val s2 = s2s(t)
      if (s2 <= 0 || s2.isNaN || s2.isInfinite) return 1e12
      val e = y(t) - mu
      ll += -0.5 * (math.log(2.0 * math.Pi) + math.log(s2) + e * e / s2)
      t += 1
    }
    if (ll.isNaN) 1e12 else -ll
  }

  private def nll(model: String, y: Array[Double])(th: DenseVector[Double]): Double = {
    val (mu, omega, alpha, beta, gamma) =
      try untransform(model, th)
      catch { case NonFatal(_) => return 1e12 }
    nllAt(model, y, mu, omega, alpha, beta, gamma)
  }

  /** MLE fit for the given model type.
    *
    * NOTE (global side effect): the first fit in a JVM silences the
    * `breeze.optimize` log4j logger — its line-search retries are expected
    * noise on near-flat objectives, but the muting is JVM-wide and also
    * hides a host application's own Breeze diagnostics. Set
    * `-Dgraft.muteBreezeLogs=false` before the first fit to keep the
    * logger untouched. */
  def fit(y: Array[Double], model: String = "GARCH"): GarchFit = {
    muteBreezeOptimizerLogs
    val n = y.length
    val mean = y.sum / n
    val variance = y.map(v => (v - mean) * (v - mean)).sum / n
    val (a0, b0) = (0.05, 0.85)
    val start = model match {
      case "GARCH" => DenseVector(
        mean, math.log(math.max(variance * (1.0 - a0 - b0), 1e-12)),
        math.log(a0 / (1.0 - a0 - b0)), math.log(b0 / (1.0 - a0 - b0)))
      case "GJR-GARCH" =>
        val g0 = 0.02
        val aPrime0 = a0 + g0 / 2
        val rest = 1.0 - aPrime0 - b0
        val frac = a0 / (2.0 * aPrime0) // sigmoid(u) target
        DenseVector(mean, math.log(math.max(variance * rest, 1e-12)),
          math.log(aPrime0 / rest), math.log(b0 / rest),
          math.log(frac / (1.0 - frac)))
      case "EGARCH" => DenseVector(
        mean, math.log(math.max(variance, 1e-12)) * (1.0 - 0.9), 0.1,
        0.5 * math.log((1 + 0.9) / (1 - 0.9)), 0.0) // atanh(0.9)
      case m => throw new IllegalArgumentException(s"Unknown model type: $m")
    }
    val f = new DiffFunction[DenseVector[Double]] {
      def calculate(th: DenseVector[Double]): (Double, DenseVector[Double]) =
        nllGrad(model, y)(th)
    }
    val lbfgs = new LBFGS[DenseVector[Double]](maxIter = 500, m = 7, tolerance = 1e-9)
    val opt = lbfgs.minimize(f, start)
    val (mu, omega, alpha, beta, gamma) = untransform(model, opt)
    val vol = variancePath(model, y, mu, omega, alpha, beta, gamma).map(math.sqrt)
    GarchFit(model, mu, omega, alpha, beta, gamma, -nll(model, y)(opt), vol)
  }

  case class GradTraceRow(
      group_key: String, feature: String, round: Int, nll: Double,
      g_mu: Double, g_lnomega: Double, g_logita: Double, g_logitb: Double)

  /** K10 gradient trajectory in replay form (round 13 — the emTrace
    * recipe applied to the MLE's other half): from the production GARCH
    * start θ₀ = (mean, ln(var·0.1 ∨ 1e-12), ln(.05/.1), ln(.85/.1)),
    * evaluate the PRODUCTION analytic objective-and-gradient
    * [[nllGrad]] — the exact `DiffFunction` L-BFGS consumes, including
    * the μ-sensitive EWMA backcast seed and the constraint-map chain
    * rule — at `rounds` successive points chained by a deterministic
    * ∞-norm-clipped step θ ← θ − η·∇/max(1, ‖∇‖∞), with θ 1e-6-canonized
    * at round boundaries (the emTrace lockstep convention). Emits each
    * round's NLL and all four transformed-coordinate gradient
    * components; a DuckDB oracle replays the full forward sensitivity
    * recursion, so any drift in the likelihood OR its gradient breaks
    * the row. This is a gradient-machinery probe, not a descent claim —
    * the step rule only pins round 2's evaluation point. */
  def gradTrace(melted: DataFrame, rounds: Int = 2, eta: Double = 0.05,
      minLen: Int = 50): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    Panel.perSeries(melted, minLen, Encoders.product[GradTraceRow]) { (g, f, y) =>
      val n = y.length
      def q6(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
      val mean = y.sum / n
      val varp = y.map(v => (v - mean) * (v - mean)).sum / n
      // Degenerate constant series (varp = 0): the EWMA backcast seeds
      // sigma2 = 0 and nllGrad lands in its 1e10 penalty bowl while a
      // SQL mirror computes ln(0) — skip, the emTrace varp>0 convention.
      if (varp <= 0.0) Iterator.empty
      else {
        val th = DenseVector(
          q6(mean),
          q6(math.log(math.max(varp * (1.0 - 0.05 - 0.85), 1e-12))),
          q6(math.log(0.05 / (1.0 - 0.05 - 0.85))),
          q6(math.log(0.85 / (1.0 - 0.05 - 0.85))))
        val out = Array.newBuilder[GradTraceRow]
        var r = 1
        while (r <= rounds) {
          val (nllV, gth) = nllGrad("GARCH", y)(th)
          out += GradTraceRow(g, f, r, q6(nllV),
            q6(gth(0)), q6(gth(1)), q6(gth(2)), q6(gth(3)))
          val m = math.max(math.max(math.max(math.max(1.0,
            math.abs(gth(0))), math.abs(gth(1))), math.abs(gth(2))), math.abs(gth(3)))
          var j = 0
          while (j < 4) { th(j) = q6(th(j) - eta * gth(j) / m); j += 1 }
          r += 1
        }
        out.result().iterator
      }
    }.orderBy("feature", "group_key", "round")
  }

  case class VolRow(
      group_key: String, feature: String, model_type: String,
      log_likelihood: Option[Double], aic: Option[Double], bic: Option[Double],
      avg_volatility: Option[Double], vol_std: Option[Double],
      vol_skew: Option[Double], vol_kurt: Option[Double],
      persistence: Option[Double])

  /** Pandas-parity sample moments of a local array (G1/G2 corrections). */
  private def sampleMoments(x: Array[Double]): (Double, Double, Double, Double) = {
    val n = x.length.toDouble
    val mean = x.sum / n
    val m2 = x.map(v => (v - mean) * (v - mean)).sum / n
    val m3 = x.map(v => math.pow(v - mean, 3)).sum / n
    val m4 = x.map(v => math.pow(v - mean, 4)).sum / n
    val std = math.sqrt(m2 * n / (n - 1))
    val g1 = m3 / math.pow(m2, 1.5)
    val g2 = m4 / (m2 * m2) - 3.0
    val skew = g1 * math.sqrt(n * (n - 1)) / (n - 2)
    val kurt = (n - 1) / ((n - 2) * (n - 3)) * ((n + 1) * g2 + 6.0)
    (mean, std, skew, kurt)
  }

  case class GarchCoreRow(
      group_key: String, feature: String, n: Long,
      garch_nll0: Double, gjr_nll0: Double, egarch_nll0: Double)

  /** K10 hard-oracle core: NLL of each model evaluated at the optimizer's
    * deterministic starting parameters (μ = sample mean; ω/α/β/γ = the
    * `fit` start point in untransformed coordinates). Exercises the exact
    * likelihood machinery the MLE minimizes — EWMA backcast, all three
    * variance recursions, Gaussian accumulation — at parameter values a
    * DuckDB oracle can reproduce (the recursions fold via `list_reduce`).
    * The data-dependent optimum itself stays pinned by the parameter-
    * recovery ScalaTests. */
  def nllCores(melted: DataFrame, minLen: Int = 50): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[GarchCoreRow]) { (g, f, y) =>
      val n = y.length
      val mean = y.sum / n
      val vp = y.map(v => (v - mean) * (v - mean)).sum / n
      val garch = nllAt("GARCH", y, mean,
        math.max(0.10 * vp, 1e-12), 0.05, 0.85, 0.0)
      val gjr = nllAt("GJR-GARCH", y, mean,
        math.max(0.09 * vp, 1e-12), 0.05, 0.85, 0.02)
      val eg = nllAt("EGARCH", y, mean,
        0.1 * math.log(math.max(vp, 1e-12)), 0.1, 0.9, 0.0)
      Iterator.single(GarchCoreRow(g, f, n.toLong, garch, gjr, eg))
    }.orderBy("feature", "group_key")

  /** Per-(group × feature) volatility summary for the chosen model type;
    * series < minLen skipped (`:818-820`); failed fits emit null metrics. */
  def volatilityAnalysis(melted: DataFrame, modelType: String = "GARCH", minLen: Int = 50): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[VolRow]) { (g, f, y) =>
      try {
        val ft = fit(y, modelType)
        val n = y.length
        val k = ft.nParams
        val (vm, vs, vsk, vk) = sampleMoments(ft.condVol)
        Iterator.single(VolRow(g, f, modelType,
          Some(ft.llf), Some(2.0 * k - 2.0 * ft.llf),
          Some(math.log(n.toDouble) * k - 2.0 * ft.llf),
          Some(vm), Some(vs), Some(vsk), Some(vk),
          Some(ft.persistence)))
      } catch {
        case NonFatal(_) =>
          Iterator.single(VolRow(g, f, modelType, None, None, None, None, None, None, None, None))
      }
    }.orderBy("feature", "group_key")
}
