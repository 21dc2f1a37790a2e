package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Encoders}
import graft.core.Panel
import graft.ops.stat.{MacKinnon, Stats}

/** K1/K2 — ADF and KPSS stationarity tests (time_series_study.py:183-245).
  *
  * Semantics replicate the standard econometrics-package defaults the
  * reference calls into:
  *   - ADF: autolag by AIC over 0..maxlag with Schwert's rule
  *     maxlag = min(⌈12·(n/100)^¼⌉, n/2 − ntrend − 1); all candidate models
  *     share the maxlag-trimmed sample; the chosen lag refits on its own
  *     longer sample; stat = t on the lagged level; p = MacKinnon surface.
  *   - KPSS: demean ('c') / detrend ('ct') residuals; Bartlett-kernel
  *     long-run variance with the Hobijn et al. automatic bandwidth;
  *     p interpolated in the published critical-value table, naturally
  *     clipped to [0.01, 0.10].
  *
  * Kernels run per (group × feature) through [[graft.core.Panel.perSeries]]:
  * one shuffle, then each series in full-precision date order (a null
  * date first, ties by value). Series are panel-small so local dense OLS
  * is appropriate, and parallelism scales with group count (the 100 TB
  * axis).
  */
object UnitRoots {

  /** ADF test statistic, p-value and used lag. regression ∈ {"n","c","ct"}.
    * `maxlagOverride` pins the lag search upper bound (e.g. Some(0) forces
    * the no-augmentation Dickey–Fuller regression — SQL-oracle-friendly);
    * default is Schwert's rule. */
  def adfuller(x: Array[Double], regression: String = "c",
      maxlagOverride: Option[Int] = None): (Double, Double, Int) = {
    val n0 = x.length
    val ntrend = regression match { case "n" => 0; case "c" => 1; case "ct" => 2 }
    var maxlag = maxlagOverride.getOrElse(
      math.ceil(12.0 * math.pow(n0 / 100.0, 0.25)).toInt)
    maxlag = math.min(n0 / 2 - ntrend - 1, maxlag)
    require(maxlag >= 0, s"series too short for ADF: n=$n0")
    val xdiff = Array.tabulate(n0 - 1)(i => x(i + 1) - x(i))

    def det(nobs: Int): Seq[Array[Double]] = regression match {
      case "n" => Seq()
      case "c" => Seq(Stats.ones(nobs))
      case "ct" => Seq(Stats.ones(nobs), Array.tabulate(nobs)(i => (i + 1).toDouble))
    }

    // autolag: all candidates on the maxlag-trimmed sample
    val nobsA = n0 - 1 - maxlag
    val endogA = xdiff.slice(maxlag, n0 - 1)
    val levelA = x.slice(maxlag, n0 - 1)
    val dlagsA = (1 to maxlag).map(j => xdiff.slice(maxlag - j, n0 - 1 - j))
    val detA = det(nobsA)
    var bestLag = 0
    var bestAic = Double.PositiveInfinity
    var l = 0
    while (l <= maxlag) {
      val cols = (detA ++ Seq(levelA) ++ dlagsA.take(l)).toArray
      val aic = Stats.ols(endogA, cols).aic
      if (aic < bestAic) { bestAic = aic; bestLag = l } // ties keep smaller lag
      l += 1
    }

    // refit at bestLag on the bestLag-trimmed (longer) sample
    val nobs = n0 - 1 - bestLag
    val endog = xdiff.slice(bestLag, n0 - 1)
    val level = x.slice(bestLag, n0 - 1)
    val dlags = (1 to bestLag).map(j => xdiff.slice(bestLag - j, n0 - 1 - j))
    val detF = det(nobs)
    val cols = (detF ++ Seq(level) ++ dlags).toArray
    val fit = Stats.ols(endog, cols)
    val stat = fit.tstat(detF.length) // coefficient on the lagged level
    val p = MacKinnon.p(stat, regression, 1)
    (stat, p, bestLag)
  }

  /** KPSS statistic, table-interpolated p, and the Bartlett bandwidth
    * actually used. regression ∈ {"c","ct"}. `nlagsOverride` pins the
    * bandwidth (SQL-oracle-friendly: a fixed-lag Bartlett long-run
    * variance is closed-form covariance algebra); default is the Hobijn
    * et al. automatic rule. */
  def kpss(x: Array[Double], regression: String = "c",
      nlagsOverride: Option[Int] = None): (Double, Double, Int) = {
    val n = x.length
    val resids: Array[Double] =
      if (regression == "ct") {
        val t = Array.tabulate(n)(i => (i + 1).toDouble)
        Stats.ols(x, Array(Stats.ones(n), t)).resid.toArray
      } else {
        val mu = x.sum / n
        x.map(_ - mu)
      }

    // Hobijn et al. automatic bandwidth (unless pinned by the caller)
    val nlags = nlagsOverride match {
      case Some(l) =>
        require(l >= 0 && l < n, s"nlags must be in [0, n), got $l for n=$n")
        l
      case None =>
        val covlags = math.pow(n, 2.0 / 9.0).toInt
        var s0 = resids.map(r => r * r).sum / n
        var s1 = 0.0
        var i = 1
        while (i <= covlags) {
          val rp = Stats.dot(resids.drop(i), resids, n - i) / (n / 2.0)
          s0 += rp
          s1 += i * rp
          i += 1
        }
        val sHat = s1 / s0
        val gammaHat = 1.1447 * math.pow(sHat * sHat, 1.0 / 3.0)
        math.min((gammaHat * math.pow(n, 1.0 / 3.0)).toInt, n - 1)
    }

    // Bartlett-weighted long-run variance + statistic
    var lrv = resids.map(r => r * r).sum
    var i = 1
    while (i <= nlags) {
      lrv += 2.0 * Stats.dot(resids.drop(i), resids, n - i) * (1.0 - i / (nlags + 1.0))
      i += 1
    }
    lrv /= n
    var cum = 0.0
    var eta = 0.0
    resids.foreach { r => cum += r; eta += cum * cum }
    eta /= n.toDouble * n
    val stat = eta / lrv

    val (crit, pvals) =
      if (regression == "ct") (Array(0.119, 0.146, 0.176, 0.216), Array(0.10, 0.05, 0.025, 0.01))
      else (Array(0.347, 0.463, 0.574, 0.739), Array(0.10, 0.05, 0.025, 0.01))
    (stat, Stats.interp(stat, crit, pvals), nlags)
  }

  case class UnitRootStatRow(
      group_key: String,
      feature: String,
      kpss_stat: Option[Double],
      kpss_nlags: Option[Int],
      adf_lag0_stat: Option[Double])

  /** SQL-oracle-friendly per-series stats: the KPSS statistic (and its
    * automatic bandwidth) plus the lag-0 Dickey–Fuller t — both closed-form
    * window/aggregate arithmetic, so DuckDB can pin the OLS/t-stat and
    * Bartlett-long-run-variance machinery per round (p-values stay in the
    * kernel: MacKinnon surface / table interpolation are not the risky
    * parts). */
  def unitRootStats(melted: DataFrame, minLen: Int = 10): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[UnitRootStatRow]) { (g, f, x) =>
      val (ks, kl) =
        try { val (s, _, nl) = kpss(x, "c"); (Some(s), Some(nl)) }
        catch { case NonFatal(_) => (None, None) }
      val as =
        try { val (s, _, _) = adfuller(x, "c", maxlagOverride = Some(0)); Some(s) }
        catch { case NonFatal(_) => None }
      Iterator.single(UnitRootStatRow(g, f, ks, kl, as))
    }.orderBy("feature", "group_key")

  case class KpssCtRow(
      group_key: String,
      feature: String,
      kpss_ct_stat: Option[Double],
      kpss_ct_p: Option[Double])

  /** K2 hard-oracle probe of the DETRENDED ('ct') KPSS branch at a pinned
    * Bartlett bandwidth — the one unit-root path `unitRootStats` doesn't
    * oracle (its KPSS is the demeaned 'c' variant with automatic
    * bandwidth). With nlags fixed, every piece is closed-form covariance
    * algebra a DuckDB oracle can replay: OLS-on-(1,t) residuals, the
    * Bartlett-weighted long-run variance, the partial-sum eta statistic,
    * and the published-table linear interpolation for p (naturally clipped
    * to [0.01, 0.10]). Runs through the same `kpss` kernel code path via
    * `nlagsOverride`, so greening this row pins the production code.
    * Reference semantics: time_series_study.py:212-214. */
  def kpssCtStats(melted: DataFrame, nlags: Int = 4, minLen: Int = 10): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[KpssCtRow]) { (g, f, x) =>
      val (st, p) =
        try { val (s, pv, _) = kpss(x, "ct", nlagsOverride = Some(nlags)); (Some(s), Some(pv)) }
        catch { case NonFatal(_) => (None, None) }
      Iterator.single(KpssCtRow(g, f, st, p))
    }.orderBy("feature", "group_key")

  case class AdfAutolagRow(
      group_key: String,
      feature: String,
      adf_al1_stat: Option[Double],
      adf_al1_lag: Option[Int])

  /** K1 hard-oracle probe of the AUTOLAG mechanism at maxlag = 1: the AIC
    * race between the lag-0 and lag-1 models on the shared trimmed sample,
    * then the refit of the winner on its own sample — i.e. `adfuller`'s
    * actual selection logic, exercised through the same code path
    * (`maxlagOverride = Some(1)`), every piece of which (OLS ssr, the
    * Gaussian llf/AIC formula, the augmented-regression t) is closed-form
    * covariance algebra a DuckDB oracle can replay. */
  def adfAutolag1Stats(melted: DataFrame, minLen: Int = 10): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[AdfAutolagRow]) { (g, f, x) =>
      val (st, lg) =
        try { val (s, _, l) = adfuller(x, "c", maxlagOverride = Some(1)); (Some(s), Some(l)) }
        catch { case NonFatal(_) => (None, None) }
      Iterator.single(AdfAutolagRow(g, f, st, lg))
    }.orderBy("feature", "group_key")

  case class StationarityRow(
      group_key: String,
      feature: String,
      adf_stat: Option[Double],
      adf_p: Option[Double],
      kpss_stat: Option[Double],
      kpss_p: Option[Double])

  /** Per-(group × feature) ADF + KPSS over the melted panel; series shorter
    * than `minLen` emit nothing (time_series_study.py:205); per-series
    * failures yield null stats (`:209-214`).
    *
    * `maxlagOverride` pins the ADF autolag search bound (passed through to
    * [[adfuller]]); at Some(1) every emitted quantity — the AIC race, the
    * winning regression's t, the MacKinnon surface p, the automatic-
    * bandwidth KPSS statistic and its table-interpolated p — is closed-form
    * and DuckDB-replayable, which is how q_stationarity_core_events
    * hash-oracles this full production path per round. */
  def stationarityTests(melted: DataFrame, regression: String = "c", minLen: Int = 10,
      maxlagOverride: Option[Int] = None): DataFrame =
    Panel.perSeries(melted, minLen, Encoders.product[StationarityRow]) { (g, f, x) =>
      val (as, ap) =
        try { val (s, p, _) = adfuller(x, regression, maxlagOverride); (Some(s), Some(p)) }
        catch { case NonFatal(_) => (None, None) }
      val (ks, kp) =
        try { val (s, p, _) = kpss(x, regression); (Some(s), Some(p)) }
        catch { case NonFatal(_) => (None, None) }
      Iterator.single(StationarityRow(g, f, as, ap, ks, kp))
    }.orderBy("feature", "group_key")
}
