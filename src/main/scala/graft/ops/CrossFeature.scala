package graft.ops

import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.core.Panel
import graft.ops.stat.{MacKinnon, Stats}

/** K6/K7 — Engle–Granger cointegration and Granger causality per
  * (group × feature-pair) (time_series_study.py:607-625).
  *
  *   - coint (statsmodels defaults trend='c', autolag AIC): OLS y0 on
  *     [y1, const]; ADF with NO deterministic terms on the residuals;
  *     p from the MacKinnon N=2 "c" response surface.
  *   - granger ssr_chi2test: for each lag L = 1..maxLag fit restricted
  *     (own lags + const) vs unrestricted (+ other's lags) OLS on the
  *     L-trimmed sample; χ² = nobs·(ssr_r − ssr_u)/ssr_u with df = L;
  *     emit the minimum p across lags (`:621-625`).
  *
  * One shuffle on group; pair enumeration is driver-side; kernels are
  * local dense OLS on panel-small aligned series.
  */
object CrossFeature {

  /** Engle–Granger step 1: OLS of y0 on [y1, const]. beta = coef(0),
    * alpha = coef(1). */
  def egFit(y0: Array[Double], y1: Array[Double]): graft.ops.stat.OlsFit =
    Stats.ols(y0, Array(y1, Stats.ones(y0.length)))

  /** (stat, p) of the Engle–Granger two-step test. */
  def coint(y0: Array[Double], y1: Array[Double]): (Double, Double) = {
    val fit = egFit(y0, y1)
    val (stat, _, _) = UnitRoots.adfuller(fit.resid.toArray, "n")
    (stat, MacKinnon.p(stat, "c", 2))
  }

  /** ssr_chi2 statistic for "b's lags help predict a" at a single lag l:
    * χ² = nobs·(ssr_restricted − ssr_unrestricted)/ssr_unrestricted on the
    * l-trimmed sample — the exact quantity grangerMinP thresholds. */
  def grangerChi2(a: Array[Double], b: Array[Double], l: Int): Double = {
    val n = a.length - l
    val endog = a.drop(l)
    val aLags = (1 to l).map(j => a.slice(l - j, a.length - j))
    val bLags = (1 to l).map(j => b.slice(l - j, b.length - j))
    val own = (aLags :+ Stats.ones(n)).toArray
    val joint = (aLags ++ bLags :+ Stats.ones(n)).toArray
    val ssrOwn = Stats.ols(endog, own).ssr
    val ssrJoint = Stats.ols(endog, joint).ssr
    n * (ssrOwn - ssrJoint) / ssrJoint
  }

  /** Minimum ssr_chi2test p over lags 1..maxLag for "b's lags help predict
    * a" (dependent = first column, matching grangercausalitytests on
    * [fa, fb]). */
  def grangerMinP(a: Array[Double], b: Array[Double], maxLag: Int): Double = {
    var minP = Double.PositiveInfinity
    var l = 1
    while (l <= maxLag) {
      val p = Stats.chi2Sf(grangerChi2(a, b, l), l)
      if (p < minP) minP = p
      l += 1
    }
    minP
  }

  /** Row order of a pair series: [[Panel.DateOrder]] (null date first,
    * sub-millisecond digits kept), then the two values. */
  private val PairOrder: Ordering[(String, java.sql.Timestamp, Double, Double)] =
    Ordering.by((r: (String, java.sql.Timestamp, Double, Double)) => (r._2, r._3, r._4))(
      Ordering.Tuple3(Panel.DateOrder, Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering))

  case class PairRow(
      group_key: String,
      pair: String,
      coint_stat: Option[Double],
      coint_p: Option[Double],
      granger_p: Option[Double])

  case class CoreRow(
      group_key: String,
      pair: String,
      eg_beta: Option[Double],
      eg_alpha: Option[Double],
      eg_df0_stat: Option[Double],
      eg_df0_p: Option[Double],
      granger_chi2_lag1: Option[Double])

  /** Deterministic, SQL-oracle-friendly cores of K6/K7 — the pieces of
    * `pairAnalysis` that don't involve a data-dependent lag search:
    * Engle–Granger step-1 OLS (alpha, beta), the lag-0 Dickey–Fuller t on
    * its residuals (regression "n", i.e. the statistic `coint` would use
    * when AIC selects lag 0), and the lag-1 Granger ssr-χ². Exercises the
    * same `egFit`/`adfuller`/`grangerChi2` code paths as the full test so
    * a DuckDB oracle pins their arithmetic per round. */
  def pairCore(
      wide: DataFrame,
      dateCol: String,
      groupCol: String,
      fa: String,
      fb: String,
      minLen: Int = 20): DataFrame = {
    val ss = wide.sparkSession
    import ss.implicits._
    val pairName = s"$fa|$fb"
    wide
      .filter(Panel.finite(col(fa)) && Panel.finite(col(fb)))
      .select(col(groupCol).cast("string"), col(dateCol), col(fa), col(fb))
      .as[(String, java.sql.Timestamp, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (g: String, it: Iterator[(String, java.sql.Timestamp, Double, Double)]) =>
        val rows = it.toArray.sorted(PairOrder)
        val a = rows.map(_._3)
        val b = rows.map(_._4)
        if (a.length < minLen) CoreRow(g, pairName, None, None, None, None, None)
        else {
          val fit = egFit(a, b)
          val (df0, _, _) =
            UnitRoots.adfuller(fit.resid.toArray, "n", maxlagOverride = Some(0))
          // the MacKinnon N=2 "c" surface — the same call `coint` makes on
          // its statistic — so the cointegration p-value machinery is
          // hash-oracled per round (round-5 verdict task 4)
          CoreRow(g, pairName, Some(fit.beta(0)), Some(fit.beta(1)), Some(df0),
            Some(MacKinnon.p(df0, "c", 2)), Some(grangerChi2(a, b, 1)))
        }
      }
      .toDF()
      .orderBy("group_key")
  }

  /** Per-group cointegration + Granger for one feature pair of a wide
    * panel. Rows where either side is null/NaN are dropped (inner-join
    * alignment, `:611-612`); short series emit null metrics (`:613-615`). */
  def pairAnalysis(
      wide: DataFrame,
      dateCol: String,
      groupCol: String,
      fa: String,
      fb: String,
      maxLag: Int = 10): DataFrame = {
    val ss = wide.sparkSession
    import ss.implicits._
    val grangerLags = math.min(maxLag, 5)
    val minLen = math.max(20, maxLag + 5)
    val pairName = s"$fa|$fb"
    wide
      .filter(Panel.finite(col(fa)) && Panel.finite(col(fb)))
      .select(col(groupCol).cast("string"), col(dateCol), col(fa), col(fb))
      .as[(String, java.sql.Timestamp, Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (g: String, it: Iterator[(String, java.sql.Timestamp, Double, Double)]) =>
        val rows = it.toArray.sorted(PairOrder)
        val a = rows.map(_._3)
        val b = rows.map(_._4)
        if (a.length < minLen) PairRow(g, pairName, None, None, None)
        else {
          val (cs, cp) =
            try { val (s, p) = coint(a, b); (Some(s), Some(p)) }
            catch { case NonFatal(_) => (None, None) }
          val gp =
            try Some(grangerMinP(a, b, grangerLags))
            catch { case NonFatal(_) => None }
          PairRow(g, pairName, cs, cp, gp)
        }
      }
      .toDF()
      .orderBy("group_key")
  }
}
