package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Panel

/** Ordered per-series (lag/window) operators — SURVEY.md §2.5 W1–W5, W7, G5.
  *
  * All operate on the melted panel `(date, group_key, feature, value)` or a
  * wide per-group panel. The only shuffle is the hash exchange on the window
  * partition keys; every kernel after that is a window/agg expression inside
  * whole-stage codegen, so the plans scale linearly with panel count.
  */
object Lags {

  /** NaN → null so `corr`/`avg` skip them like pandas pairwise-complete. */
  private[ops] def nn(c: Column): Column = when(c.isNotNull && !isnan(c), c)

  /** Pearson correlation safe under ANSI mode: Spark's `corr` divides by
    * √(M2x·M2y) unconditionally, so a zero-variance series throws
    * DIVIDE_BY_ZERO instead of yielding NaN. Composing from co-moments
    * with an explicit guard returns null for degenerate series (matching
    * DuckDB's corr and pandas' skip-NaN downstream handling). */
  private[ops] def safeCorr(x: Column, y: Column): Column = {
    // marginal moments must be over COMPLETE PAIRS (Pearson is pairwise):
    // stddev over all non-null x would mix in rows whose y is null
    val both = x.isNotNull && y.isNotNull
    val xm = when(both, x)
    val ym = when(both, y)
    val sx = stddev_samp(xm)
    val sy = stddev_samp(ym)
    when(sx > 0 && sy > 0, covar_samp(xm, ym) / (sx * sy))
  }

  /** Window-frame variant of [[safeCorr]]. */
  private[ops] def safeCorrOver(x: Column, y: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val both = x.isNotNull && y.isNotNull
    val xm = when(both, x)
    val ym = when(both, y)
    val sx = stddev_samp(xm).over(w)
    val sy = stddev_samp(ym).over(w)
    when(sx > 0 && sy > 0, covar_samp(xm, ym).over(w) / (sx * sy))
  }

  /** W2 — autocorrelation at the given lags per (group × feature)
    * (time_series_study.py:324-326): pandas `Series.autocorr(k)` = Pearson
    * corr of the dropna'd series with its k-shifted self. Series are
    * compacted (finite-filtered) BEFORE shifting, exactly like the
    * reference's `dropna()` then `autocorr`. */
  def acf(melted: DataFrame, lags: Seq[Int], minLen: Int = 12): DataFrame = {
    val w = Window.partitionBy("group_key", "feature").orderBy("date")
    val withLags = melted
      .filter(Panel.finite(col("value")))
      .select(
        Seq(col("group_key"), col("feature"), col("value")) ++
          lags.map(k => lag(col("value"), k).over(w).as(s"l$k")): _*)
    val aggCols = count(lit(1)).as("n") +:
      lags.map(k => safeCorr(col("value"), col(s"l$k")).as(s"acf_lag$k"))
    withLags
      .groupBy("group_key", "feature")
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(col("n") >= minLen)
  }

  /** W8 — pct_change: fractional step change x_t/x_{t−1} − 1 per ordered
    * series (pandas `Series.pct_change()`, the `x/x.shift(1) − 1` form —
    * time_series_study.py:836; the reference computes it on an already
    * dropna'd series, so no pad-fill is involved). Emitted null for the
    * first element of each series and for a zero/null previous value
    * (pandas' ±inf there is unrepresentable under the repo's 1e-6 canon;
    * callers who need the zero-crossing rows still see them with a null
    * change). One window shuffle on (group, feature), nothing else. */
  def pctChange(melted: DataFrame): DataFrame = {
    val w = Window.partitionBy("group_key", "feature").orderBy("date")
    melted.withColumn("prev", lag(col("value"), 1).over(w))
      .withColumn("pct_change",
        when(col("prev").isNotNull && col("prev") =!= 0.0,
          col("value") / col("prev") - lit(1.0)))
      .select(col("group_key"), col("feature"), col("date"), col("value"),
        col("pct_change"))
  }

  /** W3 — AR(1) predictability R² (time_series_study.py:475-523). The
    * reference shifts the raw (NOT dropna'd) series positionally, then
    * finite-masks pairs; R² of simple OLS with intercept = corr². Pairs with
    * fewer than `minPairs` observations are dropped (`:491` continue). */
  def ar1(melted: DataFrame, minPairs: Int = 10): DataFrame = {
    val w = Window.partitionBy("group_key", "feature").orderBy("date")
    val lagged = melted
      .withColumn("xl", lag(col("value"), 1).over(w))
      .select(
        col("group_key"), col("feature"),
        nn(col("value")).as("y"), nn(col("xl")).as("x"))
      .withColumn("p", when(col("x").isNotNull && col("y").isNotNull, 1))
    lagged
      .groupBy("group_key", "feature")
      .agg(count("p").as("npairs"), safeCorr(col("x"), col("y")).as("r"),
        var_samp("x").as("vx"), var_samp("y").as("vy"))
      .filter(col("npairs") >= minPairs)
      // constant regressor, varying response: numpy's min-norm lstsq fits
      // yhat = mean(y) ⇒ R² = 0.0 (reference path); constant response ⇒
      // ss_tot = 0 ⇒ NaN/null. corr is NaN in both cases, so disambiguate
      // with the variances.
      .withColumn("ar1_r2",
        when(!isnan(col("r")) && col("r").isNotNull, col("r") * col("r"))
          .when(col("vx") === 0 && col("vy") > 0, 0.0))
      .select("group_key", "feature", "ar1_r2")
  }

  /** W4 + G5 — lagged cross-feature correlation Corr(a[t−L], b[t]) for
    * L = 0..maxLag per group, then the cross-group `nanmean`
    * (time_series_study.py:584-602). Groups contribute only when they have
    * ≥ minPairs complete pairs (`:597`); NaN correlations (constant series)
    * are skipped like `np.nanmean`. One shuffle for the window + one small
    * aggregation; lag columns are computed once per (feature, L).
    *
    * Shape: the (pair, L) axis is exploded into ROWS before aggregating,
    * not into one aggregate column per combination. The wide form carries
    * O(pairs·maxLag) aggregate expressions (3 per safeCorr + a count — 144
    * here), and Catalyst analysis/optimization/codegen of that plan costs
    * ~1.3 s per call while its execution takes 0.16 s (round-7 lagged-corr
    * measurement, ARCHITECTURE.md); it
    * also stops scaling in the pair-set axis long before the data axis.
    * The long form multiplies the panel (dates × groups — already
    * aggregate-sized, not fact-sized) by pairs·(maxLag+1) rows but keeps a
    * constant FOUR aggregate expressions, partial-aggregated map-side on
    * (group, pair, L). */
  def laggedCrossCorr(
      wide: DataFrame,
      dateCol: String,
      groupCol: String,
      pairs: Seq[(String, String)],
      maxLag: Int,
      minPairs: Int = 10): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(dateCol)
    val aFeats = pairs.map(_._1).distinct
    val feats = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val lagCols = for { fa <- aFeats; l <- 0 to maxLag }
      yield lag(col(fa), l).over(w).as(s"${fa}__l$l")
    val base = wide.select(col(groupCol) +: feats.map(col) ++: lagCols: _*)
    val rows = pairs.flatMap { case (fa, fb) =>
      (0 to maxLag).map { l =>
        struct(
          lit(s"$fa|$fb").as("pair"), lit(l).as("lag"),
          nn(col(s"${fa}__l$l")).as("a"), nn(col(fb)).as("b"))
      }
    }
    base
      .select(col(groupCol), explode(array(rows: _*)).as("r"))
      .select(col(groupCol), col("r.pair").as("pair"), col("r.lag").as("lag"),
        col("r.a").as("a"), col("r.b").as("b"))
      .groupBy(col(groupCol), col("pair"), col("lag"))
      .agg(
        safeCorr(col("a"), col("b")).as("c"),
        count(when(col("a").isNotNull && col("b").isNotNull, 1)).as("np"))
      .groupBy("pair", "lag")
      .agg(avg(when(col("np") >= minPairs && !isnan(col("c")), col("c"))).as("avg_corr"))
      .orderBy("pair", "lag")
  }

  /** W2+K3+K4 fused — the full memory/dependence table (ACF at 1/5/10,
    * Ljung–Box Q and p at lag 10, Hurst) in ONE scan and ONE shuffle: all
    * three operators need the same (group, feature) partitioning, so their
    * window projections share an exchange and the grouped aggregation
    * reuses it (no second exchange — verified in the plan audit). This is
    * what `TimeSeriesStudy.memoryDependence` runs; the standalone ops
    * remain for à-la-carte use.
    */
  def memoryDependence(melted: DataFrame, acfLags: Seq[Int] = Seq(1, 5, 10),
      lbLag: Int = 10, minLen: Int = 12): DataFrame = {
    val wp = Window.partitionBy("group_key", "feature")
    val wo = Window.partitionBy("group_key", "feature").orderBy("date")
    val woCum = wo.rowsBetween(Window.unboundedPreceding, 0)
    val filtered = melted
      .filter(Panel.finite(col("value")))
      .withColumn("mu", avg("value").over(wp))
      .withColumn("xc", col("value") - col("mu"))
    val withCols = (acfLags.map(k => (s"l$k", lag(col("value"), k).over(wo))) ++
      (1 to lbLag).map(k => (s"xl$k", lag(col("xc"), k).over(wo))) :+
      ("cs", sum(col("xc")).over(woCum)))
      .foldLeft(filtered) { case (d, (name, c)) => d.withColumn(name, c) }
    val aggCols =
      Seq(count(lit(1)).as("n"), stddev_samp("value").as("sigma"),
        (max("cs") - min("cs")).as("rng"), sum(col("xc") * col("xc")).as("denom")) ++
        acfLags.map(k => safeCorr(col("value"), col(s"l$k")).as(s"acf_lag$k")) ++
        (1 to lbLag).map(k => sum(col("xc") * col(s"xl$k")).as(s"num$k"))
    val aggd = withCols.groupBy("group_key", "feature").agg(aggCols.head, aggCols.tail: _*)
    val n = col("n").cast("double")
    val q = (1 to lbLag).map(k => pow(col(s"num$k") / col("denom"), 2) / (n - k)).reduce(_ + _) *
      n * (n + 2)
    aggd
      .filter(col("n") >= minLen)
      .withColumn("hurst_exp",
        when(col("n") < 20, lit(null))
          .when(col("sigma") === 0, lit(0.5))
          .otherwise(log(col("rng") / col("sigma")) / log(col("n"))))
      .withColumn("lb_q", when(col("n") > lbLag, q))
      .withColumn("lb_p", when(col("n") > lbLag, LjungBox.chi2SfEven(col("lb_q"), lbLag)))
      .select(Seq(col("group_key"), col("feature"), col("n")) ++
        acfLags.map(k => col(s"acf_lag$k")) ++
        Seq(col("lb_q"), col("lb_p"), col("hurst_exp")): _*)
      .orderBy("feature", "group_key")
  }

  /** W5 — rolling correlation of two features per group
    * (time_series_study.py:663-676): pandas `rolling(window).corr()` with
    * default min_periods = window ⇒ null until the frame holds `window`
    * complete pairs. */
  def rollingCorr(
      wide: DataFrame,
      dateCol: String,
      groupCol: String,
      fa: String,
      fb: String,
      window: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(dateCol)
      .rowsBetween(-(window - 1), 0)
    val pairCount = count(when(nn(col(fa)).isNotNull && nn(col(fb)).isNotNull, 1)).over(w)
    wide.select(
      col(groupCol).as("group_key"),
      col(dateCol).as("date"),
      when(pairCount === window, safeCorrOver(nn(col(fa)), nn(col(fb)), w)).as("roll_corr"))
  }
}
