package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Panel
import graft.ops._

/** User-facing façade mirroring the reference's `TimeSeriesStudy` class
  * (time_series_study/time_series_study.py:22-977): ten panel analyses over
  * a wide panel DataFrame `(dateCol, groupCols…, feature columns…)`.
  *
  * Construction validates like the reference (`:48-74`): the date column
  * must be castable to timestamp, every feature numeric; features default
  * to "all non-key columns" (`:44`). The melted long view is built once and
  * shared by every analysis; callers running several analyses should
  * `.cache()` the input themselves (Spark-idiomatic: caching is the
  * caller's capacity decision, not the library's).
  *
  * Sinks: every analysis returns a DataFrame; `save(df, path)` writes
  * parquet (engine standard) and `saveCsv` mirrors the reference's CSV
  * output (S2). The styled-HTML table sink (S3) and the PNG plot sink
  * (S4) live in [[graft.sinks.HtmlSink]] / [[graft.sinks.PlotSink]] and
  * are wired through `runAll(publishHtml = , publishPlots = )`, mirroring
  * the reference's `table=`/`publish_plot=` flags.
  */
class TimeSeriesStudy(
    df: DataFrame,
    dateCol: String = "date",
    groupCols: Seq[String] = Seq("name"),
    featureCols: Seq[String] = Seq()) {

  val features: Seq[String] =
    if (featureCols.nonEmpty) featureCols
    else df.columns.filterNot(c => c == dateCol || groupCols.contains(c)).toSeq

  Panel.requireColumns(df, dateCol +: groupCols)
  Panel.requireColumns(df, features)
  Panel.requireNumeric(df, features)
  require(features.nonEmpty, "panel needs at least one feature column")

  /** Canonical melted view `(date, group_key, feature, value)`. */
  val melted: DataFrame = Panel.melt(df, dateCol, groupCols, features)

  /** 1 — distribution & volatility diagnostics (G2). */
  def distributionDiagnostics(): DataFrame = Moments.distributionDiagnostics(melted)

  /** 2 — ADF + KPSS stationarity per series, plus the per-feature
    * rejection-proportion summary (`:228-236`). */
  def stationarityTests(regression: String = "c"): (DataFrame, DataFrame) = {
    val results = UnitRoots.stationarityTests(melted, regression)
    val summary = results.groupBy("feature").agg(
      avg(when(col("adf_p") < 0.05, 1.0).otherwise(0.0)).as("prop_reject_unit_root"),
      avg(when(col("kpss_p") < 0.05, 1.0).otherwise(0.0)).as("prop_reject_stationarity"))
      .orderBy("feature")
    (results, summary)
  }

  /** 3 — memory & dependence: ACF(1,5,10) + Ljung–Box p + Hurst, fused
    * into one scan + one shuffle (Lags.memoryDependence). */
  def memoryDependence(): DataFrame =
    Lags.memoryDependence(melted)
      .select(col("group_key").as("group"), col("feature"),
        col("acf_lag1"), col("acf_lag5"), col("acf_lag10"),
        col("lb_p").as("ljungbox_p"), col("hurst_exp"))
      .orderBy("feature", "group")

  /** 4 — periodogram dominant frequency (K5). */
  def frequencyDomain(detrend: Boolean = true): DataFrame =
    Periodogram.frequencyDomain(melted, detrend)

  /** 5 — per-date cross-sectional dispersion of one feature (G4).
    * Reference quirk (time_series_study.py:448-450): with NO group levels
    * the wide frame has a single column, and the reference returns a 0.0
    * series over the date index (not NaN) — replicated here; with groups,
    * a single-group date yields null like pandas' ddof=1 row std. */
  def crossSectionalDispersion(feature: String): DataFrame = {
    require(features.contains(feature), s"Unknown feature: $feature")
    val d = Moments.crossSectionDispersion(melted, feature)
    if (groupCols.nonEmpty) d
    else d.select(col("date"), lit(0.0).as(s"dispersion_$feature"))
  }

  /** 6 — AR(1) predictability R² (W3). */
  def predictabilityAr1(): DataFrame = Lags.ar1(melted)

  /** 7 — cross-feature comparisons: lagged corr (long + pivoted like the
    * reference's lag × pair table, R2), rolling corr, cointegration,
    * Granger, mutual information. */
  def crossFeatureComparisons(
      featurePairs: Seq[(String, String)] = Seq(),
      maxLag: Int = 10,
      rollingWindow: Int = 10): Map[String, DataFrame] = {
    val pairs =
      if (featurePairs.nonEmpty) featurePairs
      else features.combinations(2).map(p => (p(0), p(1))).toSeq
    val wide = widePanel
    val lagged = Lags.laggedCrossCorr(wide, "date", "group_key", pairs, maxLag)
    val laggedPivot = lagged.groupBy("lag").pivot("pair").agg(first("avg_corr")).orderBy("lag")
    val perPair = pairs.map { case (fa, fb) =>
      (fa, fb) -> CrossFeature.pairAnalysis(wide, "date", "group_key", fa, fb, maxLag)
    }
    val coint = perPair.map(_._2.select("group_key", "pair", "coint_stat", "coint_p"))
      .reduce(_ unionByName _)
    val granger = perPair.map(_._2.select(col("group_key"), col("pair"), col("granger_p").as("pvalue")))
      .reduce(_ unionByName _)
    val mi = pairs.map { case (fa, fb) =>
      // reference gates MI on the same aligned-length minimum as
      // coint/granger (time_series_study.py:613-618), not MI's own 10
      MutualInfo.mutualInfo(wide, "group_key", fa, fb, minN = math.max(20, maxLag + 5))
        .select(col("group_key"), lit(s"$fa|$fb").as("pair"), col("mi"))
    }.reduce(_ unionByName _)
    val rolling = Lags.rollingCorr(wide, "date", "group_key", pairs.head._1, pairs.head._2, rollingWindow)
    Map(
      "lagged_corr" -> laggedPivot,
      "lagged_corr_long" -> lagged,
      "rolling_corr" -> rolling,
      "cointegration" -> coint.orderBy("pair", "group_key"),
      "granger" -> granger.orderBy("pair", "group_key"),
      "mutual_info" -> mi.orderBy("pair", "group_key"))
  }

  /** 8 — Markov regime detection for one feature (K9): a k-regime fit per
    * group, k = `nRegimes` ≥ 2, each series in date order. The columns
    * (regime_j_prob, pjj, mu_j) follow k; the default k = 2 gives the
    * reference's golden-run column set. */
  def regimeDetection(feature: String, nRegimes: Int = 2): DataFrame =
    Regimes.regimeDetection(melted.filter(col("feature") === feature), nRegimes)

  /** 9 — volatility analysis for one feature (K10);
    * modelType ∈ {GARCH, GJR-GARCH, EGARCH} like the reference. */
  def volatilityAnalysis(feature: String, modelType: String = "GARCH"): DataFrame =
    Garch.volatilityAnalysis(melted.filter(col("feature") === feature), modelType)

  /** 10 — outlier detection for one feature (K11). */
  def outlierDetection(feature: String, method: String = "isolation_forest"): DataFrame =
    Outliers.outlierSummary(melted.filter(col("feature") === feature), method)

  /** Wide per-group panel (date, group_key, features…) for pairwise ops. */
  private def widePanel: DataFrame =
    df.select(Seq(
      col(dateCol).cast("timestamp").as("date"),
      Panel.groupKey(groupCols).as("group_key")) ++
      features.map(f => col(f).cast("double").as(f)): _*)

  // -- sinks (S2; engine-standard parquet + reference-parity CSV) -----------

  def save(result: DataFrame, path: String): Unit =
    result.write.mode("overwrite").parquet(path)

  def saveCsv(result: DataFrame, path: String): Unit =
    result.write.mode("overwrite").option("header", "true").csv(path)

  /** End-to-end workflow parity with the reference's driver script
    * (test_time_series_study.py:50-131): run every analysis and write each
    * result table to `<resultsDir>/out_<name>` as header'd CSV, returning
    * the tables by the same names. Per-feature analyses (dispersion,
    * regimes, volatility, outliers) run on `feature` (default: the first
    * feature, like the script's choice). Callers should `.cache()` the
    * input first — every analysis re-reads the panel. */
  def runAll(resultsDir: String, feature: String = features.head,
      publishHtml: Boolean = false, publishPlots: Boolean = false): Map[String, DataFrame] = {
    val (statRes, statSum) = stationarityTests()
    val base = Map(
      "distribution" -> distributionDiagnostics(),
      "stationarity" -> statRes,
      "stationarity_summary" -> statSum,
      "memory" -> memoryDependence(),
      "frequency" -> frequencyDomain(),
      "dispersion" -> crossSectionalDispersion(feature),
      "ar1" -> predictabilityAr1(),
      "regimes" -> regimeDetection(feature),
      "volatility" -> volatilityAnalysis(feature),
      "outliers" -> outlierDetection(feature))
    val cross =
      if (features.length >= 2)
        crossFeatureComparisons().map { case (k, v) => s"cross_$k" -> v }
      else Map.empty[String, DataFrame]
    val all = base ++ cross
    // The analyses are independent and each sink lands in its own
    // directory, so their write jobs need not run back-to-back: submit
    // them from a small pool (guide §2.6) so one analysis's driver-side
    // planning overlaps another's execution. Output is byte-identical to
    // the sequential loop; the first failure rethrows as before.
    core.Par.run(all.toSeq.sortBy(_._1)) { case (name, result) =>
      saveCsv(result, s"$resultsDir/out_$name")
      if (publishHtml) graft.sinks.HtmlSink.saveTable(result, s"$resultsDir/out_$name")
    }
    if (publishPlots) publishPngs(resultsDir, all, statRes, statSum)
    all
  }

  /** The reference's per-analysis figure set (S4), one PNG per panel
    * instead of its multi-axes figures: skew/kurtosis histograms per
    * feature (`:164-178`), stationarity dumbbells (`:265-283`) + the
    * rejection-proportion bars (`:247-258`), the dominant-frequency
    * scatter (`:418-431`), the AR(1) R² histogram (`:510-521`), and the
    * outlier-share pie (`:1094-1096`). Every input is an analysis RESULT
    * table (aggregate-sized); colors follow the reference's palette
    * picks per figure. */
  private def publishPngs(dir: String, all: Map[String, DataFrame],
      statRes: DataFrame, statSum: DataFrame): Unit = {
    import graft.sinks.PlotSink
    features.foreach { f =>
      val d = all("distribution").filter(col("feature") === f)
      PlotSink.saveHistogram(d, "skew", s"$dir/distribution_skew_$f.png",
        colorIdx = 1, title = s"Skew: $f")
      PlotSink.saveHistogram(d, "kurtosis", s"$dir/distribution_kurtosis_$f.png",
        colorIdx = 2, title = s"Kurtosis: $f")
      PlotSink.saveDumbbell(statRes.filter(col("feature") === f),
        "group_key", "adf_p", "kpss_p", s"$dir/stationarity_dumbbell_$f.png",
        title = s"ADF vs KPSS p: $f")
      PlotSink.saveHistogram(all("ar1").filter(col("feature") === f),
        "ar1_r2", s"$dir/ar1_hist_$f.png", colorIdx = 1, title = s"AR(1) R2: $f")
    }
    PlotSink.saveGroupedBars(statSum, "feature",
      "prop_reject_unit_root", "prop_reject_stationarity",
      s"$dir/stationarity_summary_bars.png", title = "Rejection proportions")
    PlotSink.saveScatter(all("frequency"), "dom_freq", "dom_power",
      s"$dir/frequency_scatter.png", title = "Dominant frequency vs power")
    val o = all("outliers")
    val shares = o.agg(
        sum(when(col("n_outliers") > 0, 1).otherwise(0)).as("with_outliers"),
        sum(when(col("n_outliers") > 0, 0).otherwise(1)).as("without_outliers"))
      .selectExpr("stack(2, 'with', with_outliers, 'without', without_outliers) AS (slice, v)")
    PlotSink.savePie(shares, "slice", "v", s"$dir/outlier_share_pie.png",
      title = "Groups with outliers")
  }
}
