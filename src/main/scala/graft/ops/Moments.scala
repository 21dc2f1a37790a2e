package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Panel

/** Distribution moments and moment-derived aggregates
  * (SURVEY.md §2.4 G2–G4, G6–G7; §2.8 F6).
  *
  * Semantic trap (time_series_study.py:148-155): pandas `.skew()`/`.kurtosis()`
  * are bias-corrected sample moments (Fisher G1, excess G2) while Spark's
  * `skewness`/`kurtosis` are population g1/g2. The corrections are pure
  * expressions over built-in aggregates — no UDAF, fully codegen'd, and the
  * partial/final aggregation split survives at any scale:
  *
  *   G1 = g1 · √(n(n−1)) / (n−2)                 (NaN for n < 3, like pandas)
  *   G2 = (n−1)/((n−2)(n−3)) · ((n+1)·g2 + 6)    (NaN for n < 4)
  */
object Moments {

  /** Bias-corrected sample skewness (pandas `Series.skew`). Constant
    * series: pandas' zero-variance branch returns 0.0 where Spark's
    * population skewness yields NaN — replicated here. */
  def sampleSkew(c: Column): Column = {
    val n = count(c).cast("double")
    when(n > 2,
      when(stddev_samp(c) === 0, 0.0)
        .otherwise(skewness(c) * sqrt(n * (n - lit(1.0))) / (n - lit(2.0))))
  }

  /** Bias-corrected excess sample kurtosis (pandas `Series.kurtosis`);
    * zero-variance series → 0.0 like pandas. */
  def sampleKurt(c: Column): Column = {
    val n = count(c).cast("double")
    when(n > 3,
      when(stddev_samp(c) === 0, 0.0)
        .otherwise((n - lit(1.0)) / ((n - lit(2.0)) * (n - lit(3.0))) *
          ((n + lit(1.0)) * kurtosis(c) + lit(6.0))))
  }

  /** G2 — per-(group × feature) `n, mean, std, skew, kurtosis` over the
    * melted panel (time_series_study.py:128-180). One hash-aggregate, one
    * shuffle on (group_key, feature); partial aggregation is map-side. */
  def distributionDiagnostics(melted: DataFrame): DataFrame =
    melted
      .filter(Panel.finite(col("value")))
      .groupBy("group_key", "feature")
      .agg(
        count("value").as("n"),
        avg("value").as("mean"),
        stddev_samp("value").as("std"),
        sampleSkew(col("value")).as("skew"),
        sampleKurt(col("value")).as("kurtosis"))
      .orderBy("feature", "group_key")

  /** G4 — cross-sectional dispersion: per-date sample std of the per-group
    * values of one feature (time_series_study.py:437-472). The pandas
    * unstack-then-row-std is just a grouped aggregate in long format; ddof=1
    * ⇒ stddev_samp; a date with one group yields null (pandas NaN). */
  def crossSectionDispersion(melted: DataFrame, feature: String): DataFrame =
    melted
      .filter(col("feature") === feature)
      // keep rows, null the non-finite values: a date whose feature is
      // missing everywhere still emits a (null-dispersion) row, matching
      // pandas wide.std(axis=1) over the full date index
      .select(col("date"), when(Panel.finite(col("value")), col("value")).as("value"))
      .groupBy("date")
      .agg(stddev_samp("value").as(s"dispersion_$feature"))
      .orderBy("date")
}
