package graft.core

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical panel layout helpers (SURVEY.md §1.1).
  *
  * A panel is a long-format DataFrame with a `date` timestamp column, zero or
  * more group-key columns, and one or more numeric feature columns
  * (reference: time_series_study/time_series_study.py:22-74). The melted view
  * `(date, group_key, feature, value)` is the working layout for
  * per-(group × feature) kernels: Spark shuffles once on
  * (group_key, feature) and every kernel runs partition-local after that.
  */
object Panel {

  /** Degenerate group label when the panel has no group columns
    * (time_series_study.py:19,83). */
  val AllGroups = "__ALL__"

  /** Stringified group key — ":"-joined values (time_series_study.py:19). */
  def groupKey(groupCols: Seq[String]): Column =
    if (groupCols.isEmpty) lit(AllGroups)
    else concat_ws(":", groupCols.map(c => col(c).cast(StringType)): _*)

  /** pandas `dropna()` drops both null and NaN; Spark must filter both to
    * match (SURVEY.md §1.2). */
  def finite(c: Column): Column = c.isNotNull && !isnan(c)

  /** Wide panel → melted `(date, group_key, feature, value)`.
    *
    * Uses `stack` so the projection stays inside whole-stage codegen; the
    * parquet scan reads only (dateCol, groupCols, features).
    */
  def melt(
      df: DataFrame,
      dateCol: String,
      groupCols: Seq[String],
      features: Seq[String]): DataFrame = {
    require(features.nonEmpty, "melt requires at least one feature column")
    val stackExpr = features
      .map(f => s"'$f', cast(`$f` as double)")
      .mkString(s"stack(${features.length}, ", ", ", ") as (feature, value)")
    df.select(
      col(dateCol).cast(TimestampType).as("date"),
      groupKey(groupCols).as("group_key"),
      expr(stackExpr))
  }

  /** Runs `kernel` once per (group_key, feature) series of a melted
    * panel: drops null/NaN values, shuffles once on the series key, orders
    * each series by full-precision `date` (a null date first), then by
    * value, and skips series with fewer than `minLen` points. The kernel
    * gets (group_key, feature, values in series order) — a null
    * group_key is a series of its own — and its rows are encoded with
    * `enc`. The per-series operators of UnitRoots, Regimes, Garch and
    * Outliers run through here, so their shuffle geometry and series
    * order have one owner. */
  def perSeries[R](melted: DataFrame, minLen: Int, enc: Encoder[R])(
      kernel: (String, String, Array[Double]) => Iterator[R]): DataFrame = {
    val ss = melted.sparkSession
    import ss.implicits._
    melted
      .filter(finite(col("value")))
      .select("group_key", "feature", "date", "value")
      .as[(String, String, Timestamp, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, String), it: Iterator[(String, String, Timestamp, Double)]) =>
        val y = it.toArray.sorted(SeriesOrder).map(_._4)
        if (y.length < minLen) Iterator.empty else kernel(key._1, key._2, y)
      }(enc)
      .toDF()
  }

  /** Time order of a series: a null date first, then time to the
    * nanosecond (`Timestamp.compareTo`, unlike `getTime`, keeps the
    * sub-millisecond digits). The `sortWithinPartitions` order of
    * Periodogram and WeightedBins, and the date order of every
    * per-series and per-pair kernel. */
  val DateOrder: Ordering[Timestamp] = new Ordering[Timestamp] {
    def compare(a: Timestamp, b: Timestamp): Int =
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else a.compareTo(b)
  }

  /** (date, value) order of a series: [[DateOrder]], then value. */
  private object SeriesOrder extends Ordering[(String, String, Timestamp, Double)] {
    def compare(a: (String, String, Timestamp, Double), b: (String, String, Timestamp, Double)): Int = {
      val t = DateOrder.compare(a._3, b._3)
      if (t != 0) t else java.lang.Double.compare(a._4, b._4)
    }
  }

  /** Construct-time schema validation mirroring the reference
    * (time_series_study.py:48-74; weighted_bin_calculator.py:55-59). */
  def requireColumns(df: DataFrame, cols: Seq[String]): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    require(
      missing.isEmpty,
      s"DataFrame must contain columns: ${missing.mkString(", ")} (have: ${df.columns.mkString(", ")})")
  }

  /** All feature columns must be numeric (time_series_study.py:70-72). */
  def requireNumeric(df: DataFrame, cols: Seq[String]): Unit = {
    val bad = cols.filter { c =>
      !df.schema(c).dataType.isInstanceOf[NumericType]
    }
    require(bad.isEmpty, s"All feature columns must be numeric; non-numeric: ${bad.mkString(", ")}")
  }
}
