package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.core.Panel
import graft.ops.Regimes

/** The retired 2-regime body of `Regimes.regimeDetection`, kept as the
  * equivalence reference the general-k operator is compared against at
  * k = 2: a fixed 14-column case-class row, `fit(y)` at its 2-regime
  * default, and the smoothed state rule `r(0) >= r(1)`. Series arrive in
  * (epoch millis, value) order through its own typed `groupByKey`, as
  * they did before `Panel.perSeries`. Never call from `src/main`. */
object RegimeReference {

  case class RegimeRow(
      group_key: String, feature: String,
      regime_1_prob: Option[Double], regime_2_prob: Option[Double],
      regime_switches: Option[Int], regime_switches_true: Option[Int],
      log_likelihood: Option[Double], aic: Option[Double], bic: Option[Double],
      p00: Option[Double], p11: Option[Double],
      mu_1: Option[Double], mu_2: Option[Double], sigma2: Option[Double])

  def regimeDetection(melted: DataFrame, minLen: Int = 20): DataFrame = {
    val ss = melted.sparkSession
    import ss.implicits._
    melted
      .filter(Panel.finite(col("value")))
      .select("group_key", "feature", "date", "value")
      .as[(String, String, java.sql.Timestamp, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, String), it: Iterator[(String, String, java.sql.Timestamp, Double)]) =>
        val (g, f) = key
        val y = it.toArray.sortBy(r => (r._3.getTime, r._4)).map(_._4)
        if (y.length < minLen) Iterator.empty
        else {
          try {
            val ft = Regimes.fit(y)
            val n = y.length
            val kParams = 2 * 1 + 2 + 1 // transitions + means + variance
            val aic = 2.0 * kParams - 2.0 * ft.llf
            val bic = math.log(n.toDouble) * kParams - 2.0 * ft.llf
            val probs = Array.tabulate(2)(j => ft.smoothed.map(_(j)).sum / n)
            // quirk R2: per-regime date-of-max, count of consecutive diffs
            val tmax = Array.tabulate(2)(j => ft.smoothed.map(_(j)).zipWithIndex.maxBy(v => (v._1, -v._2))._2)
            val switchesQuirk = (1 until 2).count(i => tmax(i) != tmax(i - 1))
            val states = ft.smoothed.map(r => if (r(0) >= r(1)) 0 else 1)
            val switchesTrue = (1 until n).count(t => states(t) != states(t - 1))
            Iterator.single(RegimeRow(g, f,
              Some(probs(0)), Some(probs(1)), Some(switchesQuirk), Some(switchesTrue),
              Some(ft.llf), Some(aic), Some(bic),
              Some(ft.p(0)(0)), Some(ft.p(1)(1)),
              Some(ft.mu(0)), Some(ft.mu(1)), Some(ft.sigma2)))
          } catch {
            case _: Throwable =>
              Iterator.single(RegimeRow(g, f, None, None, None, None, None, None, None,
                None, None, None, None, None))
          }
        }
      }
      .toDF()
      .orderBy("feature", "group_key")
  }
}
