package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders}
import graft.core.Panel
import graft.ops.{CrossFeature, UnitRoots}

/** The per-series policy of `Panel.perSeries`: which points reach a
  * kernel, in which order, and which series get a row — and the same
  * date order in CrossFeature's per-pair operators. */
class PanelSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  /** t0 plus `micros` microseconds. */
  private def at(micros: Long): Timestamp = Timestamp.from(t0.toInstant.plusNanos(micros * 1000))

  /** A one-feature melted panel from (date, group_key, value) points. */
  private def melted(pts: Seq[(Option[Timestamp], Option[String], Option[Double])]): DataFrame =
    pts.map { case (d, g, v) => (d, g, "f", v) }.toDF("date", "group_key", "feature", "value")

  /** (group_key, values in the order the kernel saw them), by group_key,
    * a null key first. */
  private def seen(m: DataFrame, minLen: Int): Seq[(String, Seq[Double])] =
    Panel.perSeries(m, minLen, Encoders.product[(String, Seq[Double])]) { (g, _, y) =>
      Iterator.single((g, y.toSeq))
    }.as[(String, Seq[Double])].collect().toSeq.sortBy(r => Option(r._1))

  private val a = Some("a")

  test("perSeries filters, orders and gates each series by one policy") {
    val table: Seq[(String, Seq[(Option[Timestamp], Option[String], Option[Double])], Int,
        Seq[(String, Seq[Double])])] = Seq(
      ("points 100 µs apart arrive in time order, not value order",
        Seq((Some(at(0)), a, Some(3.0)), (Some(at(100)), a, Some(2.0)), (Some(at(200)), a, Some(1.0))),
        1, Seq(("a", Seq(3.0, 2.0, 1.0)))),
      ("tied timestamps are ordered by value",
        Seq((Some(at(0)), a, Some(5.0)), (Some(at(0)), a, Some(1.0)), (Some(at(0)), a, Some(3.0))),
        1, Seq(("a", Seq(1.0, 3.0, 5.0)))),
      ("a null date sorts first",
        Seq((Some(at(0)), a, Some(1.0)), (None, a, Some(9.0)), (Some(at(-1000)), a, Some(2.0))),
        1, Seq(("a", Seq(9.0, 2.0, 1.0)))),
      ("NaN and null values are dropped before the minLen count",
        Seq((Some(at(0)), a, Some(1.0)), (Some(at(1)), a, Some(Double.NaN)),
          (Some(at(2)), a, None), (Some(at(3)), a, Some(2.0))),
        3, Seq()),
      ("minLen points give one row",
        Seq((Some(at(0)), a, Some(1.0)), (Some(at(1)), a, Some(Double.NaN)),
          (Some(at(2)), a, None), (Some(at(3)), a, Some(2.0))),
        2, Seq(("a", Seq(1.0, 2.0)))),
      ("minLen − 1 points give no row",
        Seq((Some(at(0)), a, Some(1.0)), (Some(at(1)), a, Some(2.0))),
        3, Seq()),
      ("a null group_key forms its own series",
        Seq((Some(at(0)), a, Some(1.0)), (Some(at(1)), None, Some(2.0)),
          (Some(at(2)), None, Some(3.0)), (Some(at(3)), a, Some(4.0))),
        1, Seq((null, Seq(2.0, 3.0)), ("a", Seq(1.0, 4.0)))))
    table.foreach { case (name, pts, minLen, want) =>
      assert(seen(melted(pts), minLen) == want, name)
    }
  }

  test("stationarityTests on a series with a null date returns a row") {
    val rng = new scala.util.Random(3)
    val pts = (None, a, Some(0.5)) +:
      (1 to 30).map(i => (Some(at(i * 1000000L)), a, Some(rng.nextGaussian())))
    val rows = UnitRoots.stationarityTests(melted(pts)).collect()
    assert(rows.length == 1)
    assert(!rows.head.isNullAt(rows.head.fieldIndex("adf_stat")))
  }

  /** CrossFeature's two kernels on (x, y) series already in order:
    * pairCore's (eg_df0_stat, granger_chi2_lag1) and pairAnalysis's
    * (coint_stat, granger_p) at the default maxLag. */
  private def pairKernels(x: Array[Double], y: Array[Double]): Seq[Double] = {
    val df0 = UnitRoots.adfuller(CrossFeature.egFit(x, y).resid.toArray, "n",
      maxlagOverride = Some(0))._1
    Seq(df0, CrossFeature.grangerChi2(x, y, 1), CrossFeature.coint(x, y)._1,
      CrossFeature.grangerMinP(x, y, 5))
  }

  /** The same four numbers from the operators, on group "a" of `pts`. */
  private def pairOperators(pts: Seq[(Option[Timestamp], Double, Double)]): Seq[Double] = {
    val wide = pts.map { case (d, x, y) => (d, "a", x, y) }.toDF("date", "group_key", "x", "y")
    val core = CrossFeature.pairCore(wide, "date", "group_key", "x", "y").head()
    val full = CrossFeature.pairAnalysis(wide, "date", "group_key", "x", "y").head()
    Seq(core.getAs[Double]("eg_df0_stat"), core.getAs[Double]("granger_chi2_lag1"),
      full.getAs[Double]("coint_stat"), full.getAs[Double]("granger_p"))
  }

  test("CrossFeature pairCore and pairAnalysis order each pair series by Panel.DateOrder") {
    val rng = new scala.util.Random(11)
    val n = 40
    val x = Array.fill(n)(rng.nextGaussian()).scanLeft(0.0)(_ + _).tail
    val y = x.map(v => 0.8 * v + rng.nextGaussian())
    val table: Seq[(String, Seq[(Option[Timestamp], Double, Double)])] = Seq(
      ("points 100 µs apart arrive in time order, not value order",
        (0 until n).map(i => (Some(at(i * 100L)), x(i), y(i)))),
      ("a null date sorts first",
        (0 until n).map(i => (if (i == 0) None else Some(at(i * 1000000L)), x(i), y(i)))))
    table.foreach { case (name, pts) =>
      // shuffled input: the operators must restore the order themselves
      val got = pairOperators(new scala.util.Random(2).shuffle(pts))
      assert(got == pairKernels(x, y), name)
    }
    // the time order matters at this spacing: ordered by (millisecond,
    // value) the kernels see a different series
    val byMilli = table.head._2.sortBy(p => (p._1.get.getTime, p._2, p._3))
    assert(pairKernels(byMilli.map(_._2).toArray, byMilli.map(_._3).toArray) != pairKernels(x, y))
  }
}
