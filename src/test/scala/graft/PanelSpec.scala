package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Encoders}
import graft.core.Panel
import graft.ops.UnitRoots

/** The per-series policy of `Panel.perSeries`: which points reach a
  * kernel, in which order, and which series get a row. */
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
}
