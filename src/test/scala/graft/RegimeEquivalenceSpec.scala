package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Panel, Tables}
import graft.ops.Regimes

/** `Regimes.regimeDetection` at its default k = 2 against the retired
  * 2-regime body ([[RegimeReference]]): same schema, same rows, every
  * double bit-identical, null-metric rows identical. */
class RegimeEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** A cell as a comparable value: doubles by their bits (NaN == NaN,
    * 0.0 != -0.0), everything else as is. */
  private def cell(v: Any): Any = v match {
    case d: Double => ("bits", java.lang.Double.doubleToRawLongBits(d))
    case o => o
  }

  private def assertSame(melted: DataFrame): Int = {
    val got = Regimes.regimeDetection(melted)
    val ref = RegimeReference.regimeDetection(melted)
    assert(got.schema == ref.schema)
    val g = got.collect().map(_.toSeq.map(cell))
    val r = ref.collect().map(_.toSeq.map(cell))
    assert(g.toSeq == r.toSeq)
    g.length
  }

  private def series(g: String, ys: Seq[Double]): DataFrame = {
    val t0 = Timestamp.valueOf("2020-01-01 00:00:00").getTime
    ys.zipWithIndex.map { case (y, i) => (new Timestamp(t0 + i * 86400000L), g, "f", y) }
      .toDF("date", "group_key", "feature", "value")
  }

  test("k = 2 matches the retired body on the fixture panel, all three features") {
    val wide = spark.read.parquet("src/test/resources/panel/panel.parquet")
    val melted = Panel.melt(wide, "date", Seq("name"), Seq("feature_1", "feature_2", "feature_3"))
    assert(assertSame(melted) == 15)
  }

  test("k = 2 matches the retired body on a constant and a too-short series") {
    val rng = new scala.util.Random(5)
    val melted = series("const", Seq.fill(40)(3.0))
      .union(series("short", Seq.fill(19)(rng.nextGaussian())))
    // the constant series gets its row, the 19-point one none
    assert(assertSame(melted) == 1)
  }

  test("k = 2 matches the retired body on the sf0.01 events daily panel") {
    val daily = Tables.events(spark, SparkSpec.sf001)
      .filter(Panel.finite(col("value")))
      .groupBy(date_trunc("day", col("ts")).as("date"), col("event_type").as("group_key"))
      .agg(avg("value").as("value"))
    val melted = Panel.melt(daily, "date", Seq("group_key"), Seq("value"))
    assert(assertSame(melted) > 0)
  }
}
