package graft

import org.apache.spark.sql.DataFrame
import graft.ops.{WbRow, WeightedBins}

/** Parity with the reference implementation executed as a black-box oracle
  * on its own fixtures (scripts/make_wb_golden.py): full-output compare on
  * the demo (5-row), comprehensive (seed-42 100-row), and generated
  * (seed-42 1000-row) datasets.
  */
class WeightedBinsSpec extends SparkSpec {

  private val res = "src/test/resources/wb"

  private def golden(name: String): Seq[Map[String, String]] = {
    val lines = scala.io.Source.fromFile(s"$res/${name}_golden.csv").getLines().toSeq
    val header = lines.head.split(",", -1)
    lines.tail.filter(_.nonEmpty).map(l => header.zip(l.split(",", -1)).toMap)
  }

  private def runCase(name: String, binSize: Double, maxBins: Int): (Seq[Map[String, String]], Array[org.apache.spark.sql.Row], DataFrame) = {
    val input = spark.read.parquet(s"$res/${name}_input.parquet")
    val out = WeightedBins.weightedBins(input, binSize = binSize, maxBins = maxBins)
      .orderBy("ID1", "ID2", "timestamp")
    (golden(name), out.collect(), out)
  }

  private def check(name: String, binSize: Double, maxBins: Int): Unit = {
    val (g, rows, out) = runCase(name, binSize, maxBins)
    assert(rows.length == g.size, s"row count ${rows.length} vs golden ${g.size}")
    val cols = Seq("ID1", "ID2") ++ (1 to maxBins).map(b => s"bin_${b}_avg")
    g.zip(rows).foreach { case (want, got) =>
      assert(got.getAs[String]("ID1") == want("ID1") && got.getAs[String]("ID2") == want("ID2"),
        s"key mismatch: $got vs $want")
      assert(got.getAs[Double]("quantity1") == want("quantity1").toDouble)
      (1 to maxBins).foreach { b =>
        val c = s"bin_${b}_avg"
        val wv = want(c)
        val gv = got.getAs[Double](c)
        if (wv.isEmpty) assert(gv.isNaN, s"$name $want $c: got $gv want NaN")
        else assert(math.abs(gv - wv.toDouble) < 1e-9, s"$name $c: got $gv want $wv")
      }
    }
  }

  test("demo case matches reference output (bins 22.5/32.5/50.0)") {
    check("demo", binSize = 100, maxBins = 3)
    val (_, rows, _) = runCase("demo", 100, 3)
    assert(rows(0).getAs[Double]("bin_1_avg") == 22.5)
    assert(rows(0).getAs[Double]("bin_2_avg") == 32.5)
    assert(rows(0).getAs[Double]("bin_3_avg") == 50.0)
  }

  test("comprehensive seed-42 case matches reference output row-for-row") {
    check("comprehensive", binSize = 50, maxBins = 8)
  }

  test("generated 1000-row case matches reference output row-for-row") {
    check("generated", binSize = 100, maxBins = 10)
  }

  test("property: one output row per input row minus one per group") {
    val input = spark.read.parquet(s"$res/generated_input.parquet")
    val out = WeightedBins.weightedBins(input)
    val groups = input.select("ID1", "ID2").distinct().count()
    assert(out.count() == input.count() - groups)
  }

  test("property: bounded streaming kernel is bit-equal to the full kernel") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 60) {
      val n = 1 + rnd.nextInt(250)
      // ~10% zero-mass rows exercises the held-to-group-end degenerate path
      val q1 = Array.fill(n)(if (rnd.nextInt(10) == 0) 0.0 else rnd.nextDouble() * 50)
      val q2 = Array.fill(n)(rnd.nextDouble() * 100 - 50)
      val binSize = 0.5 + rnd.nextDouble() * 60
      val maxBins = 1 + rnd.nextInt(12)
      val full = WeightedBins.binsForGroup(q1, q2, binSize, maxBins)
      val bounded = WeightedBins.binsForGroupBounded(q1, q2, binSize, maxBins)
      assert(full.length == bounded.length, s"trial=$trial length mismatch")
      for (i <- full.indices; b <- 0 until maxBins) {
        val (x, y) = (full(i)(b), bounded(i)(b))
        assert((x.isNaN && y.isNaN) || x == y,
          s"trial=$trial n=$n binSize=$binSize maxBins=$maxBins row=$i bin=$b: full=$x bounded=$y")
      }
    }
  }

  test("hot key: one 200k-row group streams in bin-span-bounded memory") {
    // One giant group straight through the bounded kernel, no Spark: the
    // pending buffer must hold only the rows spanning binSize·maxBins of
    // q1 mass (plus the straddler and the row just read), never the group.
    val n = 200000
    val (binSize, maxBins) = (100.0, 10)
    val q1 = Array.tabulate(n)(i => ((i.toLong * 2654435761L) % 100 + 1).toDouble)
    val kernel = new WeightedBins.BoundedKernel(binSize, maxBins)
    val ts = java.lang.Long.valueOf(0L)
    var emitted = 0L
    q1.indices.foreach { i =>
      emitted += kernel.push(WbRow("g", "x", ts, q1(i), (i % 5000) / 100.0, i.toLong)).size
    }
    emitted += kernel.finish().size
    assert(emitted == n - 1L, s"emitted $emitted rows for a group of $n")
    assert(q1.min == 1.0 && q1.max == 100.0)
    val bound = binSize * maxBins / q1.min + 2
    assert(kernel.peakPending <= bound,
      s"peak pending ${kernel.peakPending} rows exceeds the bin-span bound $bound")
  }

  test("timestamps round-trip the long-micros kernel exactly (sub-second, pre-epoch, null)") {
    // r16 narrowing spec: the kernel carries ts as unix micros and emits
    // timestamp_micros on the way out. Inputs with microsecond precision,
    // a pre-epoch instant, two instants inside the SAME second (the sort
    // must order by micros exactly as it ordered by Timestamp), and a
    // null (boxed Long — must flow through like the old null Timestamp,
    // sorted first within its group).
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val micros = Seq[java.lang.Long](-1234567L, 1L, 999999L, 1000001L, 86400000000L, null)
    val input = micros.zipWithIndex.map { case (us, i) =>
      ("a", "b", us, 10.0, i.toDouble, i.toLong) }
      .toDF("ID1", "ID2", "us", "quantity1", "quantity2", "tie")
      .select(col("ID1"), col("ID2"), expr("timestamp_micros(us)").as("timestamp"),
        col("quantity1"), col("quantity2"), col("tie"))
    val out = WeightedBins.weightedBins(input, binSize = 5, maxBins = 2,
        tieCols = Seq("tie"), emitTie = true)
      .orderBy(asc_nulls_first("timestamp")).collect()
    // one group of 6 rows -> 5 output rows (last-in-ts-order emits nothing)
    assert(out.length == micros.length - 1, s"got ${out.length} rows")
    val want = input.orderBy(asc_nulls_first("timestamp"))
      .select("timestamp").collect().map(_.getAs[java.sql.Timestamp]("timestamp"))
      .dropRight(1).toSeq
    val got = out.map(_.getAs[java.sql.Timestamp]("timestamp")).toSeq
    assert(got == want, s"round-trip mismatch: $got vs $want")
    assert(got.head == null, "null ts must survive and sort first")
  }

  test("quirk Q6: negative quantity1 fails loud (documented deviation)") {
    // The reference silently computes garbage on negative q1 (non-monotone
    // cumsum — weighted_bin_calculator.py:108-110); the engine rejects it.
    val ex = intercept[IllegalArgumentException] {
      WeightedBins.binsForGroupBounded(Array(5.0, -3.0, 4.0), Array(1.0, 2.0, 3.0), 10.0, 4)
    }.getMessage
    assert(ex.contains("quantity1 >= 0") && ex.contains("-3.0"), s"got: $ex")
  }

  test("property: bin averages bounded by future q2 range") {
    val input = spark.read.parquet(s"$res/comprehensive_input.parquet")
    import org.apache.spark.sql.functions._
    val out = WeightedBins.weightedBins(input, binSize = 50, maxBins = 8)
    val mm = input.agg(min("quantity2"), max("quantity2")).head()
    val (lo, hi) = (mm.getLong(0).toDouble, mm.getLong(1).toDouble)
    (1 to 8).foreach { b =>
      val bad = out.filter(!isnan(col(s"bin_${b}_avg")) &&
        (col(s"bin_${b}_avg") < lo || col(s"bin_${b}_avg") > hi)).count()
      assert(bad == 0, s"bin $b out of [$lo,$hi]")
    }
  }
}
