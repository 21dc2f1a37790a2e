package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import graft.ops.{WeightedBins, WeightedBinsStrategy}

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
    var emitted = 0L
    def drain(): Unit = while (kernel.ready) { kernel.emit(); emitted += 1 }
    q1.indices.foreach { i =>
      kernel.push(q1(i), (i % 5000) / 100.0, 0L, i.toLong, 0)
      drain()
    }
    kernel.finish()
    drain()
    assert(emitted == n - 1L, s"emitted $emitted rows for a group of $n")
    assert(q1.min == 1.0 && q1.max == 100.0)
    val bound = binSize * maxBins / q1.min + 2
    assert(kernel.peakPending <= bound,
      s"peak pending ${kernel.peakPending} rows exceeds the bin-span bound $bound")
  }

  test("timestamps round-trip the long-micros kernel exactly (sub-second, pre-epoch, null)") {
    // The kernel carries ts as the internal micros of TimestampType and
    // writes them straight back into its output row. Inputs with
    // microsecond precision, a pre-epoch instant, two instants inside the
    // SAME second (the sort must order by micros exactly as it ordered by
    // Timestamp), and a null (must flow through, sorted first within its
    // group).
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

  // ---- input policy and plan shape ----------------------------------------

  private val evSchema = StructType(Seq(
    StructField("ID1", StringType), StructField("ID2", StringType),
    StructField("timestamp", TimestampType),
    StructField("vol", DoubleType), StructField("px", DoubleType)))

  /** One event: ids, ts in epoch seconds (null = null), q1 `vol`, q2 `px`. */
  private def ev(id1: String, id2: String, sec: java.lang.Long, q1: java.lang.Double,
      q2: java.lang.Double): Row =
    Row(id1, id2, if (sec == null) null else new java.sql.Timestamp(sec * 1000L), q1, q2)

  private def frame(s: SparkSession, rows: Seq[Row]): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 2), evSchema)

  private def bins(s: SparkSession, rows: Seq[Row], binSize: Double, maxBins: Int): DataFrame =
    WeightedBins.weightedBins(frame(s, rows), q1Col = "vol", q2Col = "px",
      binSize = binSize, maxBins = maxBins)

  private def messages(t: Throwable): String =
    if (t == null) "" else s"${t.getMessage} ${messages(t.getCause)}"

  private def sameDouble(a: Double, b: Double): Boolean = (a.isNaN && b.isNaN) || a == b

  test("input policy: each out-of-contract input gets its declared outcome") {
    val nan = java.lang.Double.NaN
    // (policy, rows, binSize, maxBins, Left(message parts) = throws | Right(check on sorted output))
    val table: Seq[(String, Seq[Row], Double, Int, Either[Seq[String], Seq[Row] => Unit])] = Seq(
      ("null quantity1 throws, naming the operator and the column",
        Seq(ev("a", "x", 1L, 10.0, 1.0), ev("a", "x", 2L, null, 2.0)), 10.0, 1,
        Left(Seq("weightedBins", "non-null quantity1", "`vol`"))),
      ("null quantity2 throws, naming the operator and the column",
        Seq(ev("a", "x", 1L, 10.0, 1.0), ev("a", "x", 2L, 10.0, null)), 10.0, 1,
        Left(Seq("weightedBins", "non-null quantity2", "`px`"))),
      ("NaN quantity1 throws",
        Seq(ev("a", "x", 1L, 10.0, 1.0), ev("a", "x", 2L, nan, 2.0)), 10.0, 1,
        Left(Seq("weightedBins", "finite quantity1 >= 0", "`vol`", "NaN"))),
      ("+Inf quantity1 throws",
        Seq(ev("a", "x", 1L, Double.PositiveInfinity, 1.0), ev("a", "x", 2L, 10.0, 2.0)), 10.0, 1,
        Left(Seq("weightedBins", "finite quantity1 >= 0", "`vol`", "Infinity"))),
      ("-Inf quantity1 throws",
        Seq(ev("a", "x", 1L, 10.0, 1.0), ev("a", "x", 2L, Double.NegativeInfinity, 2.0)), 10.0, 1,
        Left(Seq("weightedBins", "finite quantity1 >= 0", "`vol`", "-Infinity"))),
      ("NaN quantity2 is kept and is NaN only in the bins that consume it",
        Seq(1.0, 2.0, nan, 4.0, 5.0).zipWithIndex.map { case (q2, i) =>
          ev("a", "x", i.toLong, 10.0, q2) }, 10.0, 2,
        Right { out =>
          val want = Seq((2.0, nan), (nan, 4.0), (4.0, 5.0), (5.0, nan))
          assert(out.size == want.size, s"got ${out.size} rows")
          out.zip(want).foreach { case (r, (b1, b2)) =>
            assert(sameDouble(r.getAs[Double]("bin_1_avg"), b1) &&
              sameDouble(r.getAs[Double]("bin_2_avg"), b2), s"row $r, want ($b1, $b2)")
          }
          assert(out(2).getAs[Double]("px").isNaN, "the NaN row keeps its own quantity2")
        }),
      ("null ID1 / ID2 are key values: each null-bearing key is one group",
        Seq(ev(null, "x", 1L, 10.0, 1.0), ev(null, "x", 2L, 10.0, 2.0),
          ev("a", null, 1L, 10.0, 3.0), ev("a", null, 2L, 10.0, 4.0),
          ev("a", "x", 1L, 10.0, 5.0), ev("a", "x", 2L, 10.0, 6.0)), 10.0, 1,
        Right { out =>
          assert(out.map(r => (r.getAs[String]("ID1"), r.getAs[String]("ID2"),
            r.getAs[Double]("bin_1_avg"))) == Seq((null, "x", 2.0), ("a", null, 4.0), ("a", "x", 6.0)))
        }),
      ("null timestamp sorts first within its group",
        Seq(ev("a", "x", 2L, 10.0, 9.0), ev("a", "x", null, 10.0, 7.0), ev("a", "x", 1L, 10.0, 8.0)),
        10.0, 1,
        Right { out =>
          assert(out.map(r => (Option(r.getAs[java.sql.Timestamp]("timestamp")).map(_.getTime),
            r.getAs[Double]("bin_1_avg"))) == Seq((None, 8.0), (Some(1000L), 9.0)))
        }),
      ("empty input gives empty output", Seq(), 10.0, 1,
        Right(out => assert(out.isEmpty))),
      ("a single-row group emits no rows",
        Seq(ev("a", "x", 1L, 10.0, 1.0), ev("b", "x", 1L, 10.0, 2.0), ev("b", "x", 2L, 10.0, 3.0)),
        10.0, 1,
        Right(out => assert(out.map(_.getAs[String]("ID1")) == Seq("b")))))

    table.foreach { case (policy, rows, binSize, maxBins, expect) =>
      val run = () => bins(spark, rows, binSize, maxBins).orderBy("ID1", "ID2", "timestamp").collect().toSeq
      expect match {
        case Left(parts) =>
          val msg = messages(intercept[Exception](run()))
          parts.foreach(p => assert(msg.contains(p), s"$policy: '$p' not in: $msg"))
        case Right(check) =>
          withClue(s"$policy: ")(check(run()))
      }
    }
  }

  /** Every node of an executed plan, through AQE wrappers and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other.children.flatMap(nodes)
  })

  private def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeExec])
  private def globalSorts(p: SparkPlan): Int = nodes(p).count {
    case s: SortExec => s.global
    case _ => false
  }

  /** Four groups (two with a null id) of 30 events, one null timestamp each. */
  private val orderRows: Seq[Row] = for {
    (id1, id2) <- Seq((null, "x"), ("a", null), ("a", "x"), ("b", "y"))
    i <- 0 until 30
  } yield ev(id1, id2, if (i == 7) null else java.lang.Long.valueOf((i * 37L) % 101),
    ((i * 13) % 9).toDouble, i.toDouble)

  test("plan shape: orderBy(ID1, ID2, timestamp) adds no exchange and no sort; rows in order") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val sorted = bins(spark, orderRows, 10.0, 3).orderBy("ID1", "ID2", "timestamp")
      val got = sorted.collect().toSeq
      val plan = sorted.queryExecution.executedPlan
      assert(exchanges(plan) == 1, s"want the one range exchange:\n$plan")
      assert(globalSorts(plan) == 0, s"want no global sort:\n$plan")
      // the same rows sorted in Scala: ids and timestamp ascending, nulls first
      def key(r: Row): (Option[String], Option[String], Option[Long]) =
        (Option(r.getString(0)), Option(r.getString(1)),
          Option(r.getAs[java.sql.Timestamp](2)).map(_.getTime))
      val want = bins(spark, orderRows, 10.0, 3).collect().toSeq.sortBy(key)
      assert(got.size == orderRows.size - 4)
      assert(got == want)

      // negative control: an order the node does not declare keeps its exchange and sort
      val byQ1 = bins(spark, orderRows, 10.0, 3).orderBy("vol")
      byQ1.collect()
      assert(exchanges(byQ1.queryExecution.executedPlan) == 2)
      assert(globalSorts(byQ1.queryExecution.executedPlan) == 1)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("strategy: attached per session, idempotently; without it planning fails") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(WeightedBinsStrategy))
    val there = bins(fresh, orderRows, 10.0, 3).orderBy("ID1", "ID2", "timestamp").collect().toSeq
    val here = bins(spark, orderRows, 10.0, 3).orderBy("ID1", "ID2", "timestamp").collect().toSeq
    assert(there == here)
    bins(fresh, orderRows, 10.0, 3)
    assert(fresh.experimental.extraStrategies.count(_ == WeightedBinsStrategy) == 1)

    val bare = spark.newSession()
    val df = bins(bare, orderRows, 10.0, 3)
    bare.experimental.extraStrategies = Nil
    val msg = messages(intercept[Throwable](df.collect()))
    assert(msg.contains("No plan for"), msg)
  }
}
