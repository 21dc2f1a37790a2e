package graft

import graft.core.Panel
import graft.ops.{CrossFeature, Garch, Outliers, Regimes}
import graft.ops.stat.Stats

/** Specs for K9 regimes (golden parity vs the reference's recorded
  * statsmodels run), K10 GARCH (synthetic-parameter recovery — the
  * reference run has no golden data, SURVEY Q4), and K11 outliers
  * (property tests — sklearn parity is a declared non-goal).
  */
class AdvancedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wide = spark.read.parquet("src/test/resources/panel/panel.parquet")
  private lazy val melted =
    Panel.melt(wide, "date", Seq("name"), Seq("feature_1", "feature_2", "feature_3"))
  private lazy val meltedF1 = melted.filter($"feature" === "feature_1")

  private def goldenRegimes: Seq[Map[String, String]] = {
    val lines = scala.io.Source
      .fromFile("/root/reference/time_series_study/results/regime_detection.csv")
      .getLines().toSeq
    val header = lines.head.split(",", -1)
    lines.tail.filter(_.nonEmpty).map(l => header.zip(l.split(",", -1)).toMap)
  }

  test("regime detection matches recorded reference llf/aic/bic and probs") {
    val got = Regimes.regimeDetection(meltedF1).collect()
      .map(r => r.getAs[String]("group_key") -> r).toMap
    val g = goldenRegimes
    assert(g.size == 5)
    var exact = 0
    g.foreach { row =>
      val r = got(row("group"))
      val llf = r.getAs[Double]("log_likelihood")
      val goldenLlf = row("log_likelihood").toDouble
      // never worse than the recorded optimum
      assert(llf >= goldenLlf - 1e-6, s"${row("group")} llf $llf < golden $goldenLlf")
      if (llf <= goldenLlf + 1e-4) {
        // same mode: probs (up to relabeling) and the switches quirk match
        val gp = Seq(row("regime_1_prob").toDouble, row("regime_2_prob").toDouble).sorted
        val op = Seq(r.getAs[Double]("regime_1_prob"), r.getAs[Double]("regime_2_prob")).sorted
        gp.zip(op).foreach { case (w, o) =>
          assert(math.abs(w - o) < 5e-3, s"${row("group")} probs $op vs $gp")
        }
        assert(r.getAs[Int]("regime_switches") == row("regime_switches").toInt)
        exact += 1
      }
      // else: strictly better likelihood mode than the reference's recorded
      // 50-iteration BFGS fit — documented divergence, llf-dominance asserted
    }
    assert(exact >= 3, s"only $exact/5 groups matched the recorded optimum")
  }

  test("general-k regime detection recovers 3 well-separated means") {
    val rng = new scala.util.Random(41)
    val n = 600
    val mus = Array(-5.0, 0.0, 5.0)
    // sticky 3-state chain: stay 0.95, move to either neighbor equally
    val y = new Array[Double](n)
    val dates = new Array[java.sql.Timestamp](n)
    var st = 0
    for (t <- 0 until n) {
      if (rng.nextDouble() > 0.95) st = (st + 1 + rng.nextInt(2)) % 3
      y(t) = mus(st) + rng.nextGaussian() * 0.5
      dates(t) = java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusDays(t))
    }
    val df = dates.zip(y).toSeq.toDF("date", "value")
      .select($"date", org.apache.spark.sql.functions.lit("g").as("group_key"),
        org.apache.spark.sql.functions.lit("value").as("feature"), $"value")
    val out = Regimes.regimeDetection(df, 3).collect()
    assert(out.length == 1)
    val r = out.head
    val got = Seq(r.getAs[Double]("mu_1"), r.getAs[Double]("mu_2"), r.getAs[Double]("mu_3")).sorted
    mus.zip(got).foreach { case (w, o) =>
      assert(math.abs(w - o) < 0.5, s"means $got vs ${mus.toSeq}")
    }
    assert(!r.getAs[Double]("log_likelihood").isNaN)
    assert((0 until 3).forall(j => r.getAs[Double](s"p$j$j") > 0.5),
      "sticky chain should recover sticky diagonals")
    assert(r.getAs[Double]("sigma2") < 1.0)
  }

  test("garch recovers known parameters on a synthetic series") {
    // deterministic GARCH(1,1): omega=0.1, alpha=0.1, beta=0.8, mu=0
    val rng = new scala.util.Random(7)
    val n = 3000
    val (om, al, be) = (0.1, 0.1, 0.8)
    val y = new Array[Double](n)
    var s2 = om / (1 - al - be)
    var e = 0.0
    for (t <- 0 until n) {
      if (t > 0) s2 = om + al * e * e + be * s2
      e = math.sqrt(s2) * rng.nextGaussian()
      y(t) = e
    }
    val fit = Garch.fit(y, "GARCH")
    assert(math.abs(fit.alpha - al) < 0.05, s"alpha ${fit.alpha}")
    assert(math.abs(fit.beta - be) < 0.08, s"beta ${fit.beta}")
    assert(math.abs(fit.mu) < 0.05, s"mu ${fit.mu}")
    assert(fit.alpha + fit.beta < 1.0)
    assert(fit.condVol.forall(v => v > 0 && !v.isNaN))
    // llf at fitted params must beat the true-parameter llf's neighborhood
    assert(!fit.llf.isNaN && fit.llf.abs < 1e6)
  }

  test("gjr-garch recovers leverage on a synthetic asymmetric series") {
    val rng = new scala.util.Random(13)
    val n = 4000
    val (om, al, be, ga) = (0.1, 0.05, 0.8, 0.1)
    val y = new Array[Double](n)
    var s2 = om / (1 - al - be - ga / 2)
    var e = 0.0
    for (t <- 0 until n) {
      if (t > 0) s2 = om + (al + (if (e < 0) ga else 0.0)) * e * e + be * s2
      e = math.sqrt(s2) * rng.nextGaussian()
      y(t) = e
    }
    val fit = Garch.fit(y, "GJR-GARCH")
    assert(fit.gamma > 0.02, s"gamma ${fit.gamma}")
    assert(math.abs(fit.beta - be) < 0.1, s"beta ${fit.beta}")
    // persistence quirk: alpha+beta only, gamma excluded like the reference
    assert(math.abs(fit.persistence - (fit.alpha + fit.beta)) < 1e-12)
    // GJR llf must beat plain GARCH on leveraged data
    val plain = Garch.fit(y, "GARCH")
    assert(fit.llf >= plain.llf - 1e-6, s"${fit.llf} vs ${plain.llf}")
  }

  test("gjr-garch can recover NEGATIVE leverage (arch allows alpha+gamma>=0)") {
    val rng = new scala.util.Random(23)
    val n = 4000
    val (om, al, be, ga) = (0.1, 0.08, 0.8, -0.04)
    val y = new Array[Double](n)
    var s2 = om / (1 - al - be - ga / 2)
    var e = 0.0
    for (t <- 0 until n) {
      if (t > 0) s2 = om + (al + (if (e < 0) ga else 0.0)) * e * e + be * s2
      e = math.sqrt(s2) * rng.nextGaussian()
      y(t) = e
    }
    val fit = Garch.fit(y, "GJR-GARCH")
    assert(fit.gamma < 0, s"gamma ${fit.gamma} should be negative")
    assert(fit.alpha + fit.gamma >= -1e-12, s"alpha+gamma ${fit.alpha + fit.gamma}")
  }

  test("egarch recovers parameters on a synthetic series") {
    // ln s2_t = om + be*ln s2_{t-1} + al(|z|-c) + ga*z
    val rng = new scala.util.Random(17)
    val n = 4000
    val (om, al, be, ga) = (0.02, 0.15, 0.9, -0.08)
    val c = math.sqrt(2.0 / math.Pi)
    val y = new Array[Double](n)
    var ls2 = om / (1 - be)
    var z = 0.0
    for (t <- 0 until n) {
      if (t > 0) ls2 = om + be * ls2 + al * (math.abs(z) - c) + ga * z
      z = rng.nextGaussian()
      y(t) = math.sqrt(math.exp(ls2)) * z
    }
    val fit = Garch.fit(y, "EGARCH")
    assert(math.abs(fit.beta - be) < 0.1, s"beta ${fit.beta}")
    assert(math.abs(fit.alpha - al) < 0.1, s"alpha ${fit.alpha}")
    assert(fit.gamma < 0, s"gamma ${fit.gamma} (leverage sign)")
    assert(fit.condVol.forall(v => v > 0 && !v.isNaN && !v.isInfinite))
    assert(!fit.llf.isNaN)
  }

  test("nllCores matches an independent recursion at the start parameters") {
    val rng = new scala.util.Random(31)
    val n = 400
    val y = Array.fill(n)(5.0 + rng.nextGaussian())
    val dates = (0 until n).map(i => new java.sql.Timestamp(86400000L * i))
    val df = y.zip(dates).toSeq
      .map { case (v, d) => ("g", "f", d, v) }
      .toDF("group_key", "feature", "date", "value")
    val row = Garch.nllCores(df, minLen = 50).collect().head
    // independent GARCH recursion (not via variancePath)
    val mean = y.sum / n
    val vp = y.map(v => (v - mean) * (v - mean)).sum / n
    val e2 = y.map(v => (v - mean) * (v - mean))
    val m = math.min(75, n)
    val ws = (0 until m).map(i => math.pow(0.94, i))
    val bc = (0 until m).map(i => ws(i) * e2(i)).sum / ws.sum
    val om = math.max(0.10 * vp, 1e-12)
    var s2 = bc
    var nll = 0.0
    for (t <- 0 until n) {
      if (t > 0) s2 = om + 0.05 * e2(t - 1) + 0.85 * s2
      nll += 0.5 * (math.log(2 * math.Pi) + math.log(s2) + e2(t) / s2)
    }
    assert(math.abs(row.getAs[Double]("garch_nll0") - nll) < 1e-8)
    // at gamma=0 the GJR recursion with its own omega differs, EGARCH is finite
    assert(!row.getAs[Double]("gjr_nll0").isNaN)
    assert(!row.getAs[Double]("egarch_nll0").isNaN)
  }

  test("regime filter analytic gradient matches central finite differences") {
    import breeze.linalg.DenseVector
    val rng = new scala.util.Random(61)
    val n = 200
    val y = Array.tabulate(n)(i => (if ((i / 40) % 2 == 0) -1.2 else 1.1) + 0.4 * rng.nextGaussian())
    val th = DenseVector(2.0, 1.5, -1.0, 1.0, math.log(0.2))
    val (f0, g) = Regimes.filterNllGrad2(y)(th)
    assert(!f0.isNaN)
    val h = 1e-6
    for (q <- 0 until 5) {
      val tp = th.copy; tp(q) += h
      val tm = th.copy; tm(q) -= h
      val fd = (Regimes.filterNllGrad2(y)(tp)._1 - Regimes.filterNllGrad2(y)(tm)._1) / (2 * h)
      assert(math.abs(g(q) - fd) < 1e-4 * math.max(1.0, math.abs(fd)),
        s"param $q: analytic ${g(q)} vs fd $fd")
    }
  }

  test("hamiltonPass matches an independent filter recursion at pinned params") {
    val rng = new scala.util.Random(53)
    val n = 300
    val y = Array.tabulate(n)(i => (if ((i / 50) % 2 == 0) -1.0 else 1.0) + 0.3 * rng.nextGaussian())
    val mean = y.sum / n
    val vp = y.map(v => (v - mean) * (v - mean)).sum / n
    val sd = math.sqrt(vp)
    val (mu0, mu1) = (mean - sd, mean + sd)
    val (llf, meanF0) = Regimes.hamiltonPass(y, 0.9, 0.9, mu0, mu1, vp)
    // independent TWO-state recursion (the emAt form): the single-state
    // core (f1 = 1 - f0) must agree to ulp-level accumulation error
    val c = math.sqrt(2.0 * math.Pi * vp)
    var (f0, f1) = (0.0, 0.0)
    var ll = 0.0
    var sf0 = 0.0
    for (t <- 0 until n) {
      val (pr0, pr1) =
        if (t == 0) (0.5, 0.5) else (f0 * 0.9 + f1 * 0.1, f0 * 0.1 + f1 * 0.9)
      val r0 = pr0 * math.exp(-0.5 * (y(t) - mu0) * (y(t) - mu0) / vp) / c
      val r1 = pr1 * math.exp(-0.5 * (y(t) - mu1) * (y(t) - mu1) / vp) / c
      val s = r0 + r1
      ll += math.log(s)
      f0 = r0 / s; f1 = r1 / s
      sf0 += f0
    }
    assert(math.abs(llf - ll) < 1e-9, s"$llf vs $ll")
    assert(math.abs(meanF0 - sf0 / n) < 1e-12)
    // the alternating series spends about half its time in each regime
    assert(meanF0 > 0.3 && meanF0 < 0.7)
  }

  test("grangerChi2 is the statistic grangerMinP thresholds at maxLag=1") {
    val rng = new scala.util.Random(41)
    val n = 200
    val b = Array.fill(n)(rng.nextGaussian())
    val a = Array.tabulate(n)(i => (if (i > 0) 0.6 * b(i - 1) else 0.0) + 0.2 * rng.nextGaussian())
    val chi2 = CrossFeature.grangerChi2(a, b, 1)
    assert(math.abs(CrossFeature.grangerMinP(a, b, 1) - Stats.chi2Sf(chi2, 1)) < 1e-14)
    assert(chi2 > 10.0, s"b strongly causes a: $chi2") // strong signal by construction
    // egFit matches the closed-form bivariate OLS
    val fit = CrossFeature.egFit(a, b)
    val (ma, mb) = (a.sum / n, b.sum / n)
    val beta = a.zip(b).map { case (x, z) => (x - ma) * (z - mb) }.sum /
      b.map(z => (z - mb) * (z - mb)).sum
    assert(math.abs(fit.beta(0) - beta) < 1e-10)
    assert(math.abs(fit.beta(1) - (ma - beta * mb)) < 1e-10)
  }

  test("garch analytic gradient matches central finite differences") {
    import breeze.linalg.DenseVector
    val rng = new scala.util.Random(31)
    val y = Array.fill(200)(rng.nextGaussian() * 0.5)
    val dims = Map("GARCH" -> 4, "GJR-GARCH" -> 5, "EGARCH" -> 5)
    for ((model, dim) <- dims; trial <- 1 to 5) {
      val th = DenseVector.fill(dim)(rng.nextGaussian() * 0.5)
      // keep EGARCH beta param away from tanh saturation
      if (model == "EGARCH") th(3) = rng.nextDouble() * 2.0 - 1.0
      val (f0, g) = Garch.nllGrad(model, y)(th)
      assert(!f0.isNaN && f0 < 1e9, s"$model trial $trial landed in penalty zone")
      val h = 1e-6
      for (j <- 0 until dim) {
        val tp = th.copy; tp(j) += h
        val tm = th.copy; tm(j) -= h
        val fd = (Garch.nllGrad(model, y)(tp)._1 - Garch.nllGrad(model, y)(tm)._1) / (2 * h)
        val tol = 1e-4 * math.max(1.0, math.abs(fd))
        assert(math.abs(g(j) - fd) < tol,
          s"$model trial $trial d$j: analytic ${g(j)} vs fd $fd")
      }
    }
  }

  test("garch volatility analysis emits one row per qualifying series") {
    // panel series are length 60 > 50 => 15 rows
    val out = Garch.volatilityAnalysis(melted)
    val rows = out.collect()
    assert(rows.length == 15)
    // fits may be poor on non-return data (the reference's all failed), but
    // persistence must be in [0, 1) wherever a fit succeeded
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("persistence"))) {
        val p = r.getAs[Double]("persistence")
        assert(p >= 0 && p < 1.0, s"persistence $p")
      }
    }
  }

  test("isolation forest labels ~contamination fraction, deterministic") {
    val x = (0 until 100).map(i => math.sin(i * 0.3) * 2).toArray
      .updated(17, 25.0).updated(63, -30.0)
    val (labels, _) = Outliers.isolationForest(x, contamination = 0.1, seed = 42L)
    val rate = labels.count(_ == -1).toDouble / x.length
    assert(rate >= 0.05 && rate <= 0.15, s"rate $rate")
    // the two gross outliers must be flagged
    assert(labels(17) == -1 && labels(63) == -1)
    val (labels2, _) = Outliers.isolationForest(x, contamination = 0.1, seed = 42L)
    assert(labels.sameElements(labels2))
  }

  test("LOF flags isolated points") {
    val x = ((0 until 50).map(_.toDouble / 10) ++ Seq(50.0, -40.0)).toArray
    val (labels, nof) = Outliers.localOutlierFactor(x, nNeighbors = 20)
    assert(labels(50) == -1 && labels(51) == -1)
    assert(nof(50) < -1.5 && nof(51) < -1.5)
  }

  test("zscore kernel agrees with the relational z-score semantics") {
    val x = ((1 to 99).map(_ => 10.0) ++ Seq(1000.0)).toArray
    val (labels, z) = Outliers.zscore(x)
    assert(labels.count(_ == -1) == 1 && labels(99) == -1)
    assert(math.abs(z(99) - math.sqrt(99.0)) < 1e-9) // z of the single spike
  }

  test("outlier summary over the fixture panel emits 15 rows per method") {
    for (m <- Seq("isolation_forest", "local_outlier_factor", "zscore")) {
      val out = Outliers.outlierSummary(melted, m).collect()
      assert(out.length == 15, s"$m: ${out.length}")
      out.foreach { r =>
        val rate = r.getAs[Double]("outlier_rate")
        assert(rate >= 0 && rate <= 0.2, s"$m rate $rate")
      }
    }
  }
}
