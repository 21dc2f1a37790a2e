package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-annotator label aggregation — the labeling-pipeline ops that sit
  * upstream of every supervised filter this library trains (the quality
  * classifier's `y`, label propagation's seeds, nearest-centroid's
  * fit labels): collapse redundant human/model votes to one consensus
  * label per item, and score each annotator against that consensus.
  * Majority vote is the standard baseline the annotator-quality EM
  * literature starts from (Dawid & Skene 1979 §1 — their EM's init IS
  * majority vote; Snorkel-style weak supervision reports against it),
  * and per-annotator agreement-with-consensus is the monitoring number
  * labeling ops teams track per batch (pair it with
  * [[Classifier.agreementKappa]] for the chance-corrected version
  * between two specific annotators).
  *
  * Scale shape: everything is keyed — one (item, label) count aggregate
  * (map-combinable), a per-item argmax window PARTITIONED by item (never
  * global), an item-keyed totals join, and an annotator-keyed aggregate
  * for quality. Nothing is ever annotator-set × corpus shaped; a viral
  * item (millions of votes on one id) skews one partition of the count
  * aggregate and is exactly the AQE skew case.
  *
  * Determinism: consensus ties break (n_votes desc, label asc) — the
  * library's standard lexicographic tie rule — and vote fractions /
  * agreement rates are 1e-6-canonized, so the consensus labeling is a
  * pure function of the vote multiset on any engine. Null labels are
  * dropped before counting (an abstention, not a vote); duplicate
  * (item, annotator) rows count as separate votes — dedup upstream if
  * the protocol forbids re-voting. */
object Annotations {

  private def quantC(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Consensus label per item by majority vote. Output:
    * (idCol, label, n_votes, n_total, vote_frac) — the winning label,
    * its vote count, the item's total (non-null) votes, and the
    * canonized winning fraction (the per-item confidence a curation
    * threshold cuts on). */
  def majorityVote(votes: DataFrame,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    val v = votes.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol).as("label"))
    val counts = v.groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val totals = v.groupBy(col(idCol)).agg(count(lit(1)).as("n_total"))
    counts
      .withColumn("rn", row_number().over(
        Window.partitionBy(idCol).orderBy(col("n_votes").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .join(totals, idCol)
      .select(col(idCol), col("label"), col("n_votes"), col("n_total"),
        quantC(col("n_votes") / col("n_total")).as("vote_frac"))
  }

  /** Accuracy-weighted vote — the one-half-EM-step upgrade of
    * [[majorityVote]] (Dawid & Skene's first iteration collapsed to a
    * scalar reliability; the log-odds weights are the Nitzan–Paroush
    * 1982 optimal-committee rule): each annotator's vote counts
    * w_a = ln(α_a / (1 − α_a)), with α_a the annotator's agreement rate
    * against a prior consensus ([[annotatorQuality]]'s output, or a gold
    * frame). A reliable annotator outvotes several mediocre ones; a
    * worse-than-chance annotator (α < 0.5) gets a NEGATIVE weight — its
    * vote counts against its own label, exactly what the optimal rule
    * prescribes. α is clamped to [0.01, 0.99] before the log-odds so a
    * perfect-agreement annotator cannot produce an infinite weight
    * (clamp documented, not silent: the weight saturates at ±ln 99).
    *
    * Determinism: weights are 1e-6-canonized BEFORE the per-(item,
    * label) sum and the summed score is canonized again before the
    * argmax ((score desc, label asc) tie rule), so both engines replay
    * identical decisions — the classifier-trainer lockstep convention.
    * Same keyed-aggregate scale shape as [[majorityVote]]; the quality
    * frame is annotator-count-sized and broadcasts.
    *
    * Annotators ABSENT from `quality` vote with weight 0 (left join +
    * coalesce): α = 0.5 — no information about reliability — gives
    * exactly w = ln(0.5/0.5) = 0 under the log-odds rule, so an unknown
    * annotator neither helps nor hurts any label, while its votes still
    * count in n_votes (round-10 advice: the earlier inner join silently
    * dropped them and understated participation). Output:
    * (idCol, label, score, n_votes). */
  def weightedVote(votes: DataFrame, quality: DataFrame,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    val alpha = least(greatest(col("agreement").cast("double"), lit(0.01)), lit(0.99))
    val w = quality.select(col(annotatorCol),
      quantC(log(alpha / (lit(1.0) - alpha))).as("w"))
    val v = votes.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(annotatorCol), col(labelCol).as("label"))
      .join(broadcast(w), Seq(annotatorCol), "left")
      .withColumn("w", coalesce(col("w"), lit(0.0)))
    v.groupBy(col(idCol), col("label"))
      .agg(quantC(sum(col("w"))).as("score"), count(lit(1)).as("n_votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(idCol).orderBy(col("score").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label"), col("score"), col("n_votes"))
  }

  /** Full Dawid–Skene EM (Dawid & Skene 1979, "Maximum Likelihood
    * Estimation of Observer Error-Rates Using the EM Algorithm") — the
    * completion of the [[weightedVote]] half-step: instead of one scalar
    * reliability per annotator, EM fits a per-annotator CONFUSION MATRIX
    * π_a(l, m) = P(annotator a says m | true label l) plus class priors
    * p_l, and infers a posterior over the true label per item.
    *
    *   - init (round 0): T(i, l) = observed vote proportion n(i,l)/n(i)
    *     — the paper's §3 starting point; its hard argmax IS
    *     [[majorityVote]]'s winner (same (count desc, label asc) order,
    *     spec-pinned);
    *   - M-step: p_l = Σ_i T(i,l) / I, and π_a(l,m) =
    *     (Σ_{votes(i,a,m)} T(i,l) + λ) / (Σ_{m'} Σ_{votes(i,a,m')}
    *     T(i,l) + λ·|L|) with Laplace smoothing λ = `smoothing` so every
    *     cell stays strictly positive (an unsmoothed zero would wipe a
    *     label's posterior on one stray vote and break the log-space
    *     E-step);
    *   - E-step: T(i,l) ∝ p_l · exp(Σ_{votes (a,m) on i} ln π_a(l,m)),
    *     normalized per item, with a log-sum-exp shift: the vote
    *     log-likelihood sum grows with vote count (≈ −1,040 for 1,500
    *     coin-flip votes, past exp's underflow floor), so the per-item
    *     max is subtracted before exp — shift-invariant under the
    *     normalization, and the one guard that keeps viral-item
    *     posteriors finite.
    *
    * Determinism (the classifier-trainer lockstep convention): T, p and
    * π are 1e-6-canonized after every stage, per round, so both engines
    * replay bit-identical state — exp/ln last-ulp drift is absorbed by
    * the canon exactly as in the BM25/calibration oracles, and the
    * driver query unrolls every round in SQL.
    *
    * Scale shape: per round, ONE item-keyed join of the vote stream with
    * the posterior frame plus keyed aggregates; π (annotators × |L|²) and
    * p (|L|) are model-sized and broadcast; T (items × |L|) is
    * corpus-sized but never leaves the cluster — each round's frame is
    * [[graft.core.Ckpt.pin]]ned to cut the unrolled-plan lineage (the
    * [[LabelProp.propagate]] pattern). Null labels are abstentions
    * (dropped); items with no non-null votes produce no posterior rows.
    *
    * Output: the full posterior grid (idCol, label, posterior) — one row
    * per item per CANDIDATE label (every label the corpus ever saw, not
    * just the item's voted ones). Cut to a consensus with
    * [[dawidSkeneConsensus]]. */
  def dawidSkene(votes: DataFrame, rounds: Int = 2, smoothing: Double = 0.01,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame =
    dawidSkeneCore(votes, rounds, smoothing, idCol, annotatorCol, labelCol)._1
      .select(col(idCol), col("label"), col("t").as("posterior"))

  /** The fitted model half of [[dawidSkene]]: the per-annotator
    * confusion matrices from the FINAL M-step — π_a(l, m) = P(annotator
    * a votes m | true label l), Laplace-smoothed and canonized exactly
    * as the E-step consumed them. This is the labeling-ops monitoring
    * read-out EM buys over scalar agreement: it separates "annotator b
    * collapses x into y" from "annotator b is uniformly noisy", which no
    * single α can express. Output: (annotatorCol, true_label,
    * vote_label, pi); rows cover the full annotator × |L|² grid.
    * Requires rounds ≥ 1 (round 0 has no M-step). */
  def dawidSkeneModel(votes: DataFrame, rounds: Int = 2, smoothing: Double = 0.01,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 for the model read-out, got $rounds")
    dawidSkeneCore(votes, rounds, smoothing, idCol, annotatorCol, labelCol)._2
      .select(col("annotator").as(annotatorCol), col("l").as("true_label"),
        col("m").as("vote_label"), col("pi"))
  }

  /** One EM fit, all three outputs: ([[dawidSkene]]'s posterior grid,
    * [[dawidSkeneModel]]'s confusion grid, the [[dawidSkeneTrace]]
    * read-out) sharing the SAME pinned per-round state — a caller
    * persisting them (the standing-model deployment shape: fit once per
    * labeling batch, read many) pays the EM once instead of three times.
    * Requires rounds ≥ 1 (the model needs an M-step). */
  def dawidSkeneFitAll(votes: DataFrame, rounds: Int = 2, smoothing: Double = 0.01,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): (DataFrame, DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1 for the fit, got $rounds")
    val (t, conf, trace) =
      dawidSkeneCore(votes, rounds, smoothing, idCol, annotatorCol, labelCol)
    (t.select(col(idCol), col("label"), col("t").as("posterior")),
      conf.select(col("annotator").as(annotatorCol), col("l").as("true_label"),
        col("m").as("vote_label"), col("pi")),
      trace)
  }

  /** Per-round data log-likelihood of the [[dawidSkene]] EM — the
    * convergence read-out that lets an operator SEE whether `rounds` was
    * enough instead of guessing: llf_r = Σ_i ln Σ_l p_l^{(r)}
    * Π_{votes (a,m) on i} π_a^{(r)}(l, m), evaluated after round r's
    * M-step in shifted (log-sum-exp) form, Σ_i (mx_i + ln z_i). EM
    * guarantees llf is monotone non-decreasing in r (spec-pinned on the
    * fixture against an independent python mirror); a flat tail says the
    * fit converged, a still-rising tail says raise `rounds`. One keyed
    * rollup + a 1-row aggregate per round over the round's ALREADY
    * pinned E-step frame — the trace costs no extra corpus passes.
    * Output: (round, llf), round ∈ [1, rounds], canonized. */
  def dawidSkeneTrace(votes: DataFrame, rounds: Int = 2, smoothing: Double = 0.01,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1 for the trace, got $rounds")
    dawidSkeneCore(votes, rounds, smoothing, idCol, annotatorCol, labelCol)._3
  }

  private def dawidSkeneCore(votes: DataFrame, rounds: Int, smoothing: Double,
      idCol: String, annotatorCol: String, labelCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    require(smoothing > 0, s"smoothing must be > 0, got $smoothing")
    val v = votes.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(annotatorCol).as("annotator"),
        col(labelCol).as("m"))
    val labels = v.select(col("m").as("label")).distinct()
    val nLabels = labels.agg(count(lit(1)).cast("double").as("n_labels"))
    val totals = v.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val counts = v.groupBy(col(idCol), col("m").as("label"))
      .agg(count(lit(1)).as("c"))
    // full item × label grid — posteriors must cover labels the item
    // never received (priors + confusions can move mass onto them)
    val init = totals.crossJoin(broadcast(labels))
      .join(counts, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        quantC(coalesce(col("c"), lit(0L)) / col("n")).as("t"))
    var t = graft.core.Ckpt.pin(init)
    var lastConf: DataFrame = null
    val llfRows = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val nItems = totals.agg(count(lit(1)).cast("double").as("n_items"))
    for (r <- 1 to rounds) {
      // M-step: class priors from the posterior mass
      val priors = t.groupBy(col("label"))
        .agg(sum(col("t")).as("s"))
        .crossJoin(broadcast(nItems))
        .select(col("label"), quantC(col("s") / col("n_items")).as("p"))
      // M-step: confusion numerators — votes carry their item's posterior
      // for EVERY candidate true label l; canonized before the row-sum so
      // the denominator adds exact 1e-6-grid values
      val num = v.join(t.select(col(idCol), col("label").as("l"), col("t")), idCol)
        .groupBy(col("annotator"), col("l"), col("m"))
        .agg(quantC(sum(col("t"))).as("s"))
      val annotators = v.select(col("annotator")).distinct()
      val grid = annotators
        .crossJoin(broadcast(labels.select(col("label").as("l"))))
        .crossJoin(broadcast(labels.select(col("label").as("m"))))
        .join(num, Seq("annotator", "l", "m"), "left")
        .select(col("annotator"), col("l"), col("m"),
          coalesce(col("s"), lit(0.0)).as("s"))
      val conf = grid
        .withColumn("den", sum(col("s")).over(
          Window.partitionBy(col("annotator"), col("l"))))
        .crossJoin(broadcast(nLabels))
        .select(col("annotator"), col("l"), col("m"),
          quantC((col("s") + lit(smoothing)) /
            (col("den") + lit(smoothing) * col("n_labels"))).as("pi"))
      lastConf = conf
      // E-step: per (item, candidate label) log-likelihood of the item's
      // votes, plus the prior, normalized per item. s_ln is a SUM of
      // ln π over the item's votes, so it scales with vote count — a
      // viral item (~1,500 coin-flip votes ⇒ s_ln ≈ −1,040) underflows
      // exp(s_ln) to 0 for EVERY label, making z = 0 and the posterior
      // 0/0. Log-sum-exp: shift by the per-item max of s_ln before exp
      // (one window max); the normalized ratio is shift-invariant, so
      // the canon and the oracle replay (which mirrors the same shift)
      // are unaffected. The max is finite whenever the item has any
      // vote (π is smoothed strictly positive). The shifted frame is
      // pinned ONCE per round because it has two consumers — the
      // posterior normalization and the llf trace read-out — and the
      // multi-consumer-subtree lesson (lshCore) says never rely on
      // ReuseExchange to dedupe them.
      val scored = graft.core.Ckpt.pin(v
        .join(broadcast(conf), Seq("annotator", "m"))
        .groupBy(col(idCol), col("l").as("label"))
        .agg(sum(log(col("pi"))).as("s_ln"))
        .join(broadcast(priors), "label")
        .withColumn("mx", max(col("s_ln")).over(Window.partitionBy(col(idCol))))
        .select(col(idCol), col("label"), col("mx"),
          (col("p") * exp(col("s_ln") - col("mx"))).as("u")))
      t = graft.core.Ckpt.pin(scored
        .withColumn("z", sum(col("u")).over(Window.partitionBy(col(idCol))))
        .select(col(idCol), col("label"), quantC(col("u") / col("z")).as("t")))
      // data log-likelihood after this round's M-step: Σ_i ln Σ_l p_l
      // exp(s_ln) = Σ_i (mx_i + ln z_i) in shifted form — one keyed
      // rollup + a 1-row aggregate over the pinned frame, canonized
      llfRows += scored.groupBy(col(idCol))
        .agg(max(col("mx")).as("mx"), sum(col("u")).as("z"))
        .agg(quantC(sum(col("mx") + log(col("z")))).as("llf"))
        .select(lit(r).as("round"), col("llf"))
    }
    val trace =
      if (llfRows.isEmpty)
        v.sparkSession.emptyDataFrame
          .select(lit(0).as("round"), lit(0.0).as("llf")).limit(0)
      else llfRows.reduce(_.unionByName(_))
    (t, lastConf, trace)
  }

  /** The consensus cut of [[dawidSkene]]: the argmax label per item with
    * its posterior, (posterior desc, label asc) tie rule — the
    * [[majorityVote]] output shape for EM-grade aggregation. */
  def dawidSkeneConsensus(votes: DataFrame, rounds: Int = 2,
      smoothing: Double = 0.01,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame =
    dawidSkene(votes, rounds, smoothing, idCol, annotatorCol, labelCol)
      .withColumn("rn", row_number().over(
        Window.partitionBy(idCol).orderBy(col("posterior").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label"), col("posterior"))

  /** Fleiss' kappa (Fleiss 1971, "Measuring nominal scale agreement
    * among many raters") — chance-corrected agreement for the WHOLE
    * annotator pool, the multi-rater complement of the pairwise Cohen's
    * kappa ([[Classifier.agreementKappa]]): the labeling-ops number that
    * says whether a task's guidelines produce consistent labels at all,
    * before any per-annotator diagnosis.
    *
    * Variable-rater generalization (items may have different vote
    * counts): per item P_i = Σ_j n_ij(n_ij − 1) / (n_i(n_i − 1)) over
    * items with n_i ≥ 2 votes (a 1-vote item has no agreement to
    * measure and is dropped — documented, not silent: n_items counts
    * kept items only); P̄ = mean P_i; chance P_e = Σ_j p_j² with p_j the
    * pooled label share over kept items; κ = (P̄ − P_e)/(1 − P_e).
    * Null labels are abstentions (dropped before counting).
    *
    * Determinism: P_i is a ratio of exact integers (engine-identical
    * IEEE division); P̄, p_j, P_e and κ are 1e-6-canonized, κ computed
    * FROM the canonized factors. Degenerate pool (every vote one label):
    * P_e = 1 makes κ 0/0 — emitted as null, the "undefined, not
    * perfect" convention. Scale shape: two keyed aggregates ((item,
    * label) counts → item rollup) and label-count-sized frames; nothing
    * corpus² anywhere. Output: one row (n_items, n_votes, p_bar, p_e,
    * kappa). */
  def fleissKappa(votes: DataFrame,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    val v = votes.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol).as("label"))
    val nij = v.groupBy(col(idCol), col("label")).agg(count(lit(1)).as("nij"))
    val items = nij.groupBy(col(idCol))
      .agg(sum(col("nij")).as("ni"),
        sum(col("nij") * (col("nij") - lit(1L))).as("agree"))
      .filter(col("ni") >= 2)
      .select(col(idCol), col("ni"),
        (col("agree") / (col("ni") * (col("ni") - lit(1L)))).as("p_i"))
    val pbar = items.agg(
      count(lit(1)).as("n_items"), sum(col("ni")).as("n_votes"),
      quantC(avg(col("p_i"))).as("p_bar"))
    val pj = nij.join(items.select(col(idCol)), idCol)
      .groupBy(col("label")).agg(sum(col("nij")).as("nj"))
      .crossJoin(broadcast(pbar.select(col("n_votes").as("nv"))))
      .select((col("nj") / col("nv")).as("p_j"))
    val pe = pj.agg(quantC(sum(col("p_j") * col("p_j"))).as("p_e"))
    pbar.crossJoin(broadcast(pe))
      .select(col("n_items"), col("n_votes"), col("p_bar"), col("p_e"),
        when(col("p_e") < 1.0,
          quantC((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))))
          .as("kappa"))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 2011, "Computing
    * Krippendorff's Alpha-Reliability") — chance-corrected agreement for
    * MISSING-data annotation: annotators see different item subsets (the
    * real crowdsourcing shape), which Fleiss' complete-panel assumption
    * never holds for. Completes the agreement family: Cohen's (2 raters,
    * [[Classifier.agreementKappa]]) → Fleiss' (n raters,
    * [[fleissKappa]]) → alpha (n raters, any missingness).
    *
    * Coincidence-matrix form: per item with n_i ≥ 2 votes (a 1-vote item
    * carries no pairable information and is dropped — same documented
    * rule as Fleiss), each ordered vote pair contributes 1/(n_i − 1), so
    * the diagonal mass is o_cc = Σ_i Σ_c n_ic(n_ic − 1)/(n_i − 1) and the
    * label marginals reduce to the pooled counts n_c = Σ_i n_ic over kept
    * items. Then A_o = o_cc / n, A_e = Σ_c n_c(n_c − 1)/(n(n − 1)),
    * α = (A_o − A_e)/(1 − A_e) — verified against the paper's worked
    * example (12 units, 4 observers, missing cells: α = 0.743) in
    * AnnotationsSpec.
    *
    * Determinism: per-item ratios are exact-integer divisions; o_cc,
    * A_o, A_e and α are 1e-6-canonized, α computed FROM the canonized
    * factors. Degenerate pool (every vote one label): A_e = 1 makes α
    * 0/0 — emitted as null, the "undefined, not perfect" convention.
    * Null labels are abstentions (dropped). Scale shape: two keyed
    * aggregates ((item, label) counts → item rollup) plus a label-sized
    * marginal — the fleissKappa shape, nothing corpus². Output: one row
    * (n_items, n_votes, a_o, a_e, alpha). */
  def krippendorffAlpha(votes: DataFrame,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    val v = votes.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(labelCol).as("label"))
    val nij = v.groupBy(col(idCol), col("label")).agg(count(lit(1)).as("nij"))
    val items = nij.groupBy(col(idCol))
      .agg(sum(col("nij")).as("ni"),
        sum(col("nij") * (col("nij") - lit(1L))).as("agree"))
      .filter(col("ni") >= 2)
      .select(col(idCol), col("ni"),
        (col("agree") / (col("ni") - lit(1L))).as("o_diag"))
    val tot = items.agg(count(lit(1)).as("n_items"),
      sum(col("ni")).as("n_votes"),
      quantC(sum(col("o_diag"))).as("o_cc"))
    val chance = nij.join(items.select(col(idCol)), idCol)
      .groupBy(col("label")).agg(sum(col("nij")).as("nc"))
      .agg(sum(col("nc") * (col("nc") - lit(1L))).as("num"))
    tot.crossJoin(broadcast(chance))
      .select(col("n_items"), col("n_votes"),
        quantC(col("o_cc") / col("n_votes")).as("a_o"),
        quantC(col("num") /
          (col("n_votes") * (col("n_votes") - lit(1L)))).as("a_e"))
      .select(col("n_items"), col("n_votes"), col("a_o"), col("a_e"),
        when(col("a_e") < 1.0,
          quantC((col("a_o") - col("a_e")) / (lit(1.0) - col("a_e"))))
          .as("alpha"))
  }

  /** Krippendorff's alpha, INTERVAL metric (Krippendorff 2011 §C) —
    * [[krippendorffAlpha]] for NUMERIC ratings (quality scores 1–5,
    * harmfulness scales, ordinal rubric grades): disagreement is the
    * squared difference δ²(v, w) = (v − w)², so "4 vs 5" costs 1 while
    * "1 vs 5" costs 16, which the nominal metric cannot express. Same
    * missing-data tolerance (annotators see different item subsets;
    * 1-vote items are dropped as unpairable).
    *
    * Sums-of-squares form (the δ² coincidence sums collapse — no value
    * matrix is ever materialized): per kept item with m votes, value sum
    * s1 and square sum s2, the ordered-pair identity
    * Σ_{a≠b}(v_a − v_b)² = 2(m·s2 − s1²) gives
    *
    *   D_o = (2/n) Σ_items (m·s2 − s1²)/(m − 1)
    *   D_e = 2(n·S2 − S1²) / (n(n − 1))      (pooled S1, S2 over kept votes)
    *   α   = 1 − D_o/D_e,
    *
    * null when D_e = 0 (all kept votes identical — undefined, not
    * perfect; the nominal A_e = 1 convention). Scale shape: ONE
    * item-keyed aggregate then ONE 1-row rollup (the pooled S1/S2 are
    * sums of the per-item sums, so no second pass and no marginal
    * join — strictly simpler than the nominal plan). Values are cast to
    * double; for integer-valued ratings every sum is exact in IEEE
    * doubles regardless of order (the labeling-ops case, and what the
    * DuckDB oracle relies on — document non-integer scales as
    * approximate). Per-item (m·s2 − s1²)/(m − 1) divisions are exact for
    * the small panel sizes of real annotation (m ≤ 3 gives halves); the
    * summed D_o numerator, D_o, D_e and α are 1e-6-canonized, α computed
    * FROM the canonized D_o/D_e. Output: one row
    * (n_items, n_votes, d_o, d_e, alpha). */
  def krippendorffAlphaInterval(votes: DataFrame,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      valueCol: String = "value"): DataFrame = {
    val v = votes.filter(col(valueCol).isNotNull)
      .select(col(idCol), col(valueCol).cast("double").as("v"))
    val items = v.groupBy(col(idCol))
      .agg(count(lit(1)).as("m"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .filter(col("m") >= 2)
      .select(col("m"), col("s1"), col("s2"),
        ((col("m") * col("s2") - col("s1") * col("s1")) / (col("m") - lit(1L)))
          .as("doi"))
    items.agg(count(lit(1)).as("n_items"), sum(col("m")).as("n_votes"),
        quantC(sum(col("doi"))).as("do_sum"),
        sum(col("s1")).as("bs1"), sum(col("s2")).as("bs2"))
      .select(col("n_items"), col("n_votes"),
        quantC(lit(2.0) * col("do_sum") / col("n_votes")).as("d_o"),
        quantC(lit(2.0) * (col("n_votes") * col("bs2") - col("bs1") * col("bs1"))
          / (col("n_votes") * (col("n_votes") - lit(1L)))).as("d_e"))
      .select(col("n_items"), col("n_votes"), col("d_o"), col("d_e"),
        when(col("d_e") > 0,
          quantC(lit(1.0) - col("d_o") / col("d_e"))).as("alpha"))
  }

  /** Bradley–Terry pairwise-preference ranking (Bradley & Terry 1952)
    * fitted with Hunter's MM algorithm (Hunter 2004, "MM algorithms for
    * generalized Bradley–Terry models", eq. 1.5) — THE aggregation for
    * arena-style preference data (RLHF comparisons, side-by-side evals):
    * P(i beats j) = θ_i/(θ_i + θ_j), and each MM round is the closed
    * update θ_i ← w_i / Σ_j n_ij/(θ_i + θ_j) (w_i = i's total wins,
    * n_ij = games between i and j), which monotonically increases the
    * likelihood from the flat θ = 1 start. `rounds` is fixed and small
    * (the Dawid–Skene convention — the oracle unrolls the same rounds);
    * each round renormalizes to mean 1 (the scale is unidentified) and
    * 1e-6-canonizes θ, and the frame is [[graft.core.Ckpt.pin]]ned to
    * cut the unrolled-plan lineage.
    *
    * Scale shape per round: two item-keyed joins of the PINNED
    * directed-pair aggregate against the θ table (model-sized —
    * teams/models/policies), one keyed aggregate, one 1-row mean
    * broadcast. Nothing corpus²; the comparison corpus itself is
    * touched ONCE up front — the directed-pair frame is Ckpt.pinned
    * before the MM loop, so extra rounds are pair-frame-sized work
    * (≤ items², usually far less), never corpus re-scans.
    *
    * Contract: a winner that matches neither side raises per row (the
    * weightedKeep loud-failure convention); self-pairs and null sides
    * are dropped; items never compared never enter (no information).
    * An all-loser's θ goes to 0 and stays there — two all-losers can
    * never have faced each other (their mutual game had a winner), so
    * denominators never hit 0/0. Output: (item, wins, n_comps, theta),
    * strongest first, item as the tiebreak. */
  def bradleyTerry(comparisons: DataFrame, rounds: Int = 2,
      aCol: String = "a", bCol: String = "b",
      winnerCol: String = "winner"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val comp = comparisons
      .filter(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(winnerCol).isNotNull && col(aCol) =!= col(bCol))
      .select(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"),
        when(col(winnerCol) === col(aCol) || col(winnerCol) === col(bCol),
          col(winnerCol).cast("string"))
          .otherwise(raise_error(concat(
            lit("bradleyTerry: winner matches neither side: "),
            col(winnerCol).cast("string")))).as("w"))
    // pin the directed-pair aggregate ONCE: every MM round's denominator
    // joins against it, and without the pin each round's plan re-derived
    // it from the raw comparisons (a full corpus re-scan per round)
    val dir = graft.core.Ckpt.pin(
      comp.select(col("a").as("i"), col("b").as("j"))
        .unionByName(comp.select(col("b").as("i"), col("a").as("j")))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("nij")))
    val wins = comp.groupBy(col("w").as("i")).agg(count(lit(1)).as("wins"))
    val items = graft.core.Ckpt.pin(dir
      .groupBy(col("i")).agg(sum(col("nij")).as("n_comps"))
      .join(wins, Seq("i"), "left")
      .select(col("i"), coalesce(col("wins"), lit(0L)).as("wins"), col("n_comps")))
    // t0 needs no pin (a pure projection of the pinned `items` is already
    // a leaf-rooted plan). Every ROUND stays pinned — each round references
    // t twice (ti and tj), so unrolling would double the subplan per round,
    // and the round's 1-row mean crossJoin must not surface in the final
    // driver plan (PlanLintSpec's no-BNLJ invariant; it is fine buried in
    // an eagerly-executed pin whose both sides are model-sized, and wrong
    // as a lint exception). Values are bit-identical (pinning never
    // changes an expression; the q_bradley_terry oracle pins equivalence).
    var t: DataFrame = items.select(col("i"), lit(1.0).as("theta"))
    (1 to rounds).foreach { _ =>
      val den = dir
        .join(t.select(col("i"), col("theta").as("ti")), Seq("i"))
        .join(t.select(col("i").as("j"), col("theta").as("tj")), Seq("j"))
        .groupBy(col("i"))
        .agg(sum(col("nij") / (col("ti") + col("tj"))).as("den"))
      val raw = items.join(den, Seq("i"))
        .select(col("i"), (col("wins") / col("den")).as("theta0"))
      val mu = raw.agg(avg(col("theta0")).as("mu"))
      t = graft.core.Ckpt.pin(raw.crossJoin(broadcast(mu))
        .select(col("i"), quantC(col("theta0") / col("mu")).as("theta")))
    }
    items.join(t, Seq("i"))
      .select(col("i").as("item"), col("wins"), col("n_comps"), col("theta"))
      .orderBy(col("theta").desc, col("item"))
  }

  /** Per-annotator quality against a consensus labeling (e.g.
    * [[majorityVote]]'s output, or a gold frame): vote count and the
    * canonized agreement rate. Items without a consensus row score
    * nothing (inner join — same unscoreable-id contract as
    * [[Classifier.perClassMetrics]]). Note the majority-vote consensus
    * includes each annotator's own vote; with ≥ 3 annotators of
    * comparable volume the self-vote bias is bounded by 1/annotators —
    * use a gold frame, or [[annotatorQualityLoo]]'s leave-one-out
    * consensus, when an unbiased read matters. */
  def annotatorQuality(votes: DataFrame, consensus: DataFrame,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    val v = votes.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(annotatorCol), col(labelCol).as("vl"))
    val c = consensus.select(col(idCol), col(labelCol).as("cl"))
    v.join(c, idCol)
      .groupBy(col(annotatorCol))
      .agg(count(lit(1)).as("n_votes"),
        quantC(avg(when(col("vl") === col("cl"), 1.0).otherwise(0.0)))
          .as("agreement"))
      .orderBy(annotatorCol)
  }

  /** Leave-one-out annotator quality — the UNBIASED twin of
    * [[annotatorQuality]] (closing its documented self-vote caveat):
    * each vote is scored against the majority of the OTHER annotators'
    * votes on the same item, recomputed per excluded voter with the
    * same tie rule as [[majorityVote]] (count desc, label asc). Items
    * where the excluded voter was the only voter have no leave-one-out
    * consensus and are dropped from that annotator's average (so
    * `n_votes_loo` ≤ the self-inclusive `n_votes`).
    *
    * Scale shape: one per-(item, label) count aggregate, one item-keyed
    * join of the votes against it (fan-out = labels per item ≤
    * annotators per item, model-sized), one windowed argmax partitioned
    * by (item, annotator), one per-annotator aggregate — no self-join
    * of the corpus. */
  def annotatorQualityLoo(votes: DataFrame,
      idCol: String = "doc_id",
      annotatorCol: String = "annotator",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = votes.filter(col(labelCol).isNotNull)
      .select(col(idCol), col(annotatorCol), col(labelCol).as("vl"))
    val cnt = v.groupBy(col(idCol), col("vl").as("cand"))
      .agg(count(lit(1)).as("c"))
    val loo = v.join(cnt, idCol)
      .withColumn("cp",
        col("c") - when(col("cand") === col("vl"), 1L).otherwise(0L))
      .filter(col("cp") > 0)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol), col(annotatorCol))
          .orderBy(col("cp").desc, col("cand").asc)))
      .filter(col("rn") === 1)
      .select(col(idCol), col(annotatorCol), col("vl"), col("cand").as("loo_label"))
    loo
      .groupBy(col(annotatorCol))
      .agg(count(lit(1)).as("n_votes_loo"),
        quantC(avg(when(col("vl") === col("loo_label"), 1.0).otherwise(0.0)))
          .as("agreement_loo"))
      .orderBy(annotatorCol)
  }
}
