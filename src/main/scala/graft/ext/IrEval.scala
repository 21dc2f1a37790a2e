package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ranking-quality evaluation over a retrieval run — the TREC-style
  * harness (Järvelin & Kekäläinen 2002 for nDCG; MRR and recall@k as in
  * the standard trec_eval tool) that closes the retrieval stack: BM25 /
  * TF-IDF / ANN / MMR produce runs, this scores them against binary
  * qrels, per query.
  *
  * Metrics at cutoff k (binary relevance):
  *   - mrr_at_k      = 1 / rank of the first relevant hit (0 absent);
  *   - recall_at_k   = relevant hits in the top k / total relevant
  *                     (bounded below 1 when n_rel > k — the standard
  *                     definition, not "fraction of retrievable");
  *   - ndcg_at_k     = Σ 1/log₂(rank+1) over relevant hits, divided by
  *                     the ideal DCG for min(n_rel, k) relevants.
  *
  * Engine–oracle determinism: the log₂ discounts are NOT computed with
  * libm inside the plan — cross-engine `ln` differs by ulps (the
  * round-8 oracle lesson) — but shipped as a k-entry LITERAL table
  * computed once on the driver, with the cumulative ideal-DCG table
  * alongside; the SQL oracle embeds the same decimal strings, so both
  * engines divide identical IEEE doubles. Metrics are 1e-6-canonized at
  * output.
  *
  * Scale shape: the run is filtered to rank ≤ k BEFORE the qrels join
  * (k·Q rows); qrels aggregate to per-query counts map-side. Both joins
  * are query-keyed hash joins; nothing corpus-sized survives past the
  * run cut. Queries with no qrels row are absent from the output (no
  * denominator); queries with qrels but no hits score 0 across the
  * board via the left join. */
object IrEval {

  /** Per-rank DCG discount 1/log₂(rank+1), rank 1-based. */
  private[graft] def discounts(k: Int): Array[Double] =
    (1 to k).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).toArray

  /** Cumulative ideal DCG: entry n (1-based) = Σ_{i≤n} discount(i). */
  private[graft] def idealDcg(k: Int): Array[Double] =
    discounts(k).scanLeft(0.0)(_ + _).tail.toArray

  /** Evaluate `run` (queryCol, docCol, rankCol — ranks 1-based, unique
    * per query) against binary `qrels` (queryCol, docCol). Output:
    * (query_id, n_rel, n_hits_at_k, mrr_at_k, recall_at_k, ndcg_at_k),
    * ordered by query. */
  def evalRanking(run: DataFrame, qrels: DataFrame, k: Int,
      queryCol: String = "query_id", docCol: String = "doc_id",
      rankCol: String = "rank"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val disc = discounts(k)
    val ideal = idealDcg(k)
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val qr = qrels
      .select(col(queryCol).cast("long").as("query_id"),
        col(docCol).cast("long").as("doc_id"))
      .filter(col("query_id").isNotNull && col("doc_id").isNotNull)
      .distinct()
    val nRel = qr.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    val topk = run
      .select(col(queryCol).cast("long").as("query_id"),
        col(docCol).cast("long").as("doc_id"), col(rankCol).cast("int").as("rank"))
      .filter(col("rank") <= k)
    val hits = topk.join(qr, Seq("query_id", "doc_id"))
    val perQ = hits.groupBy("query_id").agg(
      min(col("rank")).as("first_rel"),
      count(lit(1)).as("n_hits_at_k"),
      sum(element_at(lit(disc), col("rank"))).as("dcg"))
    nRel.join(perQ, Seq("query_id"), "left")
      .select(col("query_id"), col("n_rel"),
        coalesce(col("n_hits_at_k"), lit(0L)).as("n_hits_at_k"),
        r6(coalesce(lit(1.0) / col("first_rel"), lit(0.0))).as("mrr_at_k"),
        r6(coalesce(col("n_hits_at_k"), lit(0L)).cast("double")
          / col("n_rel")).as("recall_at_k"),
        r6(coalesce(col("dcg"), lit(0.0))
          / element_at(lit(ideal), least(col("n_rel"), lit(k.toLong)).cast("int")))
          .as("ndcg_at_k"))
      .orderBy("query_id")
  }

  /** Deterministic bootstrap confidence interval for the MEAN of a
    * per-query metric (the standard way to put error bars on an eval-set
    * average — Efron & Tibshirani 1993; per-query resampling as in
    * Smucker et al. 2007's significance-testing guidance for IR): `b`
    * resamples of the Q queries with replacement, each resample's mean
    * 1e-6-canonized, CI = the symmetric (rank-based) percentile cut of
    * the resample means at `level`.
    *
    * Replayability contract (no RNG): draw (resample bi, slot i) maps to
    * query index via the pure-integer Knuth mix
    *
    *   pick = ((bi+1)·2654435761 + (i+1)·40503) mod 2³² mod Q
    *
    * — the same multiplicative-hash family the split/shuffle oracles
    * replay — so both engines draw IDENTICAL resamples. The CI bounds
    * are order statistics of the (canonized mean, bi)-ranked resamples:
    * lower = rank ⌊B·(1−level)/2⌋ + 1, upper = the mirrored rank.
    *
    * Scale shape: everything here is eval-set-sized (Q queries × B
    * resamples), never corpus-sized — the global windows and 1-row
    * count broadcast are the model-sized class the plan lint whitelists.
    * Output one row: (mean, ci_lower, ci_upper, n_queries, n_resamples). */
  def bootstrapCiMean(perQuery: DataFrame, valueCol: String, b: Int = 200,
      level: Double = 0.95, queryIdCol: String = "query_id"): DataFrame = {
    require(b >= 1, s"b must be >= 1, got $b")
    require(level > 0 && level < 1, s"level must be in (0,1), got $level")
    val spark = perQuery.sparkSession
    import org.apache.spark.sql.expressions.Window
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    // Pin the per-query metric frame (eval-set-sized by contract — Q rows)
    // before fanning it out: `vals` is consumed FOUR times in the plan (the
    // resample index twice — draw generation and the pick join — the Q-count
    // broadcast, and the point-estimate aggregate), so an expensive upstream
    // (a full retrieval run + evalRanking, the q_bootstrap_ci shape) was
    // planned per consumer — 1591 plan lines / 48 parquet scans at sf0.1,
    // 3 × ~1.3 s duplicated TopKAgg stages in the r16 stage profile
    // (ReuseExchange dedups identical exchanges but NOT these — the copies'
    // exchange subtrees differ in their projections, so three ~1.3 s
    // duplicated aggregation stages really executed). One eager Q-row pin
    // makes every consumer an ExistingRDD leaf: plan 1591 → 277 lines,
    // Exchange mentions 100 → 22, parquet scans 48 → 1 (the pin job's own),
    // every post-pin stage ≤ 0.2 s, steady-state 2.03 → 1.62 s paired
    // BenchOne and 8.0 → 1.36 s on like-for-like stage profiles
    // (r16 ledger). Guide §2.4/§1.2; the same pin class as the r15
    // tfidf/textrank cuts.
    val vals = graft.core.Ckpt.pin(perQuery
      .select(col(queryIdCol).cast("long").as("qid"),
        col(valueCol).cast("double").as("m"))
      .filter(col("m").isNotNull))
    val idx = vals
      .withColumn("idx", row_number().over(Window.orderBy(col("qid"))) - 1)
    val nDf = vals.agg(count(lit(1)).as("nq"))
    val draws = idx.select(col("idx").as("i"))
      .crossJoin(spark.range(b).select(col("id").as("bi")))
      .crossJoin(broadcast(nDf))
      .select(col("bi"),
        ((((col("bi") + 1) * lit(2654435761L)) + ((col("i") + 1) * lit(40503L)))
          % lit(4294967296L) % col("nq")).as("pick"))
    val means = draws
      .join(idx.select(col("idx").as("pick"), col("m")), "pick")
      .groupBy("bi").agg(r6(avg("m")).as("bm"))
    val ranked = means
      .withColumn("rk", row_number().over(Window.orderBy(col("bm"), col("bi"))))
    val loRank = math.floor(b * (1.0 - level) / 2.0).toInt + 1
    val hiRank = b - loRank + 1
    // both order statistics from ONE scan of the ranked frame (a second
    // filter would re-run the rank window)
    val bounds = ranked
      .filter(col("rk") === loRank || col("rk") === hiRank)
      .agg(min(when(col("rk") === loRank, col("bm"))).as("ci_lower"),
        min(when(col("rk") === hiRank, col("bm"))).as("ci_upper"))
    vals.agg(r6(avg("m")).as("mean"), count(lit(1)).as("n_queries"))
      .crossJoin(broadcast(bounds))
      .select(col("mean"), col("ci_lower"), col("ci_upper"),
        col("n_queries"), lit(b.toLong).as("n_resamples"))
  }

  /** pass@k (Chen et al. 2021, "Evaluating Large Language Models
    * Trained on Code" §2.1) — THE code/agentic eval headline number:
    * with n samples per problem of which c pass, the unbiased
    * estimator of P(≥1 of k random samples passes) is
    *
    *   pass@k = 1 − C(n−c, k)/C(n, k)
    *          = 1 − Π_{i=0..k−1} (n−c−i)/(n−i),
    *
    * averaged over problems. The product form (the paper's numerically
    * stable recipe) is a k-step fold over `sequence(0, k−1)` — k is a
    * small literal, and the lambda touches only row scalars, so this is
    * NOT the derived-array-in-lambda quadratic trap. Problems with
    * n < k cannot be estimated and are EXCLUDED from that k's mean
    * (n_problems reports the denominator); n−c < k short-circuits to
    * exactly 1.0 (fewer than k failures means every k-subset contains
    * a pass — and the branch keeps the fold's factors non-negative).
    * Per-problem estimates are 1e-6-canonized before the mean, the
    * mean canonized again.
    *
    * Scale shape: one problem-keyed count aggregate (map-combinable),
    * a |ks|-way row explode of the problem-sized frame, and a |ks|-row
    * rollup. Output: (k, n_problems, pass_at_k), ordered by k. */
  def passAtK(samples: DataFrame, ks: Seq[Int] = Seq(1, 5, 10),
      problemCol: String = "problem_id",
      correctCol: String = "correct"): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ks must be positive, got $ks")
    require(ks.distinct == ks, s"ks must be distinct, got $ks")
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val per = samples
      .groupBy(col(problemCol))
      .agg(count(lit(1)).as("n"),
        sum(when(col(correctCol), 1L).otherwise(0L)).as("c"))
    per.select(col("n"), col("c"),
        explode(array(ks.map(k => lit(k.toLong)): _*)).as("k"))
      .filter(col("n") >= col("k"))
      .withColumn("pass",
        when(col("n") - col("c") < col("k"), lit(1.0))
          .otherwise(r6(lit(1.0) - aggregate(
            sequence(lit(0L), col("k") - lit(1L)),
            lit(1.0),
            (acc, i) => acc * (col("n") - col("c") - i) / (col("n") - i)))))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_problems"), r6(avg(col("pass"))).as("pass_at_k"))
      .orderBy("k")
  }
}
