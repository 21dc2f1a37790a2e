package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie, Santurkar, Ma &
  * Liang, NeurIPS 2023): pick raw-corpus documents whose hashed n-gram
  * distribution resembles a small TARGET corpus, by (1) fitting hashed
  * bag-of-n-grams models to both corpora, (2) scoring every raw document
  * with the summed log importance ratio of its grams, and (3) Gumbel-top-k
  * resampling on the log weights — the public recipe behind
  * quality-targeted pre-training subsets.
  *
  * Scale shape: the models are BUCKET tables (`buckets` rows — a model,
  * never data), trained with one gram-keyed partial aggregate per corpus.
  * Scoring explodes each doc into its 2n−1 gram rows, joins the broadcast
  * ratio table, and aggregates back per doc — the window that builds
  * bigrams shuffles on doc_id and the per-doc sum REUSES that exchange
  * (same key), so scoring costs one corpus shuffle total. Resampling is a
  * global (rank-exchange) sort-limit on the scored table.
  *
  * Determinism: gram hashing is Karp–Rabin modular arithmetic
  * ([[TextStats.rollingHash]]) and the Gumbel noise derives from
  * [[Sampling.epochShuffleRank]]'s replayable mixed hash, so the whole
  * pipeline — models, scores, AND the sampled subset — replays in SQL
  * (q_dsir_select_docs).
  */
object Dsir {

  /** Hashed (unigram + bigram) gram-bucket rows: (doc_id, bucket), one
    * row per gram occurrence. Each token is Karp–Rabin-folded ONCE —
    * the bigram hash combines the two token hashes arithmetically
    * ((h1·1000003 + h2) mod p, every intermediate < 2^63) instead of
    * re-folding the concatenated string, halving the per-character work
    * (measured 2× on the r8 driver query). The token hash materializes
    * in the window's child projection, so the lead() window — the one
    * doc-keyed exchange of the scoring pipeline — carries hashes, not
    * strings. */
  private[graft] def gramBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      carryCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val carry = carryCols.map(col)
    val tok = docs.select(col(idCol).as("doc_id") +: carry :+
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "w")): _*)
      .select(col("doc_id") +: carry :+ col("pos") :+
        TextStats.rollingHash(col("w")).as("h1"): _*)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    tok.withColumn("h2", lead("h1", 1).over(w))
      .select(col("doc_id") +: carry :+ explode(concat(
        array(col("h1")),
        when(col("h2").isNotNull,
          array(pmod(col("h1") * lit(1000003L) + col("h2"), lit(1000000007L))))
          .otherwise(array().cast("array<bigint>")))).as("h"): _*)
      .select(col("doc_id") +: carry :+
        pmod(col("h"), lit(buckets.toLong)).as("bucket"): _*)
  }

  /** Fit both hashed-n-gram models and return the per-bucket log
    * importance ratio table (bucket, log_ratio) with add-`smoothing`
    * Laplace mass: log_ratio(b) = ln((c_t(b)+a)/(T_t+aB)) −
    * ln((c_r(b)+a)/(T_r+aB)). ALL `buckets` rows are materialized (a
    * bucket unseen in both corpora carries the constant prior ratio), so
    * the scoring join is a plain inner equijoin with full coverage. The
    * two totals are 1-row aggregates collected on the driver — model
    * bookkeeping, not data. */
  def trainImportanceRatios(
      target: DataFrame,
      raw: DataFrame,
      textCol: String = "text",
      buckets: Int = 1 << 16,
      smoothing: Double = 1.0,
      idCol: String = "doc_id"): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    // pin the bucket-count tables (≤ buckets rows — models): each has
    // THREE consumers (its total collect, the ratio join, and — through
    // the returned frame — every downstream score pass), which would
    // otherwise each replay the corpus-wide gram window. The
    // trainBigramModel multi-consumer fix, same shape (measured r8:
    // unpinned, q_dsir_select_docs ran 6 gram passes / 4.4 s).
    def counts(corpus: DataFrame): DataFrame =
      graft.core.Ckpt.pin(gramBuckets(corpus, idCol, textCol, buckets)
        .groupBy("bucket").agg(count(lit(1)).as("c")))
    val ct = counts(target)
    val cr = counts(raw)
    val tT = ct.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val tR = cr.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val all = target.sparkSession.range(buckets).select(col("id").as("bucket"))
    all
      .join(ct.withColumnRenamed("c", "ct"), Seq("bucket"), "left")
      .join(cr.withColumnRenamed("c", "cr"), Seq("bucket"), "left")
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + lit(smoothing)) /
          lit(tT + smoothing * buckets)) -
         log((coalesce(col("cr"), lit(0L)) + lit(smoothing)) /
          lit(tR + smoothing * buckets))).as("log_ratio"))
  }

  /** One-gram-pass twin of [[trainImportanceRatios]] + [[dsirScores]] for
    * the common query shape where the TARGET is a row filter of the raw
    * corpus (r16, guide §2.4/§1.2): the generic pair of calls ran the
    * tokenize + Karp–Rabin + bigram-window gram pipeline THREE times
    * (target counts, raw counts, scoring — r16 stage profile: three
    * single-task map stages of 130/203/280 ms at sf0.1, 16 sequential
    * jobs). Here the corpus explodes ONCE into a pinned (doc_id,
    * is_target, bucket) frame and the target counts, raw counts and the
    * scoring join all read the leaf. Float-exact by construction: the
    * count longs, the totals, the log-ratio expression tree and the
    * per-doc sum's partitioning/order (the same doc-keyed window
    * exchange feeds the same groupBy) are identical to the two-call
    * path, and DsirSpec pins the equivalence. Private: an optimization
    * entry point for the driver query, not new API surface. */
  private[graft] def dsirScoresSelfTrained(
      raw: DataFrame,
      isTarget: Column,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 1 << 16,
      smoothing: Double = 1.0): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    val grams = graft.core.Ckpt.pin(
      gramBuckets(raw.withColumn("__tgt", isTarget), idCol, textCol, buckets,
        carryCols = Seq("__tgt")))
    def counts(g: DataFrame): DataFrame =
      graft.core.Ckpt.pin(g.groupBy("bucket").agg(count(lit(1)).as("c")))
    val ct = counts(grams.filter(col("__tgt")))
    val cr = counts(grams)
    val tT = ct.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val tR = cr.agg(coalesce(sum("c"), lit(0L))).head().getLong(0)
    val all = raw.sparkSession.range(buckets).select(col("id").as("bucket"))
    val ratios = all
      .join(ct.withColumnRenamed("c", "ct"), Seq("bucket"), "left")
      .join(cr.withColumnRenamed("c", "cr"), Seq("bucket"), "left")
      .select(col("bucket"),
        (log((coalesce(col("ct"), lit(0L)) + lit(smoothing)) /
          lit(tT + smoothing * buckets)) -
         log((coalesce(col("cr"), lit(0L)) + lit(smoothing)) /
          lit(tR + smoothing * buckets))).as("log_ratio"))
    grams
      .join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("log_ratio").as("dsir_logw"))
  }

  /** Per-document importance score: (doc_id, n_grams, dsir_logw) with
    * dsir_logw = Σ over the doc's grams of log_ratio(bucket). Docs whose
    * text yields no tokens produce no row (no evidence — the resampler
    * never selects them). The ratio table is broadcast by contract
    * (`buckets` rows). */
  def dsirScores(
      docs: DataFrame,
      ratios: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 1 << 16): DataFrame =
    gramBuckets(docs, idCol, textCol, buckets)
      .join(broadcast(ratios), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("log_ratio").as("dsir_logw"))

  /** Gumbel-top-k importance resampling (the Gumbel-max trick: adding
    * i.i.d. standard Gumbel noise to log weights and taking the top k
    * samples k docs WITHOUT replacement with probability ∝ w): noise
    * g = −ln(−ln(u)) with u from the replayable epoch-keyed mixed hash,
    * so the same (epoch, corpus) always draws the same subset and every
    * retry/executor sees identical selections. Returns the k selected
    * rows with their perturbed `gumbel_key`, highest first. */
  def dsirResample(
      scored: DataFrame,
      k: Int,
      epoch: Int = 0,
      idCol: String = "doc_id",
      logwCol: String = "dsir_logw"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (Sampling.epochShuffleRank(col(idCol), epoch).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    scored
      .withColumn("gumbel_key", col(logwCol) - log(-log(u)))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }
}
