package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY §7.4): token counting,
  * quality scoring, language identification, and document fingerprinting.
  * Everything is built-in expressions (codegen'd, partial-aggregate
  * friendly) — no UDFs anywhere, so the plans survive any scale-up.
  */
object TextStats {

  // ---- token counting ------------------------------------------------------

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish subword proxy: word pieces + punctuation as separate tokens
    * (the common pre-tokenizer regex \w+|[^\w\s]). */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "(?<=\\W)|(?=\\W)"), t => trim(t) =!= ""))

  // ---- quality scoring -----------------------------------------------------

  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text), lit(1))

  def digitRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("double") /
      greatest(length(text), lit(1))

  def meanWordLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
      greatest(wsTokenCount(text), lit(1))

  /** Heuristic [0,1] quality score: length in a sane band, low digit/punct
    * noise, plausible word lengths. Weights are documented constants, not
    * learned. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val noise = punctRatio(text) + digitRatio(text)
    val wl = meanWordLen(text)
    val wlScore = when(wl.between(3.0, 10.0), 1.0).otherwise(0.5)
    greatest(least(
      lenScore * 0.4 + (lit(1.0) - least(noise * 4.0, lit(1.0))) * 0.4 + wlScore * 0.2,
      lit(1.0)), lit(0.0))
  }

  /** Training-pipeline quality filter: keep the top ⌈keepFrac·|group|⌉
    * documents per group by quality score (ties broken by id — exact,
    * cross-engine-deterministic ranking). The window partitions on the
    * group column, so the parallelism axis is group cardinality; at
    * corpus scales where one group outweighs a partition, swap the exact
    * rank for a per-group quantile threshold (agg + broadcast join) and
    * accept boundary-tie inexactness. */
  def topQualityPerGroup(
      docs: org.apache.spark.sql.DataFrame,
      groupCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      keepFrac: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("__q").desc, col(idCol))
    val wg = Window.partitionBy(groupCol)
    docs
      .withColumn("__q", qualityScore(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(wg))
      .filter(col("__rn") <= ceil(col("__cnt") * keepFrac))
      .withColumnRenamed("__q", "quality")
      .drop("__rn", "__cnt")
  }

  /** Scale-path quality filter: per-group quantile THRESHOLD (one tiny
    * aggregate + a broadcast join) instead of [[topQualityPerGroup]]'s
    * per-group rank window. The rank window serializes each group through
    * one task, so a corpus dominated by a single group bottlenecks on one
    * partition; here the data-sized pass is an ordinary partial aggregate
    * and a map-side broadcast-hash filter — fully parallel regardless of
    * group skew. The trade: boundary ties admit every doc AT the
    * threshold (can keep slightly more than keepFrac·|group|), and the
    * exact-percentile agg still sorts per group — swap `percentile` for
    * `approx_percentile` when even that matters. */
  def topQualityPerGroupByThreshold(
      docs: org.apache.spark.sql.DataFrame,
      groupCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      keepFrac: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val q = docs.withColumn("quality", qualityScore(col(textCol)))
    val thr = q.groupBy(groupCol)
      .agg(percentile(col("quality"), lit(1.0 - keepFrac)).as("__thr"))
    q.join(broadcast(thr), Seq(groupCol))
      .filter(col("quality") >= col("__thr"))
      .drop("__thr")
  }

  /** CCNet-style per-group quality terciles (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data" §4.3): rank each document within its group (CCNet: language)
    * by an LM quality score and label head / middle / tail thirds — the
    * published recipe buckets by per-language perplexity and trains on
    * head+middle. Takes an already-SCORED frame so any scorer composes
    * (the driver query feeds the Kneser–Ney log-likelihood); callers
    * should canonicalize the score to their comparison precision first —
    * ranking on raw doubles makes sub-ulp scorer differences flip
    * buckets (the BM25 ranking lesson).
    *
    * Bucket rule in exact integer arithmetic: rank r of n (score desc,
    * id asc) → head iff 3r ≤ n, middle iff 3r ≤ 2n, else tail — so
    * |head| = ⌊n/3⌋ and the boundary is engine-independent. The rank
    * window partitions on the group column (CCNet's own sharding axis);
    * at corpus scales where one group outweighs a partition, cut on
    * per-group quantile thresholds instead (the
    * [[topQualityPerGroupByThreshold]] trade). */
  def qualityTerciles(
      scored: org.apache.spark.sql.DataFrame,
      groupCol: String,
      scoreCol: String,
      idCol: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col(scoreCol).desc, col(idCol))
    val wg = Window.partitionBy(groupCol)
    scored
      .withColumn("__r", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wg))
      .withColumn("bucket",
        when(col("__r") * 3 <= col("__n"), "head")
          .when(col("__r") * 3 <= col("__n") * 2, "middle")
          .otherwise("tail"))
      .drop("__r", "__n")
  }

  // ---- within-doc repetition (Gopher-style quality rules) ------------------

  /** Per-document repetition metrics — the standard "remove pathologically
    * repetitive documents" quality rules for training corpora (public
    * Gopher/MassiveText-style heuristics):
    *   - `dup_trigram_frac`: fraction of word 3-grams that are duplicates,
    *     (n − distinct)/n — high for looping/boilerplate text;
    *   - `top_bigram_frac`: share of all word 2-grams taken by the single
    *     most frequent one — high for "foo bar foo bar …" stutter;
    *   - `n_tokens` for downstream thresholds. Both fractions are 0.0 for
    *     docs too short to form the n-gram.
    *
    * Out-of-contract input: every input row yields one output row. A null
    * text gives a null `n_tokens` and both fractions 0.0; an empty or
    * whitespace-only text splits to one empty token (`n_tokens` 1,
    * fractions 0.0). Tokens are compared whole, so a surrogate pair is
    * never split.
    *
    * Shape: a projection, no shuffle. Every stat is per-doc, so the native
    * [[graft.expr.TokenGramHashes]] arrays (k = 2 and 3) carry it: distinct
    * counts and the top-bigram multiplicity read the hash arrays (a pure
    * relabeling of the string grams absent a per-doc ~2⁻⁶⁴ collision — the
    * exact-string oracle stays valid). Max multiplicity = longest run of
    * the SORTED hash array, a linear fold whose first argument is
    * evaluated once per row (an argument expression, not the round-7
    * per-element lambda-capture trap). Projections are staged so the
    * tokenizer and each gram pass evaluate once (PlanLint). Tokenization
    * is the dedup family's `split(lower(trim(text)), "\\s+")`, so
    * repetition thresholds compose with the minhash/simhash pipeline
    * unchanged. */
  def repetitionStats(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    def maxRun(g: Column): Column =
      aggregate(array_sort(g),
        struct(lit(0L).as("prev"), lit(0L).as("run"), lit(0L).as("mx")),
        (acc, x) => {
          val nrun = when(acc.getField("run") > 0 && x === acc.getField("prev"),
            acc.getField("run") + lit(1L)).otherwise(lit(1L))
          struct(x.as("prev"), nrun.as("run"),
            greatest(acc.getField("mx"), nrun).as("mx"))
        },
        acc => acc.getField("mx"))
    val arr = docs.select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        graft.expr.TokenGramHashes.tokenGramHashes(col("toks"), 2).as("g2"),
        graft.expr.TokenGramHashes.tokenGramHashes(col("toks"), 3).as("g3"))
    val stats = arr.select(col("doc_id"), col("n_tokens"),
      size(col("g3")).as("t_n"), size(array_distinct(col("g3"))).as("t_d"),
      size(col("g2")).as("b_n"), maxRun(col("g2")).as("b_mx"))
    stats.select(col("doc_id"), col("n_tokens"),
      when(col("t_n").isNull || col("t_n") === 0, 0.0)
        .otherwise((col("t_n") - col("t_d")).cast("double") / col("t_n"))
        .as("dup_trigram_frac"),
      when(col("b_n").isNull || col("b_n") === 0, 0.0)
        .otherwise(col("b_mx").cast("double") / col("b_n"))
        .as("top_bigram_frac"))
  }

  /** Corpus diversity: distinct-n ratios (Li et al. 2016's "distinct"
    * metric, the standard generation/corpus diversity read-out) per
    * group — distinct n-grams over total n-grams for n = 1, 2, 3. Low
    * distinct-n flags mode collapse in generated corpora and
    * boilerplate/template dominance in scraped ones; distinct-1 is the
    * classic type–token ratio.
    *
    * Shape: ONE [[graft.expr.TokenNGrams]] walk over each doc's token
    * array emits its (n, gram) strings — the single-space join of n
    * consecutive non-empty tokens — so the gram stream is map-only, with
    * no doc-keyed exchange or per-doc sort, until a (group, n, gram)
    * partial-agg count and a (group, n) rollup. The gram-keyed exchange
    * is the one corpus-wide shuffle — the same shuffle any EXACT distinct
    * pays; at the 100 TB tier swap the exact count for the mergeable HLL
    * sketch ([[distinctNgramRatioApprox]]) when ±2% suffices.
    *
    * Out-of-contract input: empty tokens are skipped, so a null, empty or
    * whitespace-only text contributes no gram (the rouge/chrF empty-token
    * convention; mirrored with list_filter in the oracle). Groups with no
    * n-gram of some order (every doc shorter than n tokens) emit no row
    * for that order. Tokens are compared whole, so a surrogate pair is
    * never split. */
  def distinctNgramRatio(
      docs: org.apache.spark.sql.DataFrame,
      groupCol: String = "lang",
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    val g = docs
      .select(col(groupCol).cast("string").as("group"),
        Dedup.tokens(col(textCol)).as("toks"))
      .select(col("group"),
        explode(graft.expr.TokenNGrams.tokenNGrams(col("toks"), 3)).as("ng"))
      .select(col("group"), col("ng.n").as("n"), col("ng.gram").as("gram"))
    g.groupBy("group", "n", "gram").agg(count(lit(1)).as("c"))
      .groupBy("group", "n")
      .agg(sum("c").as("total_ngrams"), count(lit(1)).as("distinct_ngrams"))
      .select(col("group"), col("n"), col("total_ngrams"), col("distinct_ngrams"),
        (col("distinct_ngrams").cast("double") / col("total_ngrams"))
          .as("distinct_ratio"))
      .orderBy("group", "n")
  }

  /** The 100 TB tier of [[distinctNgramRatio]] (round-13 verdict task 5):
    * the same gram streams, but the per-(group, n) EXACT distinct — a
    * gram-keyed shuffle whose state is the full n-gram vocabulary — is
    * replaced by the mergeable HLL register sketch
    * ([[graft.ext.Sketches.hllBucketRank]], the q_hll_distinct machinery).
    * The corpus-wide exchange becomes (group, n, bucket)-keyed with at
    * most 2^b live registers per (group, n): state is CONSTANT in corpus
    * size, and registers from disjoint shards merge by max, so the
    * read-out composes with incremental corpus builds the way the HLL
    * stream store does. total_ngrams stays exact (a count rides the same
    * partial aggregate).
    *
    * Gram surrogates: ONE [[graft.expr.KarpRabinNGramHashes]] walk over
    * each doc's token array emits, per gram, the Karp–Rabin fold
    * ([[rollingHash]]) of its space-joined string — no gram string is
    * built and the stream is map-only until the (group, n, bucket)
    * partial aggregate. The fold is replayable integer arithmetic, so the
    * SparkEntry query's DuckDB oracle regenerates the whole sketch —
    * registers, estimator and all — not just its error.
    *
    * Accuracy: the standard HLL standard error 1.04/√(2^b) — ±1.6% at the
    * default b = 12, ±6.5% at b = 8. The surrogates live in [0, 10^9+7),
    * so distinct grams collide before the sketch sees them: about
    * n/(2·10^9) relative undercount at n distinct grams per (group, n) —
    * 0.05% at 10^6, and still inside the 1.6% standard error at b = 12 up
    * to about 3·10^7 distinct grams. Past that, use [[distinctNgramRatio]].
    * The exact path stays the accuracy oracle and the better choice below
    * the sketch's own memory crossover (a vocabulary under ~2^b grams
    * costs LESS exactly than 2^b registers; the sketch pays off once
    * per-(group, n) vocabularies outgrow ~10 × 2^b). TextExtSpec pins the
    * relative error against the exact path on the fixture corpus.
    * Out-of-contract input is handled as in [[distinctNgramRatio]]. */
  def distinctNgramRatioApprox(
      docs: org.apache.spark.sql.DataFrame,
      groupCol: String = "lang",
      textCol: String = "text",
      b: Int = 12): org.apache.spark.sql.DataFrame = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val hashed = docs
      .select(col(groupCol).cast("string").as("group"),
        Dedup.tokens(col(textCol)).as("toks"))
      .select(col("group"),
        explode(graft.expr.KarpRabinNGramHashes.krNGramHashes(col("toks"), 3))
          .as("pk"))
      // unpack (n, gh) from the n<<32|hash encoding (hash < 10^9+7 < 2^32)
      .select(col("group"),
        shiftright(col("pk"), 32).cast("int").as("n"),
        col("pk").bitwiseAND(lit(0xffffffffL)).as("gh"))
    hllNgramTail(hashed, b)
  }

  /** HLL register/estimator tail of [[distinctNgramRatioApprox]]:
    * (group, n, gh) → (group, n, bucket) register maxima → harmonic-mean
    * estimate with the linear-counting branch. Shared with the spec's
    * string-gram reference, so equivalence checks compare gram streams. */
  private[graft] def hllNgramTail(
      hashed: org.apache.spark.sql.DataFrame, b: Int): org.apache.spark.sql.DataFrame = {
    val (bucket, rank) = Sketches.hllBucketRank(col("gh"), b)
    val regs = hashed
      .select(col("group"), col("n"), bucket.as("bucket"), rank.as("rank"))
      .groupBy("group", "n", "bucket")
      .agg(max("rank").as("rank"), count(lit(1)).as("c"))
    val m = 1 << b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    regs
      .groupBy("group", "n")
      .agg(sum("c").as("total_ngrams"),
        coalesce(sum(pow(lit(2.0), -col("rank"))), lit(0.0)).as("present_inv"),
        count(lit(1)).as("n_registers"))
      .select(col("group"), col("n"), col("total_ngrams"), col("n_registers"),
        (lit(alpha * m.toDouble * m.toDouble) /
          (col("present_inv") + (lit(m) - col("n_registers")).cast("double")))
          .as("raw"),
        (lit(m) - col("n_registers")).cast("double").as("v"))
      .select(col("group"), col("n"), col("total_ngrams"), col("n_registers"),
        when(col("raw") <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(col("raw"))
          .as("est_distinct"))
      .withColumn("est_ratio", col("est_distinct") / col("total_ngrams"))
      .orderBy("group", "n")
  }

  // ---- hashing-trick text embeddings ---------------------------------------

  /** Feature-hashing ("hashing trick") text embeddings: each token maps
    * to bucket = hash mod dim with a ±1 sign bit, bucket values sum over
    * the doc, and the vector is L2-normalized. Deterministic and
    * model-free — raw text becomes an `array<double>` the ANN operators
    * (bruteForceTopK / lshTopK / ivfTopK / Quantize) consume directly,
    * with no external encoder. Sparse-to-dense assembly goes through
    * map_from_entries + a sequence lookup (no dim-sized per-row loop in
    * the aggregate); shuffles are (doc, bucket)-keyed only.
    *
    * The production hash is xxhash64; [[hashedTextEmbeddingsReplayable]]
    * swaps in Karp–Rabin modular arithmetic through the SAME assembly so
    * a SQL oracle replays the whole pipeline (q_hashed_topk_docs). */
  def hashedTextEmbeddings(docs: DataFrame, dim: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hashedCore(docs, dim, idCol, textCol,
      tok => xxhash64(tok),
      h => when(pmod(h, lit(2L)) === 0, 1.0).otherwise(-1.0))

  /** SQL-replayable twin: Karp–Rabin token hash (mod 1e9+7), sign from a
    * multiplicative mix's top half — identical assembly/normalization. */
  def hashedTextEmbeddingsReplayable(docs: DataFrame, dim: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val p = 1000000007L
    hashedCore(docs, dim, idCol, textCol,
      tok => rollingHash(tok),
      h => when(pmod(h * lit(2654435761L), lit(p)) > lit(p / 2), 1.0).otherwise(-1.0))
  }

  private def hashedCore(docs: DataFrame, dim: Int, idCol: String,
      textCol: String, hash: Column => Column,
      sign: Column => Column): DataFrame = {
    require(dim >= 1 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    docs
      .select(col(idCol).as("doc_id"), explode(Dedup.tokens(col(textCol))).as("tok"))
      .withColumn("h", hash(col("tok")))
      .select(col("doc_id"), pmod(col("h"), lit(dim.toLong)).as("bucket"),
        sign(col("h")).as("s"))
      .groupBy("doc_id", "bucket").agg(sum("s").as("v"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("v")))).as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(dim - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("raw"))
      .withColumn("nrm",
        sqrt(aggregate(col("raw"), lit(0.0d), (a, v) => a + v * v)))
      .filter(col("nrm") > 0)
      .select(col("doc_id"),
        transform(col("raw"), v => v / col("nrm")).as("embedding"))
  }

  // ---- n-gram LM quality scoring (CCNet-style) -----------------------------

  /** Bigram language-model counts trained on a reference corpus — the
    * model half of the public CCNet-style "score documents by a small LM
    * trained on clean text" quality filter. Returns (w1, w2, c12) bigram
    * counts, (w1, c1) unigram-context counts and the context-vocabulary
    * size; the whole model is two grouped counts over the token stream
    * (partial-agg friendly, gram-keyed shuffles only). */
  def trainBigramModel(corpus: DataFrame,
      textCol: String = "text"): (DataFrame, DataFrame, Long) = {
    // bigram pairs from ONE TokenPairs walk per doc (no per-doc id, no
    // doc-keyed sort + lead window — TextExtSpec pins row-equality
    // against that shape); the trailing (last-token, NULL) successor
    // marker drops here exactly as the old lead-window null did.
    // Pin the bigram counts: they have three consumers (the score join,
    // the unigram rollup, the vocab count) which would otherwise each
    // re-run the corpus-wide pair aggregate — same multi-consumer issue
    // as the LSH signature frame, same fix
    val bi = graft.core.Ckpt.pin(
      corpus.select(explode(
          graft.expr.TokenPairs.tokenPairs(Dedup.tokens(col(textCol)))).as("p"))
        .filter(col("p.w2").isNotNull)
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c12")))
    val uni = graft.core.Ckpt.pin(bi.groupBy("w1").agg(sum("c12").as("c1")))
    (bi, uni, uni.count())
  }

  /** Collocation / phrase detection — the word2phrase recipe (Mikolov et
    * al. 2013, "Distributed Representations of Words and Phrases...",
    * §4): score(a, b) = (c_ab − δ) · N / (c_a · c_b) — discounted, scaled
    * PMI; pairs scoring high are merged into single phrase tokens before
    * vocabulary builds. δ discounts rare accidents; c_ab < minCount pairs
    * are cut before scoring (the reference implementation's min-count
    * gate).
    *
    * ONE corpus scan: the (w, lead(w)) pair-count frame (doc-final
    * tokens keep a NULL successor marker) is pinned and serves all three
    * statistics — c_ab is the non-null rows, EXACT unigram counts c_a
    * are the per-w1 rollup (every token appears exactly once as a left
    * element, null marker included), and N is the global rollup of the
    * same model-sized frame. The scoring joins are pair-keyed hash joins
    * against the vocabulary-sized count frames; the 1-row N frame rides
    * a broadcast (the q_kmv whitelist class). Scores are 1e-6-canonized
    * BEFORE the (score desc, w1, w2) top-N cut so both engines rank
    * identical values. Output: (w1, w2, c12, c1, c2, score). */
  def collocations(corpus: DataFrame, minCount: Long = 5, delta: Double = 5.0,
      topN: Int = 100, textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(delta >= 0, s"delta must be >= 0, got $delta")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    // bigram pairs from ONE TokenPairs walk per doc (the trainBigramModel
    // zero-window shape; pairs never cross docs by construction, so the
    // per-doc id + window partition disappear with the sort). The
    // trailing (last-token, NULL) marker is KEPT — the exact unigram
    // rollup below counts every token exactly once as a left element.
    val pairs = graft.core.Ckpt.pin(
      corpus.select(explode(
          graft.expr.TokenPairs.tokenPairs(Dedup.tokens(col(textCol)))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c12")))
    val c1 = pairs.groupBy(col("w1")).agg(sum("c12").as("c1"))
    val nTok = pairs.agg(sum("c12").as("n_tokens"))
    pairs
      .filter(col("w2").isNotNull && col("c12") >= minCount)
      .join(c1, "w1")
      .join(c1.select(col("w1").as("w2"), col("c1").as("c2")), "w2")
      .join(broadcast(nTok))
      // c1·c2 multiplies in DOUBLE: two stopword counts at corpus scale
      // overflow a long product (c1·c2 ≤ N², past 2⁶³ for N ≥ ~3e9 tokens)
      .withColumn("score",
        floor((col("c12") - lit(delta)) * col("n_tokens")
          / (col("c1").cast("double") * col("c2").cast("double")) * lit(1e6) + lit(0.5))
          / lit(1e6))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"), col("score"))
      .orderBy(col("score").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-doc mean bigram log-likelihood under the trained model with
    * add-k smoothing: score = mean over doc bigrams of
    * log((c12 + k) / (c1 + k·V)). Unseen contexts get the floor
    * log(k / (k·V)); docs with no bigram score null. Higher = more like
    * the reference corpus — threshold downstream like qualityScore. The
    * doc side explodes to bigram rows and LEFT-joins the model (both
    * gram-keyed hash joins; the model is corpus-vocabulary-sized, so at
    * scale broadcast only if it fits — this uses ordinary joins). */
  def bigramLogLikelihood(docs: DataFrame, model: (DataFrame, DataFrame, Long),
      idCol: String = "doc_id", textCol: String = "text",
      smoothK: Double = 0.1): DataFrame = {
    val (bi, uni, vocab) = model
    require(smoothK > 0, s"smoothK must be > 0, got $smoothK")
    // doc bigrams via the same TokenPairs zero-window walk as training
    docs.select(col(idCol).as("doc_id"),
        explode(graft.expr.TokenPairs.tokenPairs(Dedup.tokens(col(textCol)))).as("p"))
      .filter(col("p.w2").isNotNull)
      .select(col("doc_id"), col("p.w1").as("w"), col("p.w2").as("w2"))
      .join(bi.withColumnRenamed("w1", "w").withColumnRenamed("c12", "__c12"),
        Seq("w", "w2"), "left")
      .join(uni.withColumnRenamed("w1", "w").withColumnRenamed("c1", "__c1"), Seq("w"), "left")
      .select(col("doc_id"),
        log((coalesce(col("__c12"), lit(0L)) + lit(smoothK)) /
          (coalesce(col("__c1"), lit(0L)) + lit(smoothK * vocab))).as("lp"))
      .groupBy("doc_id")
      .agg(avg("lp").as("bigram_loglik"), count(lit(1)).as("n_bigrams"))
  }

  /** Trained interpolated Kneser–Ney bigram model (Chen & Goodman 1999
    * §2.7 / the smoothing KenLM implements): bigram type counts, per-
    * context totals and continuation-type counts, plus the three model
    * scalars — total bigram types B, unigram vocabulary V, and the Ney
    * absolute discount D = n₁/(n₁+2n₂) estimated from the counts of
    * counts. All frames are gram-keyed aggregates of the bigram type
    * table (corpus-sized shuffles only at training, model-sized at
    * scoring). */
  final case class KnModel(bi: DataFrame, ctx: DataFrame, cont: DataFrame,
      bigramTypes: Long, vocab: Long, discount: Double)

  /** Train the interpolated Kneser–Ney bigram model on a reference
    * corpus. One corpus scan builds the bigram type table (Ckpt-pinned —
    * four consumers would each replay the token pass otherwise); the
    * context frame (c1 = Σc12, n1fwd = distinct continuations of w1),
    * the continuation frame (n1bwd = distinct contexts preceding w2), and
    * the scalar row (B, n₁, n₂) are all model-sized rollups of it. The
    * discount falls back to the standard 0.75 iff n₁+2n₂ = 0 (no
    * singleton or doubleton bigram types — the Ney estimator is 0/0
    * there); the fallback is replayed as a CASE in the oracle. */
  def trainKneserNeyModel(corpus: DataFrame,
      textCol: String = "text", hashKeys: Boolean = false): KnModel = {
    // hashKeys keys the model frames by 64-bit token hashes instead of
    // token strings (identical counts absent a 64-bit FNV collision,
    // spec-pinned): 8-byte keys through every downstream shuffle. The
    // scorer reads the key kind back from the model.
    val positions = gramPositions(corpus, textCol, hashKeys, order = 2)
    val bi = graft.core.Ckpt.pin(
      positions.filter(col("w2").isNotNull)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val ctx = graft.core.Ckpt.pin(
      bi.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("n1fwd")))
    val cont = graft.core.Ckpt.pin(
      bi.groupBy("w2").agg(count(lit(1)).as("n1bwd")))
    val scal = bi.agg(count(lit(1)).as("b"),
      sum(when(col("c12") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("c12") === 2, 1L).otherwise(0L)).as("n2")).head()
    val (b, n1, n2) = (scal.getLong(0), scal.getLong(1), scal.getLong(2))
    val vocab = positions.select("w1").distinct().count()
    val d = if (n1 + 2 * n2 > 0) n1.toDouble / (n1 + 2.0 * n2) else 0.75
    KnModel(bi, ctx, cont, b, vocab, d)
  }

  /** Token position stream shared by the Kneser–Ney and Stupid Backoff
    * trainers and scorers: one row per token with its `order − 1`
    * successors — (w1, w2[, w3]), null past the doc tail — plus the
    * passed-through key columns. The labels are the token strings, or
    * with `hashKeys` their 64-bit hashes ([[graft.expr.TokenGramHashes]],
    * k = 1 — one hash per token INCLUDING empty tokens, preserving the
    * split convention). Each successor column is the label array's own
    * shifted slice, zipped against it — arrays_zip pads the shorter
    * slices with null exactly at the doc tail — so no per-doc window
    * shuffle or sort runs. A null text yields no rows. */
  private def gramPositions(src: DataFrame, textCol: String,
      hashKeys: Boolean, order: Int, keyCols: Seq[String] = Seq.empty): DataFrame = {
    val keys = keyCols.map(col)
    val toks = Dedup.tokens(col(textCol))
    val labels =
      if (hashKeys) graft.expr.TokenGramHashes.tokenGramHashes(toks, 1) else toks
    val shifted = (2 to order).foldLeft(src.select(keys :+ labels.as("__hs"): _*)) {
      (df, j) => df.withColumn(s"__n$j",
        slice(col("__hs"), lit(j), greatest(size(col("__hs")) - (j - 1), lit(0))))
    }
    val zipped = col("__hs") +: (2 to order).map(j => col(s"__n$j"))
    shifted
      .select(keys :+ explode(arrays_zip(zipped: _*)).as("__z"): _*)
      .select(keys ++ (col("__z.__hs").as("w1") +:
        (2 to order).map(j => col(s"__z.__n$j").as(s"w$j"))): _*)
  }

  /** Whether a model frame is keyed by 64-bit token hashes (a `w1`
    * column of LongType) rather than token strings. */
  private def hashKeyed(frame: DataFrame): Boolean =
    frame.schema("w1").dataType == org.apache.spark.sql.types.LongType

  /** Per-doc mean log-likelihood under interpolated Kneser–Ney:
    *
    *   p(w2|w1) = max(c12 − D, 0)/c1 + (D·n1fwd(w1)/c1)·p_cont(w2)
    *   p_cont(w2) = n1bwd(w2)/B
    *
    * For every trained context w1 the in-vocabulary probabilities sum to
    * EXACTLY 1 (Σ n1bwd = B telescopes the interpolation — property-
    * tested), which is the point of KN over add-k: discounted mass is
    * reassigned by how promiscuous a continuation is, not how frequent.
    * Two documented out-of-model branches keep the score total and
    * deterministic where the textbook formula is undefined: an unseen
    * context w1 backs off to p_cont(w2) alone, and a w2 with no
    * continuation entry (OOV, or a corpus-initial-only token) scores the
    * uniform floor 1/(V+1) — one reserved <unk> continuation type. Same
    * join shape as [[bigramLogLikelihood]]: doc bigrams LEFT-join the
    * three model frames on their gram keys. */
  def kneserNeyLogLikelihood(docs: DataFrame, model: KnModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val dCol = lit(model.discount)
    val bCol = lit(model.bigramTypes.toDouble)
    val floorP = lit(1.0 / (model.vocab + 1.0))
    // doc tokens are labelled like the model's keys (strings or 64-bit
    // token hashes, whichever the trainer used)
    gramPositions(docs.select(col(idCol).as("doc_id"), col(textCol)),
        textCol, hashKeyed(model.bi), order = 2, keyCols = Seq("doc_id"))
      .withColumnRenamed("w1", "w")
      .filter(col("w2").isNotNull)
      .join(model.bi.select(col("w1").as("w"), col("w2"), col("c12").as("__c12")),
        Seq("w", "w2"), "left")
      .join(model.ctx.select(col("w1").as("w"), col("c1").as("__c1"),
        col("n1fwd").as("__n1fwd")), Seq("w"), "left")
      .join(model.cont.select(col("w2"), col("n1bwd").as("__n1bwd")),
        Seq("w2"), "left")
      .withColumn("pcont",
        when(col("__n1bwd").isNotNull, col("__n1bwd") / bCol).otherwise(floorP))
      .withColumn("p",
        when(col("__c1").isNotNull,
          greatest(coalesce(col("__c12"), lit(0L)).cast("double") - dCol, lit(0.0)) /
            col("__c1") +
            dCol * col("__n1fwd") / col("__c1") * col("pcont"))
          .otherwise(col("pcont")))
      .select(col("doc_id"), log(col("p")).as("lp"))
      .groupBy("doc_id")
      .agg(avg("lp").as("kn_loglik"), count(lit(1)).as("n_bigrams"))
  }

  // ---- Stupid Backoff trigram LM (Brants et al., EMNLP 2007) ---------------

  /** Trained Stupid Backoff trigram model: trigram / bigram / unigram
    * type-count frames plus the corpus token total — raw counts ONLY.
    * No discounting, no continuation counts, no normalization pass: the
    * scheme Google built for trillion-token distributed LM estimation
    * ("Large Language Models in Machine Translation", Brants et al.
    * 2007) precisely because each frame is one plain count aggregate —
    * one gram-keyed shuffle each, additive across corpus shards — where
    * Kneser–Ney needs global type statistics per order. The natural
    * 100 TB upgrade of [[KnModel]] when the corpus outgrows smoothing. */
  final case class SbModel(tri: DataFrame, bi: DataFrame, uni: DataFrame,
      total: Long)

  /** Train the Stupid Backoff count frames on a reference corpus. One
    * corpus scan builds the (w, w2, w3) position stream (Ckpt-pinned —
    * three count rollups would each replay the token pass otherwise);
    * unigram, bigram and trigram counts are independent aggregates of
    * it, and the token total is a sum over the unigram frame. */
  def trainStupidBackoff(corpus: DataFrame, textCol: String = "text",
      hashKeys: Boolean = false): SbModel = {
    // (w1, w2, w3) = each token with its two successors (nulls at the doc
    // tail). hashKeys puts 8-byte keys through every count shuffle — the
    // same relabeling contract as the KN trainer above.
    val seq3 = graft.core.Ckpt.pin(gramPositions(corpus, textCol, hashKeys, order = 3))
    val uni = graft.core.Ckpt.pin(
      seq3.groupBy("w1").agg(count(lit(1)).as("c1")))
    val bi = graft.core.Ckpt.pin(seq3.filter(col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val tri = graft.core.Ckpt.pin(seq3.filter(col("w3").isNotNull)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123")))
    val total = uni.agg(coalesce(sum("c1"), lit(0L))).head().getLong(0)
    SbModel(tri, bi, uni, total)
  }

  /** Per-doc mean log Stupid Backoff score over trigram positions:
    *
    *   S(w3|w1 w2) = c123/c12            if the trigram was seen
    *               = α · c23/c2          else if the (w2,w3) bigram was
    *               = α² · c3/N           else (α = 0.4, Brants §3)
    *
    * with one deterministic extension: an OOV w3 (no unigram count)
    * scores the reserved-type floor α²/(N+1) — the same <unk>
    * convention as the Kneser–Ney floor, keeping the score total where
    * the paper leaves it undefined. S is a relative score, NOT a
    * probability (it never normalizes) — the paper's point: quality
    * ranking at web scale with zero normalization passes. Docs shorter
    * than 3 tokens produce no row (no trigram evidence).
    *
    * Join shape: the doc trigram stream LEFT-joins the three count
    * frames on their gram keys (the trigram once, the bigram frame
    * twice — context (w1,w2) and backoff (w2,w3) — the unigram frame
    * twice — denominator w2 and numerator w3). A seen trigram implies
    * its context bigram is in the model, and a seen bigram implies its
    * first word is, so the CASE arms never divide by null. */
  def stupidBackoffScore(docs: DataFrame, model: SbModel, alpha: Double = 0.4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val a = lit(alpha)
    val a2 = lit(alpha * alpha)
    val n = lit(model.total.toDouble)
    // doc tokens are labelled like the count frames' keys
    gramPositions(docs.select(col(idCol).as("doc_id"), col(textCol)),
        textCol, hashKeyed(model.uni), order = 3, keyCols = Seq("doc_id"))
      .filter(col("w3").isNotNull)
      .join(model.tri.select(col("w1"), col("w2"), col("w3"),
        col("c123").as("__c123")), Seq("w1", "w2", "w3"), "left")
      .join(model.bi.select(col("w1"), col("w2"), col("c12").as("__c12")),
        Seq("w1", "w2"), "left")
      .join(model.bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c12").as("__c23")), Seq("w2", "w3"), "left")
      .join(model.uni.select(col("w1").as("w2"), col("c1").as("__c2")),
        Seq("w2"), "left")
      .join(model.uni.select(col("w1").as("w3"), col("c1").as("__c3")),
        Seq("w3"), "left")
      .select(col("doc_id"), log(
        when(col("__c123").isNotNull,
          col("__c123").cast("double") / col("__c12"))
        .when(col("__c23").isNotNull,
          a * col("__c23").cast("double") / col("__c2"))
        .when(col("__c3").isNotNull, a2 * col("__c3").cast("double") / n)
        .otherwise(a2 / (n + lit(1.0)))).as("lp"))
      .groupBy("doc_id")
      .agg(avg("lp").as("sb_loglik"), count(lit(1)).as("n_trigrams"))
  }

  // ---- corpus-health diagnostics (Zipf fit) --------------------------------

  /** Zipf's-law fit over the top-N token frequencies — the classic
    * corpus-health diagnostic (Zipf 1949; natural language shows
    * log f ≈ a + s·log r with slope s ≈ −1, while templated/synthetic or
    * boilerplate-heavy corpora bend the curve): OLS of ln(count) on
    * ln(rank) over the top `topN` token types, plus the mass fraction
    * those types cover. One row out:
    * (n_tokens, vocab, n_top, zipf_slope, zipf_r2, top_mass).
    *
    * Plan shape: one gram-keyed count (the only corpus-wide shuffle),
    * a TakeOrdered top-N cut with deterministic (count desc, token asc)
    * ties, then model-sized arithmetic — the rank window and the OLS
    * aggregate run over ≤ topN rows. Degenerate fits (fewer than 2 types,
    * or zero count variance) report r2 = 0 and slope 0 rather than
    * dividing by zero. */
  def zipfStats(corpus: DataFrame, topN: Int = 1000,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val counts = corpus
      .select(explode(Dedup.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"))
    val top = counts.orderBy(col("c").desc, col("tok")).limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("c").desc, col("tok"))))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"), col("c"))
    val fit = top.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum("c").as("top_c"))
    fit.crossJoin(broadcast(totals)).select(
      col("n_tokens"), col("vocab"), col("n").as("n_top"),
      when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
        .otherwise(lit(0.0)).as("zipf_slope"),
      when((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")) > 0,
        pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
           (col("n") * col("syy") - col("sy") * col("sy"))))
        .otherwise(lit(0.0)).as("zipf_r2"),
      (col("top_c").cast("double") / col("n_tokens")).as("top_mass"))
  }

  // ---- benchmark decontamination -------------------------------------------

  /** Token k-gram rows, hashed: the contamination-check gram stream,
    * built SHUFFLE-FREE. The repetitionStats window-lead shape would
    * shuffle the exploded token stream by doc_id — a corpus-wide exchange
    * this operator doesn't otherwise need (unlike minhash, whose groupBy
    * wants that partitioning anyway). The native codegen'd
    * [[graft.expr.TokenGramHashes]] expression builds the sliding 64-bit
    * FNV-1a gram hashes straight from the token array in one fused pass
    * (a built-in indexed lambda over the derived array would re-evaluate
    * the split per element — quadratic in doc length — and a Scala UDF
    * pays a serializer boundary per row, both measured worse). Gram
    * identity only needs SELF-consistency between the
    * corpus and benchmark sides — both run this kernel — so equal token
    * sequences collide exactly and unequal ones at 64-bit-negligible
    * rates; the oracle replays with raw string grams. Docs shorter than
    * k tokens produce NO grams — a short doc is never flagged (the
    * alternative, whole-doc digests, has permutation-collision semantics
    * an exact oracle cannot replay). */
  private def tokenGramHashRows(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, k: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(graft.expr.TokenGramHashes.tokenGramHashes(
        Dedup.tokens(col(textCol)), k)).as("sh"))

  /** Per-document gram-duplication profile — the corpus-duplication
    * DIAGNOSTIC companion to the span/near-dup REMOVAL operators (the
    * analysis Lee et al. 2022 run before deciding how hard to dedup):
    * for each doc, how many of its distinct k-token grams also appear in
    * at least `minDocs − 1` OTHER documents, and what fraction of the doc
    * that is. Returns (doc_id, n_grams, n_shared, shared_frac); docs
    * shorter than k tokens have no grams and report (0, 0, 0.0).
    *
    * Plan shape: the fused [[graft.expr.TokenGramHashes]] gram stream
    * (shuffle-free), per-doc DISTINCT grams, one gram-keyed
    * doc-frequency aggregate (the only corpus-wide shuffle — it carries
    * (gram, doc) pairs, partial-aggregated map-side), a gram-keyed join
    * back, and a doc-keyed rollup. Gram identity is hash-self-consistent
    * like the decontamination path — the oracle replays with raw string
    * grams. */
  def gramDuplicationStats(docs: DataFrame, k: Int = 5, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val grams = tokenGramHashRows(docs, idCol, textCol, k)
      .select(col("doc_id"), col("sh")).distinct()
    // grams is (doc, gram)-distinct already, so a plain count IS the
    // distinct-doc frequency — no countDistinct expand needed
    val df = grams.groupBy("sh").agg(count(lit(1)).as("gdf"))
    val perDoc = grams.join(df, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= minDocs, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_grams"))
    // gram-less docs (shorter than k tokens, or null text) report zeros
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("shared_frac"), lit(0.0)).as("shared_frac"))
  }

  /** Benchmark decontamination, membership side: corpus docs that share
    * at least one k-token gram with ANY benchmark document — the standard
    * "drop training documents that contain eval data" check (public
    * GPT-3/PaLM-style n-gram overlap decontamination). The benchmark gram
    * set is model-sized by contract (it is the eval suite), so the plan is
    * a map-side corpus gram stream semi-joined against a BROADCAST of the
    * distinct benchmark grams — the corpus is never shuffled; the only
    * exchange is the distinct over flagged doc ids. */
  def contaminatedDocIds(
      corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bg = tokenGramHashRows(benchmark, idCol, textCol, k).select("sh").distinct()
    tokenGramHashRows(corpus, idCol, textCol, k)
      .join(broadcast(bg), "sh")
      .select(col("doc_id").as(idCol))
      .distinct()
  }

  /** Contamination REPORT — the per-benchmark-doc overlap table the
    * public decontamination write-ups publish (GPT-3 appendix C /
    * PaLM-style "fraction of eval n-grams seen in training"): for each
    * benchmark doc, its gram-occurrence count, how many of those
    * occurrences appear anywhere in the corpus, the contamination
    * fraction, and the widest corpus spread of any single shared gram.
    * Plan shape mirrors [[contaminatedDocIds]]: the corpus gram stream
    * is semi-joined map-side against the BROADCAST benchmark gram set,
    * so only hit grams (bounded by the model-sized benchmark) reach the
    * one gram-keyed aggregate; the corpus is never shuffled. Benchmark
    * docs shorter than k tokens produce no grams and are absent from
    * the report (the operators' documented short-doc exclusion). */
  def contaminationReport(
      corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val bg = tokenGramHashRows(benchmark, idCol, textCol, k)
    val bgd = bg.select("sh").distinct()
    val hits = tokenGramHashRows(corpus, idCol, textCol, k)
      .join(broadcast(bgd), "sh")
      .groupBy("sh").agg(countDistinct("doc_id").as("n_corpus_docs"))
    bg.join(broadcast(hits), Seq("sh"), "left")
      .groupBy(col("doc_id").as(idCol))
      .agg(count(lit(1)).as("n_grams"),
        count(col("n_corpus_docs")).as("n_hit_grams"),
        coalesce(max("n_corpus_docs"), lit(0L)).as("max_gram_spread"))
      .withColumn("contamination", col("n_hit_grams").cast("double") / col("n_grams"))
  }

  /** Benchmark decontamination, filter side: the corpus minus every doc
    * [[contaminatedDocIds]] flags. */
  def decontaminate(
      corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5): org.apache.spark.sql.DataFrame =
    corpus.join(contaminatedDocIds(corpus, benchmark, idCol, textCol, k),
      Seq(idCol), "left_anti")

  /** Bloom-prefiltered decontamination — the tier between
    * [[decontaminate]] (broadcasts the exact benchmark gram set into a
    * join: right when the set fits a broadcast) and
    * [[decontaminateWithGramSet]] (driver Set in the task closure: right
    * when it fits in one task's memory). When the benchmark is itself
    * large (hundreds of millions of grams), build a Bloom filter over
    * its gram hashes — a distributed sketch aggregation, bits ≈
    * n·ln(1/fpp)/ln²2, e.g. ~1.2 GB·(n/1e9) at 1% fpp — broadcast THAT,
    * and run the exact gram join only on the docs the filter flags.
    *
    * Exactness: a Bloom filter has NO false negatives, so every truly
    * contaminated doc reaches the verify join; false positives (≈ fpp of
    * clean docs) cost only wasted verify work, never a wrong result —
    * the output equals [[decontaminate]]'s bit-for-bit (spec-pinned).
    * At 100 TB the win is that the corpus-side gram explosion feeding
    * the join shrinks from every doc to ~(contaminated + fpp·clean)
    * docs, while the benchmark ships as O(bits) instead of an exact
    * set. */
  def decontaminateBloom(
      corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5,
      fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val grams = tokenGramHashRows(benchmark, idCol, textCol, k).select("sh").distinct()
    // expected-items sizing needs a count; one cheap aggregate over the
    // (already model-shaped) distinct gram frame. A gram-less benchmark
    // (empty, or every doc shorter than k tokens) means nothing can be
    // contaminated — and Spark's stat.bloomFilter NPEs on an empty frame
    // (null aggregation buffer), so return early rather than sketch.
    val n = grams.count()
    if (n == 0) return corpus
    val bf = grams.stat.bloomFilter("sh", n, fpp)
    val bfB = corpus.sparkSession.sparkContext.broadcast(bf)
    val mightHit = org.apache.spark.sql.functions.udf { (hashes: Seq[Long]) =>
      hashes != null && hashes.exists(bfB.value.mightContain(_))
    }
    val candidates = corpus.filter(mightHit(graft.expr.TokenGramHashes.tokenGramHashes(
      Dedup.tokens(col(textCol)), k)))
    // exact verify over candidates only — removes Bloom false positives
    corpus.join(contaminatedDocIds(candidates, benchmark, idCol, textCol, k),
      Seq(idCol), "left_anti")
  }

  /** Streaming-composable decontamination: a STATELESS per-row filter —
    * the benchmark gram set is model-sized by contract, so it collects to
    * a driver Set once and ships in the task closure; each arriving doc
    * is kept iff none of its k-token grams hit the set. Works identically
    * on a batch frame or a `readStream` frame (no aggregation, no
    * watermark, no state store — batch ≡ stream is structural), which is
    * the shape a continuous ingestion pipeline needs. For the batch
    * corpus-vs-corpus form prefer [[decontaminate]] (keeps everything
    * distributed). */
  def decontaminateWithGramSet(
      corpus: org.apache.spark.sql.DataFrame,
      benchmark: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val benchGrams: Set[Long] =
      tokenGramHashRows(benchmark, idCol, textCol, k).select("sh").distinct()
        .collect().map(_.getLong(0)).toSet
    // null text → null gram array; keep the doc, matching the batch
    // anti-join form (a null-text doc emits no gram rows so is never
    // flagged there) — without the guard this UDF NPEs on real corpora.
    val clean = udf { (hashes: Seq[Long]) =>
      hashes == null || !hashes.exists(benchGrams.contains) }
    corpus.filter(clean(graft.expr.TokenGramHashes.tokenGramHashes(
      Dedup.tokens(col(textCol)), k)))
  }

  // ---- language identification --------------------------------------------

  /** Tiny per-language function-word profiles (public common-word lists) +
    * a CJK character ratio for zh. Deterministic n-gram-free heuristic —
    * good enough to route documents; not a trained model. */
  private[graft] val Profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "you", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une", "dans", "que", "pour"))

  /** Gopher-style per-doc quality statistics (Rae et al. 2021 §A1.1 — the
    * published "Gopher rules" document filter): word counts, mean word
    * length, alphabetic-word fraction, symbol-to-word ratio (# and …),
    * bullet-start and ellipsis-end line fractions, plus type-token ratio
    * and token Shannon entropy (H = ln n − Σc·ln c / n — one pass over
    * the per-(doc, token) counts, no per-doc distinct scan).
    *
    * Scale shape: ONE posexplode → groupBy(doc, token) count (map-side
    * combinable — the shuffle carries per-doc VOCAB rows, not tokens) →
    * groupBy(doc); every word-level stat folds over the counted rows
    * (`Σc·len(tok)`, not a second token pass). The line-level fractions
    * ride a second, lighter explode. Docs with null/empty text surface
    * with null stats (LEFT join) — the filter treats them as failing. */
  def gopherStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val tok = base
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "")
    val perTok = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val hashes = length(col("t")) - length(replace(col("t"), lit("#"), lit("")))
    val dots = (length(col("t")) -
      length(replace(col("t"), lit("..."), lit("")))) / lit(3)
    val ellip = length(col("t")) - length(replace(col("t"), lit("…"), lit("")))
    val wordStats = perTok.groupBy("doc_id").agg(
      sum("c").as("n_words"),
      (sum(col("c") * length(col("t"))) / sum("c")).as("mean_word_len"),
      (sum(when(col("t").rlike("[a-z]"), col("c")).otherwise(0L)) / sum("c"))
        .as("alpha_word_frac"),
      (sum(col("c") * (hashes + dots + ellip)) / sum("c")).as("symbol_word_ratio"),
      (count(lit(1)) / sum("c")).as("type_token_ratio"),
      (log(sum("c")) - sum(col("c") * log(col("c"))) / sum("c")).as("token_entropy"))
    val line = base
      .select(col("doc_id"), explode(split(col("text"), "\n")).as("l"))
      .select(col("doc_id"), trim(col("l")).as("l"))
    val lineStats = line.groupBy("doc_id").agg(
      avg(when(col("l").rlike("^([-*•])"), 1.0).otherwise(0.0)).as("bullet_line_frac"),
      avg(when(col("l").rlike("(\\.\\.\\.|…)$"), 1.0).otherwise(0.0)).as("ellipsis_line_frac"))
    base.select(col("doc_id"))
      .join(wordStats, Seq("doc_id"), "left")
      .join(lineStats, Seq("doc_id"), "left")
  }

  /** The published Gopher keep-rule over [[gopherStats]] (defaults are the
    * paper's §A1.1 thresholds; minWords is configurable because 50 words
    * excludes most short-doc fixtures). Null stats (empty/null text) fail
    * the rule. Emits the stats plus `kept`. */
  def gopherFilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8): DataFrame =
    gopherStats(docs, idCol, textCol).withColumn("kept",
      coalesce(
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen &&
          col("symbol_word_ratio") <= maxSymbolRatio &&
          col("bullet_line_frac") <= maxBulletFrac &&
          col("ellipsis_line_frac") <= maxEllipsisFrac &&
          col("alpha_word_frac") >= minAlphaFrac,
        lit(false)))

  /** Blocklist-grade token form: the [[Dedup.tokens]] token with leading/
    * trailing non-alphanumerics stripped, so "Bad," and "(bad)" match the
    * blocklist entry "bad" — the word-boundary semantics badwords
    * filtering needs (plain substring match would flag "class" for
    * "ass"). Codegen'd regexp; empty after stripping ⇒ not a word. */
  def blocklistToken(t: Column): Column =
    regexp_replace(t, "^[^a-z0-9]+|[^a-z0-9]+$", "")

  /** Per-doc blocklist hit counts — the C4-style badwords pass (Raffel et
    * al. 2020 filter the corpus on a published "bad words" list; the list
    * here is the caller's). Emits (idCol, n_flagged) for docs with ≥ 1
    * hit only.
    *
    * Scale shape: the corpus explodes to tokens, LEFT SEMI broadcast-join
    * against the model-sized word list keeps ONLY flagged tokens (the
    * corpus itself is never shuffled — same discipline as
    * decontaminate), and the per-doc count partial-aggregates map-side.
    */
  def blocklistHits(docs: DataFrame, idCol: String, textCol: String,
      words: Seq[String]): DataFrame = {
    require(words.nonEmpty, "blocklist must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    // normalize the LIST the same way as the corpus tokens — a published
    // badwords file with entries like "bad!" or " bad" must still match
    val norm = words.map(_.trim.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("^[^a-z0-9]+|[^a-z0-9]+$", "")).filter(_.nonEmpty).distinct
    require(norm.nonEmpty, "blocklist is empty after normalization")
    val wl = norm.toDF("__w")
    docs.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("__t"))
      .select(col(idCol), blocklistToken(col("__t")).as("__t"))
      .filter(col("__t") =!= "")
      .join(broadcast(wl), col("__t") === col("__w"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_flagged"))
  }

  /** Per-doc PHRASE-blocklist hit counts — the multi-word half of the C4
    * badwords pass (the published list has entries like "bad phrase";
    * [[blocklistHits]]' token join can't see them). A phrase matches as
    * a CONSECUTIVE token subsequence after per-token [[blocklistToken]]
    * normalization on both sides, so "Bad phrase!" in a doc still hits
    * the entry "bad phrase" (tokenization is whitespace-only — a
    * hyphenated "bad-phrase" is ONE token and does not match a
    * two-token entry; punct-only tokens normalize empty and break
    * adjacency). Emits (idCol, n_flagged) for docs with
    * ≥ 1 hit, counting every occurrence of every entry.
    *
    * Scale shape: ONE corpus token scan — Lmax−1 window `lead`s on the
    * (doc, pos) exchange assemble, per position, one candidate gram for
    * EACH distinct entry length (an array of ≤ |lengths| structs,
    * null-marked where the window runs off the doc), a single explode
    * flattens them, and a broadcast LEFT SEMI join against the
    * model-sized normalized phrase list keeps only hits (gram string
    * determines its own length — space-joined ℓ-token grams only equal
    * ℓ-token entries). The corpus is never shuffled except by the
    * (doc, pos) window exchange and the final per-doc count, both
    * map-side combinable. */
  def phraseBlocklistHits(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklist must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val norm = phrases
      .map(_.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
        .map(_.replaceAll("^[^a-z0-9]+|[^a-z0-9]+$", "")).filter(_.nonEmpty))
      .filter(_.nonEmpty).map(_.mkString(" ")).distinct
    require(norm.nonEmpty, "blocklist is empty after normalization")
    val lengths = norm.map(_.split(" ").length).distinct.sorted
    val maxL = lengths.max
    val wl = norm.toDF("__p")
    val tok = docs
      .select(col(idCol), posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "__t")))
      .select(col(idCol), col("pos"), blocklistToken(col("__t")).as("__t"))
    val wnd = Window.partitionBy(idCol).orderBy("pos")
    val leads = (1 until maxL).map(j => lead("__t", j).over(wnd).as(s"__t$j"))
    val withLeads = tok.select(col(idCol) +: col("pos") +: col("__t") +: leads: _*)
    def gram(l: Int): Column = {
      val parts = col("__t") +: (1 until l).map(j => col(s"__t$j"))
      val full =
        if (l == 1) lit(true)
        else parts.map(_.isNotNull).reduce(_ && _)
      // empty normalized tokens disqualify a gram (the entry list never
      // contains them, and concat_ws would silently skip them and
      // misalign lengths)
      val nonEmpty = parts.map(_ =!= "").reduce(_ && _)
      when(full && nonEmpty, concat_ws(" ", parts: _*))
    }
    withLeads
      .select(col(idCol),
        explode(array(lengths.map(l => gram(l)): _*)).as("__g"))
      .filter(col("__g").isNotNull)
      .join(broadcast(wl), col("__g") === col("__p"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_flagged"))
  }

  /** Drop every doc containing ≥ 1 blocklisted word (the C4 rule). An
    * anti-join against the flagged-id set — deliberately NOT hinted
    * broadcast: the flagged set is usually corpus-fraction-sized, and
    * AQE picks the strategy from its runtime size. */
  def dropBlocklisted(docs: DataFrame, idCol: String, textCol: String,
      words: Seq[String]): DataFrame =
    docs.join(blocklistHits(docs, idCol, textCol, words).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Dedup-grade canonical form: lowercase, ASCII punctuation → space,
    * digit RUNS folded to a single '0' (so "v1.2.3" ≡ "v4.5.6" — version/
    * id churn shouldn't defeat near-dup detection), whitespace collapsed,
    * trimmed. Pure codegen'd string expressions — scales as a map-side
    * transform; the exact chain is mirrored in the q_normalize_events
    * oracle, so cross-engine regex semantics are pinned per round. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(lower(text), "[\\p{Punct}]", " "),
        "[0-9]+", "0"),
      "\\s+", " "))

  /** Redact emails → URLs → bare IPv4s (in that order: the email pass must
    * consume user@host before the URL pass can half-eat the host). The
    * patterns avoid lookarounds/backrefs so they run identically under
    * Java regex and RE2-family engines. This is the fixed column-level
    * fast form; [[Pii]] is the rule-driven frame-level op (configurable
    * detectors, per-rule replacement counts, phone numbers). */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noUrl = regexp_replace(noEmail,
      "(https?://|www\\.)[^\\s]+", "<URL>")
    regexp_replace(noUrl,
      "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
  }

  def cjkRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\u4e00-\\u9fff]", ""))).cast("double") /
      greatest(length(text), lit(1))

  /** Predicted language code; `unk` when nothing matches. Scores are
    * packed into structs and reduced with one `array_max` (struct ordering
    * compares score first) — a fold of nested CASE WHENs would duplicate
    * every score subtree exponentially, and iterating a Map would make
    * tie-breaking order-nondeterministic. Ties break on the language code
    * (deterministic). */
  def langId(text: Column): Column = {
    // let-binding via a single-element transform: the lambda variable
    // holds the tokenized array, so the O(len) split runs ONCE per row
    // instead of once per language profile (Catalyst expressions are
    // trees, not DAGs — repeating `tokens(text)` per profile replicates
    // the split; round-8 expression-duplication lint). The outer array
    // has exactly one element, so the lambda body runs once — none of
    // the quadratic derived-array-in-lambda inlining risk.
    element_at(transform(array(Dedup.tokens(text)), toks => {
      val denom = greatest(size(toks), lit(1)).cast("double")
      val entries = Profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
        struct(
          (size(filter(toks, t => t.isInCollection(words))).cast("double") / denom).as("s"),
          lit(lang).as("l"))
      } :+ struct((cjkRatio(text) * 2.0).as("s"), lit("zh").as("l"))
      val best = array_max(array(entries: _*))
      when(best.getField("s") > 0.0, best.getField("l")).otherwise(lit("unk"))
    }), 1)
  }

  // ---- fingerprinting ------------------------------------------------------

  /** Winnowing fingerprint rows (Schleimer et al. 2003): hash all char
    * k-grams, keep the minimum of each sliding window of w. Since round 8
    * this is the fused native expression [[graft.expr.WinnowedMins]] —
    * one O(n) monotone-deque pass per row producing the distinct
    * fingerprint set map-side, where the earlier relational form
    * (posexplode one row per character position → doc-keyed window min)
    * EXCHANGED the whole position stream; values are bit-identical
    * (xxhash64 of the same substrings), so downstream consumers and the
    * Column-form parity spec are unchanged. (The Column form below nests
    * array lambdas, which Catalyst inlines quadratically — fine for
    * short strings in tests, lethal on a corpus.) */
  def fingerprintRows(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): org.apache.spark.sql.DataFrame =
    winnowExprRows(docs, idCol, textCol, k, w, rolling = false)

  /** Karp–Rabin polynomial gram hash — the hash family the winnowing paper
    * itself uses: fold `h ← (h·257 + codepoint) mod (10^9+7)` over the
    * gram's characters. Every intermediate fits a long (h < 10^9, so
    * h·257 + c < 2^39 — ANSI-safe), and the recurrence is plain integer
    * arithmetic any engine reproduces bit-identically, which makes
    * winnowing built on it hard-oracle-able (unlike xxhash64, whose value
    * is engine-specific by construction).
    *
    * Since r14 this is the fused native expression
    * ([[graft.expr.KarpRabinHash]] — one codegen'd code-point loop); the
    * original `aggregate(split(s, ""))` higher-order tree is retained in
    * `src/test` as `GramReference.rollingHashExpr`, the bit-equality
    * reference the spec pins (the SimHashReplayWord retirement
    * discipline). Corpus-wide
    * consumers (DSIR features, hashed classifiers, CDC grams, CMS
    * counters, the HLL gram surrogate) evaluate this once per token
    * occurrence, where the tree form paid a per-char array allocation
    * plus interpreted lambda per element. */
  def rollingHash(s: Column): Column =
    graft.expr.KarpRabinHash.karpRabin(s)

  /** [[fingerprintRows]] with the [[rollingHash]] gram hash family:
    * identical winnowing selection (same fused kernel, Karp–Rabin values
    * via the exact-mod O(1) slide), cross-engine-reproducible. The
    * xxhash64 variant is the hot path; this one is the compatibility /
    * verification surface — the per-round DuckDB oracle replays the whole
    * pipeline against it, which pins the SHARED selection logic for both. */
  def rollingFingerprintRows(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4): org.apache.spark.sql.DataFrame =
    winnowExprRows(docs, idCol, textCol, k, w, rolling = true)

  /** Shared winnowing driver: normalize (case-fold, collapse whitespace)
    * and explode the fused kernel's distinct fingerprint set. Null text
    * yields no rows (the kernel is null-propagating and explode skips
    * nulls). */
  private def winnowExprRows(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int, w: Int, rolling: Boolean): org.apache.spark.sql.DataFrame = {
    val norm = lower(regexp_replace(col(textCol), "\\s+", " "))
    docs.select(col(idCol).as("doc_id"),
      explode(graft.expr.WinnowedMins.winnowedMins(norm, k, w, rolling)).as("fp"))
  }

  /** MOSS-style shared-span near-dup pairs: doc pairs sharing at least
    * `minShared` winnowing fingerprints — catches a copied paragraph
    * inside otherwise-different documents, which shingle-set Jaccard
    * dilutes toward zero as the surrounding text grows. Fingerprints
    * appearing in more than `maxDocsPerFp` docs are dropped before
    * pairing (boilerplate/stop-fragments would otherwise generate
    * quadratic bucket blowup — the standard frequency cap); pairing is
    * fingerprint-bucket-local, ≤ cap² pairs per fingerprint. The fp frame
    * feeds three consumers (the frequency filter and both self-join
    * sides), so it is checkpointed once — the lshCore lesson: column
    * pruning specializes multi-consumer subtrees and ReuseExchange
    * cannot be relied on to dedupe them. */
  def fingerprintNearDuplicates(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 2,
      maxDocsPerFp: Long = 50): org.apache.spark.sql.DataFrame =
    fpPairCore(fingerprintRows(docs, idCol, textCol, k, w), minShared, maxDocsPerFp)

  /** [[fingerprintNearDuplicates]] over the Karp–Rabin rolling-hash
    * fingerprints — the SQL-replayable twin (same pair core, same
    * winnowing structure; only the gram hash differs), so an oracle can
    * replay fingerprint selection, the frequency cap, bucket pairing,
    * and the shared-count threshold end-to-end. */
  def fingerprintNearDuplicatesReplayable(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 2,
      maxDocsPerFp: Long = 50): org.apache.spark.sql.DataFrame =
    fpPairCore(rollingFingerprintRows(docs, idCol, textCol, k, w), minShared, maxDocsPerFp)

  private def fpPairCore(fps0: org.apache.spark.sql.DataFrame,
      minShared: Int, maxDocsPerFp: Long): org.apache.spark.sql.DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFp >= 2, s"maxDocsPerFp must be >= 2, got $maxDocsPerFp")
    val fps = graft.core.Ckpt.pin(fps0)
    val kept = graft.core.Ckpt.pin(fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") >= 2 && col("df") <= maxDocsPerFp)
          .select("fp"),
        "fp")) // self-joined below: two consumers again
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One 64-bit fingerprint per doc from the winnowed set (relational). */
  def docFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): org.apache.spark.sql.DataFrame =
    docFingerprintCore(fingerprintRows(docs, idCol, textCol, k, w),
      fps => xxhash64(array_join(transform(fps, v => v.cast("string")), ",")))

  /** [[docFingerprints]] with replayable arithmetic end to end (the
    * signature-injection recipe): Karp–Rabin winnowed fingerprints
    * ([[rollingFingerprintRows]]) collapsed by a polynomial fold over the
    * SORTED distinct set — seed 0, acc ← (acc·1315423911 + fp) mod 1e9+7,
    * every operand < 1e9+7 so products stay < 2^63 (ANSI-safe) and an SQL
    * engine replays the digest bit-for-bit (q_fingerprint_docs). Shares
    * [[docFingerprintCore]] with the xxhash64 hot path, so the sort +
    * distinct + collapse structure can never drift between the two. */
  def docFingerprintsReplayable(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 4): org.apache.spark.sql.DataFrame =
    docFingerprintCore(rollingFingerprintRows(docs, idCol, textCol, k, w),
      fps => aggregate(fps, lit(0L),
        (acc, v) => (acc * lit(1315423911L) + v) % lit(1000000007L)))

  /** Shared collapse for the doc-fingerprint pair: the winnowed distinct
    * fp set, sorted, folded to one 64-bit value by the injected digest. */
  private def docFingerprintCore(rows: org.apache.spark.sql.DataFrame,
      digest: Column => Column): org.apache.spark.sql.DataFrame =
    rows.groupBy("doc_id")
      .agg(digest(array_sort(collect_set(col("fp")))).as("fingerprint"))

  /** Column form — ONLY for short strings (tests/ad-hoc); see above. */
  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    val norm = lower(regexp_replace(text, "\\s+", " "))
    val n = length(norm)
    val grams = when(n >= k,
      transform(sequence(lit(1), n - k + 1), i => xxhash64(norm.substr(i, lit(k)))))
      .otherwise(array(xxhash64(norm)))
    val m = size(grams)
    val windows = when(m >= w,
      transform(sequence(lit(1), m - w + 1), i => array_min(slice(grams, i, lit(w)))))
      .otherwise(array(array_min(grams)))
    array_distinct(windows)
  }

  /** URL matcher shared by the domain stats and the blocklist filter.
    * RE2-compatible (no lookaround), scheme-anchored, host = dotted
    * alnum/hyphen labels, optional port and path; a trailing-path match
    * stops at whitespace. Precision-first like the [[Pii]] rules. */
  private[graft] val urlPattern: String =
    "https?://[A-Za-z0-9.-]+(?::\\d+)?(?:/[^\\s]*)?"

  /** Host extractor applied to a MATCHED url (scheme guaranteed). */
  private[graft] val domainOfUrl: Column => Column =
    u => lower(regexp_extract(u, "https?://([A-Za-z0-9.-]+)", 1))

  /** Corpus-level URL/domain frequency table (the C4/RefinedWeb URL-audit
    * step: which hosts dominate the crawl): one map-side
    * regexp_extract_all + explode, one (domain)-keyed partial aggregate —
    * the shuffle carries domains, never documents. Emits
    * (domain, n_urls, n_docs), lowercased hosts. */
  def urlDomainStats(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(urlPattern), lit(0))).as("url"))
      .select(col("doc_id"), domainOfUrl(col("url")).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"), countDistinct("doc_id").as("n_docs"))

  /** Drop documents citing any blocked domain (subdomains included: a url
    * host matches if it equals the blocked domain or ends with
    * ".<domain>" — the standard blocklist semantics). The blocklist is a
    * MODEL (literal array, broadcast with the plan); the corpus is never
    * shuffled — pure map-side filter, like [[dropBlocklisted]]. */
  def dropBlockedDomains(
      docs: DataFrame,
      blockedDomains: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(blockedDomains.nonEmpty, "empty blocklist: nothing to drop")
    val blocked = blockedDomains.map(_.toLowerCase(java.util.Locale.ROOT))
    val hosts = transform(regexp_extract_all(col(textCol), lit(urlPattern), lit(0)),
      u => domainOfUrl(u))
    val hit = exists(hosts, h =>
      blocked.map(b => h === lit(b) || h.endsWith(lit("." + b)))
        .reduce(_ || _))
    docs.filter(!coalesce(hit, lit(false)))
  }

  // ---- corpus drift -----------------------------------------------------

  /** Per-term Jensen–Shannon contributions between the unigram
    * distributions of two corpora — the distribution-drift monitor a
    * mixture pipeline runs when a new crawl snapshot or source lands
    * (did the token distribution move, and WHICH terms moved it?).
    *
    * Over the JOINT vocabulary with add-`smoothK` smoothing (so neither
    * side is ever zero): p = (c_a + k)/(N_a + k·V), q likewise, m =
    * (p+q)/2, and the row's JS contribution is
    *
    *   0.5·p·ln(p/m) + 0.5·q·ln(q/m),   1e-6-canonized per term
    *
    * (JS = Σ contributions ∈ [0, ln 2]; symmetric, bounded — the reason
    * it beats raw KL for monitoring). Per-term canonization makes the
    * cross-engine `ln` ulp noise vanish BEFORE the sum, so the total is
    * a sum of bit-identical terms on both engines (the IrEval literal-
    * table lesson, applied where a literal table is impossible because
    * the vocabulary is data).
    *
    * Spark shape: one map-combinable token count per corpus, a
    * term-keyed full-outer join, scalar total/vocab frames broadcast as
    * 1-row builds — everything vocabulary-sized after the scans.
    * Output: (term, cnt_a, cnt_b, js_term), the Σ and top-movers cuts
    * are the caller's (see q_corpus_drift_docs). */
  def jsDivergenceByTerm(corpusA: DataFrame, corpusB: DataFrame,
      smoothK: Double = 0.5, textCol: String = "text"): DataFrame =
    jsDivergenceFromCounts(termCounts(corpusA, textCol),
      termCounts(corpusB, textCol), smoothK)

  /** Unigram term counts of a corpus — (term, cnt), empty terms dropped.
    * One map-combinable aggregate; also the frame the streaming
    * term-count store persists ([[graft.streaming.StreamOps
    * .termCountUpdateBatch]]), so a drift read-out can run against live
    * stores without rescanning either corpus. */
  def termCounts(corpus: DataFrame, textCol: String = "text"): DataFrame =
    corpus.filter(col(textCol).isNotNull)
      .select(explode(Dedup.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** [[jsDivergenceByTerm]] over precomputed (term, cnt) frames — the
    * form that reads persisted count stores directly. */
  def jsDivergenceFromCounts(countsA: DataFrame, countsB: DataFrame,
      smoothK: Double = 0.5): DataFrame = {
    require(smoothK > 0, s"smoothK must be positive, got $smoothK")
    val ca = countsA.select(col("term"), col("cnt").cast("long").as("cnt_a"))
    val cb = countsB.select(col("term"), col("cnt").cast("long").as("cnt_b"))
    val joint = ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = joint.agg(sum("cnt_a").as("na"), sum("cnt_b").as("nb"),
      count(lit(1)).as("v"))
    val k = lit(smoothK)
    joint.crossJoin(broadcast(totals))
      .withColumn("p", (col("cnt_a") + k) / (col("na") + k * col("v")))
      .withColumn("q", (col("cnt_b") + k) / (col("nb") + k * col("v")))
      .withColumn("m", (col("p") + col("q")) / lit(2.0))
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        (floor((lit(0.5) * col("p") * log(col("p") / col("m"))
          + lit(0.5) * col("q") * log(col("q") / col("m"))) * lit(1e6) + lit(0.5))
          / lit(1e6)).as("js_term"))
  }
}
