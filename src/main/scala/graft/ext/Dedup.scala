package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora (SURVEY §7.4 /
  * BASELINE.json north-star): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine. All are expression/aggregate pipelines — the shuffles
  * are one hash-exchange per stage and candidate generation is always
  * bucket-local (LSH bands / bit bands / hyperplane buckets), never an
  * all-pairs join, so the plans scale to corpus sizes where O(n²) is
  * impossible.
  */
object Dedup {

  // ---- exact ---------------------------------------------------------------

  /** One-row corpus summary of exact text duplication (hash-groupBy). */
  def exactDupSummary(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val hashed = docs.select(sha2(col(textCol), 256).as("h"))
    hashed
      .groupBy("h").agg(count(lit(1)).as("c"))
      .agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        count(when(col("c") > 1, lit(1))).as("n_dupe_groups"),
        coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0)).as("n_redundant"))
  }

  /** Exact dedup: keep the lowest-id row per identical text.
    *
    * Planned as `min_by(full row, id)` per text hash rather than a
    * `row_number` window: the aggregate partial-combines map-side, so a
    * corpus-viral duplicate (empty docs, error boilerplate — the common
    * exact-dup explosion in web crawls) collapses to one candidate row
    * per input partition before the exchange. The window form would
    * instead hash EVERY copy of the viral text to a single task and sort
    * it there — the textbook skewed shuffle at 100 TB.
    *
    * Null ids: `min_by` SKIPS rows whose ordering value is null, so a
    * bare `min_by(row, id)` would fabricate an all-NULL winner for a
    * group whose every id is null. Ordering by the never-null
    * `struct(id IS NULL, id)` keeps a real row (non-null ids win;
    * all-null groups keep one of their actual rows). */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val all = docs.columns.map(col)
    docs
      .groupBy(sha2(col(textCol), 256).as("__h"))
      .agg(min_by(struct(all: _*), struct(col(idCol).isNull, col(idCol))).as("__w"))
      .select(docs.columns.map(c => col(s"__w.$c").as(c)): _*)
  }

  // ---- span-level (sub-document) dedup -------------------------------------

  /** C4-style repeated-span removal (published technique: Raffel et al.
    * 2020 — C4 discards every repeated occurrence of a span corpus-wide,
    * keeping one). Operates on caller-produced span rows
    * `(idCol, idxCol, textCol)` — e.g.
    * [[Packing.chunkByTokenBudget]](overlap = 0) for fixed token blocks,
    * or a paragraph splitter — and keeps each distinct span text's
    * globally FIRST occurrence: minimum (doc, idx) lexicographic.
    *
    * Scale shape: the winner is `min(struct(doc, idx))` per span text —
    * associative, so Spark plans a map-side partial aggregate and a
    * corpus-viral boilerplate span never concentrates its rows on one
    * task; the keep decision then semi-joins on the (text, doc, idx)
    * triple, whose composite hash is per-row unique — no hot key even
    * when one span text dominates the corpus. (This generic row form
    * makes no uniqueness assumption about (doc, idx) positions; callers
    * producing the bare 3-column chunked shape get the join-free
    * [[dropRepeatedSpans]] path, which does rely on per-doc-unique
    * chunk ids.) */
  def dropRepeatedSpanRows(spans: DataFrame, idCol: String = "doc_id",
      idxCol: String = "span_idx", textCol: String = "span_text"): DataFrame = {
    val winners = spanWinners(spans, idCol, idxCol, textCol)
    spans.join(winners,
      col(textCol) === col("__wtext") && col(idCol) === col("__wid") &&
        col(idxCol) === col("__widx"),
      "left_semi")
  }

  /** Shared winner aggregation — the skew-critical core of both span-dedup
    * forms: per distinct span text, the minimum (doc, idx) occurrence.
    * Map-side partial aggregation collapses a corpus-viral span to one
    * candidate row per input partition before the exchange. Returns
    * `(__wtext, __wid, __widx)`.
    *
    * Plan note: `min` over a struct falls back to a SortAggregate (Spark
    * hash-aggregates only fixed-width buffers), so the plan carries an
    * in-partition sort by span text — a constant-factor CPU cost; the
    * partial combine and the skew collapse above are unaffected. */
  private def spanWinners(spans: DataFrame, idCol: String, idxCol: String,
      textCol: String): DataFrame =
    spans
      .groupBy(col(textCol).as("__wtext"))
      .agg(min(struct(col(idCol), col(idxCol))).as("__w"))
      .select(col("__wtext"), col("__w")(idCol).as("__wid"), col("__w")(idxCol).as("__widx"))

  /** Whole-document convenience form: split each doc into non-overlapping
    * `spanTokens`-token blocks, drop repeated blocks corpus-wide, and
    * reassemble the survivors in order. Docs whose every span was dropped
    * are absent from the result (C4 likewise ends up discarding them).
    *
    * Result schema is `(idCol, n_spans_kept, textCol)` — the id is
    * aliased back to the caller's `idCol`; any other document columns
    * are dropped (re-join on `idCol` to re-attach metadata).
    *
    * Join-free plan: the chunker emits per-doc-unique chunk ids, so each
    * span text's single `min(struct)` winner IS its surviving row — the
    * survivors are projected straight out of the shared [[spanWinners]]
    * aggregation (map-side combined, viral-span-safe) with no join back
    * against the spans frame. Two shuffles end-to-end: the winner agg
    * and the per-doc reassembly. */
  def dropRepeatedSpans(docs: DataFrame, spanTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = Packing.chunkByTokenBudget(docs, maxTokens = spanTokens, overlap = 0,
        idCol = idCol, textCol = textCol)
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"))
    spanWinners(spans, "doc_id", "chunk_id", "chunk_text")
      .select(col("__wid").as("doc_id"), col("__widx").as("chunk_id"),
        col("__wtext").as("chunk_text"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_spans_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
            s => s.getField("chunk_text")),
          " ").as(textCol))
      .withColumnRenamed("doc_id", idCol)
  }

  /** ExactSubstr-style duplicate-text removal (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" §3.1) at
    * sliding-window granularity: every k-token window that occurs more
    * than once in the corpus keeps ONLY its globally-first occurrence
    * (min (doc_id, pos)); every token covered by a losing window is
    * removed and each doc's survivors reassemble in order. Differs from
    * [[dropRepeatedSpans]] in granularity: spans are disjoint fixed
    * blocks (a shifted copy of a repeated passage survives), windows
    * slide — a duplicated passage is caught at every alignment, the
    * reference paper's point. The suffix-array machinery of the paper is
    * replaced by the relational form: a gram-keyed winner rule + a
    * per-doc range-window coverage union, both corpus-parallel.
    *
    * Plan shape: the gram keys come from ONE pass of the native
    * [[graft.expr.TokenGramHashes]] expression over each doc's token
    * array — no gram STRING is ever built, and posexplode yields
    * (pos, key) directly, so the gram side needs no (doc, pos) sort
    * exchange at all. (This is NOT the r9 "array-of-shingles" Catalyst
    * form that cost 3× and tripped the duplication lint — that built
    * per-doc gram-string arrays through a transform lambda; the fused
    * expression walks token bytes once per doc inside whole-stage
    * codegen. Measured r14 against the retired lead-window gram strings:
    * window dedup 1.59 → 1.05 s steady-state AND shuffle bytes
    * 10.2 → 7.1 MB.) The winner rule is one gram-keyed rank, coverage
    * is a per-doc RANGE window over loser starts (no interval
    * explosion), reassembly the shared sort-collect fold. Shuffles: one
    * by gram key (8-byte keys instead of ~8·k bytes of string), one by
    * doc. Hashing only relabels the winner-rule groups — false-merge odds
    * ~2⁻⁶⁴ per pair (FNV-1a with a token-separator byte) — so the
    * SparkEntry query's exact-string oracle stays valid; DedupSpec pins the
    * equivalence against the string-gram reference.
    *
    * Semantics notes (deterministic, oracle-replayed): a position inside
    * a FIRST-occurrence window is still removed if some OTHER losing
    * window covers it (coverage is a union over losers, not winners);
    * docs shorter than k tokens contribute no windows and survive
    * intact; docs whose every token is covered are absent from the
    * output (the [[dropRepeatedSpans]] convention). A null text has no
    * tokens and yields no row; an empty or whitespace-only text is one
    * empty token, so it survives as "". Tokens are compared whole, so a
    * surrogate pair is never split. */
  def dropDuplicateWindows(docs: DataFrame, windowTokens: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(windowTokens >= 2, s"windowTokens must be >= 2, got $windowTokens")
    import org.apache.spark.sql.expressions.Window
    val k = windowTokens
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
    val grams = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        posexplode(graft.expr.TokenGramHashes.tokenGramHashes(col("__toks"), k))
          .as(Seq("pos", "key")))
    val losers = grams
      .withColumn("rn",
        row_number().over(Window.partitionBy("key").orderBy("doc_id", "pos")))
      .filter(col("rn") > 1)
      .select(col("doc_id"), col("pos"), lit(1).as("l"))
    val wr = Window.partitionBy("doc_id").orderBy("pos")
      .rangeBetween(-(k - 1), Window.currentRow)
    // Coverage WITHOUT the (doc_id, pos) join: a token at p is covered iff
    // some loser STARTS in [p-k+1, p]. The old left join keyed the token
    // stream by (doc_id, pos) — one exchange per side — and the coverage
    // window then re-exchanged the joined stream by doc_id alone: three
    // corpus-sized shuffles of the token stream where one suffices. Tag
    // loser starts as extra rows instead and run the SAME range window
    // over the union: the frame is by pos VALUE, so a loser row at pos p
    // lands in exactly the frames the joined l-flag reached, and max(l)
    // is identical row-for-row (at most one loser per (doc, pos) — a
    // position starts exactly one gram — so no fan-out either way). One
    // doc_id exchange now carries tokens + loser starts; the window and
    // the reassembly groupBy share it.
    val tagged = tok.select(col("doc_id"), col("pos"), col("w"),
        lit(0).as("l"), lit(true).as("__tk"))
      .unionByName(losers.select(col("doc_id"), col("pos"),
        lit(null).cast("string").as("w"), col("l"), lit(false).as("__tk")))
    tagged
      .withColumn("covered", max(col("l")).over(wr) > 0)
      .filter(col("__tk") && !col("covered"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w")),
          " ").as(textCol))
      .withColumnRenamed("doc_id", idCol)
  }

  /** CCNet-style boilerplate-line removal (Wenzek et al. 2020 dedup
    * paragraphs by hash across shards; the frequency-threshold variant
    * here is the standard crawl-cleanup rule): drop every line whose
    * normalized form (trim + lower) appears in ≥ `minDocFreq` DISTINCT
    * docs — navigation chrome, cookie banners, footers — and reassemble
    * the survivors in order. Differs from [[dropRepeatedSpans]] in BOTH
    * axes: the unit is the source line (not a token block) and the rule
    * is a doc-frequency threshold (not drop-all-repeats-keep-first), so
    * a line repeated WITHIN one doc survives intact.
    *
    * Empty/whitespace-only lines are dropped unconditionally (they'd
    * otherwise be "boilerplate" in every multi-paragraph doc). Docs whose
    * every line was boilerplate come back with empty text (row kept —
    * the caller decides whether emptied docs die). Scale shape: the
    * doc-frequency count is a two-level aggregate (line-key count of
    * distinct docs — partial-combined; a corpus-viral banner collapses
    * map-side), the drop is a LEFT ANTI join on the line key, and the
    * reassembly is the same sort_array(collect_list(struct)) fold as
    * [[dropRepeatedSpans]], keyed per doc. */
  def dropBoilerplateLines(docs: DataFrame, minDocFreq: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__li", "__line")))
      // regexp trim, not trim(): trim strips only 0x20, so a CRLF or
      // tab-only "blank" line would carry a non-empty key and survive
      .withColumn("__key", regexp_replace(lower(col("__line")), "^\\s+|\\s+$", ""))
      .filter(col("__key") =!= "")
    val boiler = lines.groupBy("__key")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocFreq)
      .select("__key")
    val kept = lines.join(boiler, Seq("__key"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("__li"), col("__line")))),
            s => s.getField("__line")),
          "\n").as("__text"))
    docs.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("__text"), lit("")).as(textCol))
  }

  // ---- shingles / tokens ---------------------------------------------------

  /** Lower-cased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** k-word shingles of a token array (higher-order functions — codegen,
    * no UDF). Built by zipping k top-level-bound shifted copies of the
    * token array, NOT by a transform lambda that slices the derived
    * array per element — that form re-evaluates the tokenizing split
    * once per output shingle (the documented quadratic lambda trap;
    * measured 1.7 s for 130k shingles before the rewrite). concat_ws
    * skips the nulls zip_with pads the short side with; those partial
    * tail entries are cut by the final slice. */
  def shingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val joined = (1 until k).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), size(toks)), (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= k, slice(joined, lit(1), size(toks) - lit(k - 1)))
      .otherwise(array(array_join(toks, " ")))
  }

  // ---- MinHash + LSH -------------------------------------------------------

  /** One row per (doc, shingle-hash): posexplode the token stream, hash
    * each token once, and combine k consecutive token-hashes with a window
    * `lead` — linear work, and the (doc_id) window shuffle is the SAME
    * partitioning the signature aggregation needs, so the whole minhash
    * pipeline costs one exchange. Short docs (< k tokens) contribute one
    * whole-doc shingle. Duplicate shingles are kept: `min` is multiset-
    * insensitive, and the verify stage uses collect_set.
    *
    * The token hash and the k-ary combiner are INJECTED (the
    * processNearDedupBatch signature-fn recipe): the defaults are the
    * xxhash64 hot path; [[minhashNearDuplicatesBulkReplayable]] routes
    * Karp–Rabin + polynomial arithmetic through this SAME pipeline so an
    * SQL oracle can replay the posexplode → lead-combine → short-doc
    * digest → valid-start filter chain bit-for-bit. */
  private def shingleHashRows(docs: DataFrame, idCol: String, textCol: String, k: Int,
      tokHash: Column => Column = xxhash64(_),
      combine: Seq[Column] => Column = cs => xxhash64(cs: _*)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val wdoc = Window.partitionBy("doc_id")
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("h0", tokHash(col("tok")))
      .withColumn("ntok", count(lit(1)).over(wdoc))
      // whole-doc digest for short docs: min/max/count of token hashes —
      // deterministic and overflow-free under ANSI (a long sum would throw)
      .withColumn("hmin", min(col("h0")).over(wdoc))
      .withColumn("hmax", max(col("h0")).over(wdoc))
    toks
      .withColumn("sh",
        when(col("ntok") >= k, combine((0 until k).map(j => lead(col("h0"), j).over(w))))
          .otherwise(combine(Seq(col("hmin"), col("hmax"), col("ntok")))))
      .filter((col("ntok") >= k && col("pos") <= col("ntok") - k) ||
        (col("ntok") < k && col("pos") === 0))
      .select("doc_id", "sh")
  }

  /** Candidate near-duplicate pairs via banded LSH + exact signature-based
    * Jaccard estimate + exact shingle Jaccard verification.
    * bands × rowsPerBand must equal numHashes. */
  def minhashNearDuplicates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame =
    lshCore(shingleHashRows(docs, idCol, textCol, shingleK),
      numHashes, bands, threshold,
      perm = (sh, i) => xxhash64(sh, lit(i)),
      bandBucket = mins => xxhash64(mins: _*))

  /** SQL-replayable twin of [[minhashNearDuplicates]]: identical pipeline
    * ([[lshCore]] — same banding, same bucket equijoin, same exact-Jaccard
    * verify), with every hash swapped for plain modular arithmetic an ANSI
    * SQL engine can replay bit-for-bit: Karp–Rabin shingle hashes (base
    * 257 mod 1e9+7, the [[TextStats.rollingHash]] fold), affine
    * permutations (sh·(2i+3) + (7i+1) mod p), and a polynomial band
    * combiner. The xxhash64 path stays the hot path (no per-char array
    * walk); this one exists so the driver can hash-verify the WHOLE LSH
    * pipeline on a bounded probe each round (q_minhash_replay_docs) —
    * the two can never structurally drift because they share lshCore. */
  def minhashNearDuplicatesReplayable(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val p = 1000000007L
    val shRows = docs
      .select(col(idCol).as("doc_id"),
        explode(shingleSet(col(textCol), shingleK)).as("shs"))
      .select(col("doc_id"), TextStats.rollingHash(col("shs")).as("sh"))
    lshCore(shRows, numHashes, bands, threshold,
      // sh < p and small multipliers keep every product < 2^63 (ANSI-safe)
      perm = (sh, i) => (sh * lit(2L * i + 3L) + lit(7L * i + 1L)) % lit(p),
      bandBucket = mins =>
        mins.reduce((acc, m) => (acc * lit(1315423911L) + m) % lit(p)))
  }

  /** [[minhashNearDuplicates]] with replayable arithmetic routed through
    * the PRODUCTION bulk pipeline — unlike
    * [[minhashNearDuplicatesReplayable]] (which replays the string-
    * shingle-set variant), this one exercises [[shingleHashRows]] itself:
    * the posexplode token stream, the lead-window k-token combine, the
    * short-doc min/max/count digest and the valid-start filter, then the
    * same [[lshCore]]. Karp–Rabin token hashes, a polynomial fold (base
    * 1315423911 mod 1e9+7 — every product < 2^63 because operands stay
    * < 1e9+7, ANSI-safe) for BOTH the k-token combine and the band
    * bucket, and the affine permutations of the set twin. The xxhash64
    * defaults stay the hot path; this entry exists so the driver can
    * hash-verify the production shingle pipeline end-to-end each round
    * (q_dedup_minhash_docs — the round-11 signature-injection promotion
    * recipe). */
  def minhashNearDuplicatesBulkReplayable(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 3,
      numHashes: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val p = 1000000007L
    val fold = (cs: Seq[Column]) =>
      cs.reduce((acc, c) => (acc * lit(1315423911L) + c) % lit(p))
    lshCore(
      shingleHashRows(docs, idCol, textCol, shingleK,
        tokHash = TextStats.rollingHash(_), combine = fold),
      numHashes, bands, threshold,
      perm = (sh, i) => (sh * lit(2L * i + 3L) + lit(7L * i + 1L)) % lit(p),
      bandBucket = fold)
  }

  /** The shared LSH pipeline: per-(doc, shingle-hash) rows → `numHashes`
    * min-permutation aggregates + the exact shingle set in ONE grouped
    * pass → banded buckets → bucket-local candidate equijoin → exact
    * Jaccard verify at `threshold`. Hash choices are injected so the
    * production (xxhash64) and replayable (modular-arithmetic) paths run
    * the same code. */
  private def lshCore(shRows: DataFrame, numHashes: Int, bands: Int,
      threshold: Double,
      perm: (Column, Int) => Column,
      bandBucket: Seq[Column] => Column): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // ONE grouped pass computes the minhash signature AND the exact shingle
    // set per doc, MATERIALIZED once: this frame has four consumers (the
    // band branch twice, via the candidate self-join, and the two verify
    // joins), and column pruning specializes each consumer's aggregate to
    // the columns it reads — the subtrees stop being identical, so
    // ReuseExchange never fires (round-4 plan audit: 4 parquet scans, 8
    // window evals, 0 ReusedExchange) and the corpus-wide signature pass
    // ran FOUR times. The eager localCheckpoint pins one execution of the
    // scan + token shuffle + 33-buffer aggregate and hands every consumer
    // a leaf — the same mechanism connectedComponents uses. State is one
    // compact row per doc (32 longs + the shingle-hash set); on a real
    // cluster prefer a reliable checkpoint dir for executor-loss
    // resilience, exactly as documented there.
    val aggs = (0 until numHashes).map(i => min(perm(col("sh"), i)).as(s"mh_$i")) :+
      collect_set("sh").as("shset")
    val sigsAndSets = graft.core.Ckpt.pin(shRows
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*))
    val bandCols = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        bandBucket((bnd * rows until (bnd + 1) * rows).map(i => col(s"mh_$i"))).as("bucket"))
    }
    val banded = sigsAndSets
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bucket").as("bucket"))
    val pairs = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    // exact shingle Jaccard on candidates only (over shingle hashes —
    // 64-bit collisions are negligible and integer set ops are far cheaper
    // than string sets)
    val shSets = sigsAndSets.select(col("doc_id"), col("shset").as("sh"))
    pairs
      .join(shSets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(shSets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  // ---- duplicate clusters --------------------------------------------------

  /** Connected components over an undirected candidate-pair edge list —
    * the step that turns near-dup PAIRS into duplicate CLUSTERS so a
    * pipeline can keep one representative per cluster. Hash-min label
    * propagation: every vertex's label converges to the minimum vertex id
    * reachable from it. Each iteration is one vertex-keyed join + min
    * aggregation (the standard BSP step — shuffles on vertex id, state is
    * one label per vertex, never data-sized), and the loop exits on the
    * first iteration with no label change. Iterations needed = graph
    * diameter; duplicate clusters are star/clique-shaped (diameter ≤ ~4),
    * and `maxIter` fail-louds on pathological chains rather than looping
    * forever — for genuinely deep graphs use the large-star/small-star
    * variant, which this dedup path does not need.
    *
    * Graphs of at most `collectThreshold` edges run union-find on the
    * driver instead: a dedup candidate graph is MODEL-sized (edges ∝
    * near-dup pairs found, not corpus rows — a corpus that produces a
    * billion-edge dup graph has a bigger problem than clustering), and
    * the BSP loop's per-round fixed cost (2 jobs × ~log2(diameter)
    * rounds) dwarfs a one-pass path-compressed union-find on anything
    * that fits in driver memory. Both paths produce the identical
    * min-id labeling; set `collectThreshold = 0` to force BSP.
    *
    * Returns (id, component) for every vertex present in `pairs`. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 20,
      collectThreshold: Long = 1000000L): DataFrame = {
    // Iterative plans MUST truncate lineage every round: `labels` appears
    // more than once per iteration's plan, so without truncation the
    // logical tree doubles each round (exponential — the plan PRINTER
    // alone OOMs near iteration ~15, long before any data pressure).
    // Eager Ckpt.pin pins each round's vertex-sized result and resets the
    // plan to a leaf; the expensive pair GENERATOR upstream is likewise
    // evaluated exactly once (first pin below). With a reliable checkpoint
    // dir set on the session, pin routes to df.checkpoint() and the state
    // (one label per vertex) survives executor loss — see core/Ckpt.
    val fwd = graft.core.Ckpt.pin(
      pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b")))
    val nEdges = fwd.count()
    if (nEdges <= collectThreshold) return unionFindLocal(fwd)
    // right-size the iteration frames: label/edge tables are graph-sized,
    // not corpus-sized, and a small graph spread over the session's default
    // shuffle partitioning pays ~all its time in empty-task scheduling
    // (measured 2x on the bounded dedup probe). 1M rows/partition keeps
    // big graphs parallel; the per-round shuffles then AQE-coalesce to match.
    val p = math.max(1, math.min(fwd.rdd.getNumPartitions,
      (nEdges / 1000000L).toInt + 1))
    val e = graft.core.Ckpt.pin(fwd.union(fwd.select(col("b").as("a"), col("a").as("b")))
      .distinct().repartition(p))
    var labels = graft.core.Ckpt.pin(e.select(col("a").as("v")).distinct()
      .withColumn("comp", col("v")))
    var it = 0
    var changed = 1L
    while (changed > 0) {
      require(it < maxIter,
        s"connectedComponents did not converge in $maxIter iterations " +
          "(graph diameter too large for hash-min + pointer-jumping)")
      val nbrMin = e
        .join(labels.select(col("v").as("b"), col("comp").as("nc")), "b")
        .groupBy("a").agg(min("nc").as("nbr"))
        .withColumnRenamed("a", "v")
      val hop = labels
        .join(nbrMin, Seq("v"), "left")
        .select(col("v"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
          col("comp").as("old"))
      // pointer jumping: also adopt the label OF my label (comp(comp(v))).
      // Propagation distance doubles per round, so rounds ~ log2(diameter)
      // instead of diameter — on long chains this is the difference between
      // 5 and 30 rounds, and each round is a fixed number of jobs.
      val next = graft.core.Ckpt.pin(hop.as("x")
        .join(hop.select(col("v").as("comp"), col("comp").as("cc")).as("j"),
          Seq("comp"), "left")
        .select(col("v"), least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp"),
          col("old")))
      // carry the previous label through the checkpoint so the change
      // count is a cheap scan of the checkpointed result, not another join
      changed = next.filter(col("comp") =!= col("old")).count()
      labels = next.drop("old")
      it += 1
    }
    labels.select(col("v").as("id"), col("comp").as("component"))
  }

  /** Driver-side union-find with path compression + union-by-min: the
    * small-graph fast path of [[connectedComponents]]. Representative =
    * minimum id in the set, matching the BSP labeling exactly. */
  private def unionFindLocal(fwd: DataFrame): DataFrame = {
    val spark = fwd.sparkSession
    import spark.implicits._
    val edges = fwd.select(col("a"), col("b")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // union by min so the representative IS the component minimum
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted
      .map(v => (v, find(v)))
      .toDF("id", "component")
  }

  /** Near-dup dedup end-to-end: banded-LSH candidate pairs → exact-Jaccard
    * verify (≥ `threshold`) → connected components → keep only each
    * cluster's minimum-id document. Docs in no cluster pass through. */
  def dropNearDuplicates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDuplicates(docs, idCol, textCol, threshold = threshold)
      .select("doc_a", "doc_b")
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dropNearDuplicates]] keeping the BEST document per duplicate
    * cluster instead of the minimum id: the representative is the member
    * maximizing `scoreCol` (ties broken by higher id — deterministic).
    * This is the form real corpus pipelines want — dedup shouldn't throw
    * away the cleanest copy because a noisier one has a smaller id. Same
    * pipeline as dropNearDuplicates (same pairs, same components); the
    * only addition is a component-keyed `max_by` over the cluster members
    * — component count ≤ dup-pair count, so the extra aggregate is
    * model-sized relative to the corpus. */
  def dropNearDuplicatesKeeping(docs: DataFrame, scoreCol: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5): DataFrame = {
    val pairs = minhashNearDuplicates(docs, idCol, textCol, threshold = threshold)
      .select("doc_a", "doc_b")
    docs.join(losersKeeping(pairs, docs, scoreCol, idCol), Seq(idCol), "left_anti")
  }

  /** The keeping policy's drop set, factored out so a driver query can
    * oracle it on a replayable pair graph: cluster the verified duplicate
    * pairs by connected components, keep per cluster the member maximizing
    * (`scoreCol`, id) — lexicographic struct max, so score ties break to
    * the HIGHER id deterministically — and return every other member's id.
    * Component count ≤ pair count, so the aggregate is model-sized
    * relative to the corpus. */
  def losersKeeping(pairs: DataFrame, docs: DataFrame, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val members = connectedComponents(pairs)
      .join(docs.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__score")), "id")
    val winners = members.groupBy("component")
      .agg(max_by(col("id"), struct(col("__score"), col("id"))).as("__winner"))
    members.join(winners, "component")
      .filter(col("id") =!= col("__winner"))
      .select(col("id").as(idCol))
  }

  /** Soft deduplication — duplicate-aware repetition weights instead of
    * hard drops (the SlimPajama/SoftDeDup observation: duplication is a
    * SIGNAL to down-weight, not always a row to delete; a sampler fed
    * these weights sees each duplicate cluster with bounded total mass
    * rather than mass ∝ copies). Cluster the near-dup `pairs` by
    * connected components; every doc gets
    *
    *   weight = (1 / cluster_size)^alpha,  1e-6-canonicalized
    *
    * (alpha = 1: each cluster totals one doc's mass; alpha = 0: plain
    * counts; between: sub-linear duplicate discounting). Docs absent
    * from the pair graph are singletons at weight 1. Output
    * (idCol, cluster, cluster_size, weight) — feed the weight column to
    * [[Sampling.weightedSample]]/[[Sampling.weightedKeep]].
    *
    * Spark shape: components are graph-sized ([[connectedComponents]]);
    * the size aggregate and the join back are cluster-keyed and
    * map-combinable — a megacluster (the classic boilerplate blob)
    * skews only the probe side, the AQE skew-join case. Nothing here
    * is corpus×corpus. */
  def repetitionWeights(docs: DataFrame, pairs: DataFrame, alpha: Double = 1.0,
      idCol: String = "doc_id"): DataFrame = {
    require(alpha >= 0, s"alpha must be >= 0, got $alpha")
    val comp = connectedComponents(pairs)
    val labeled = docs.select(col(idCol).cast("long").as("id"))
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val sizes = labeled.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster")
      .select(col("id").as(idCol), col("cluster"), col("cluster_size"),
        (floor(pow(lit(1.0) / col("cluster_size"), lit(alpha)) * lit(1e6) + lit(0.5))
          / lit(1e6)).as("weight"))
  }

  /** Distinct string-shingle set of a text column — the raw-string twin of
    * the hashed verify-stage sets (Jaccard over either is identical because
    * shingle→hash is injective modulo negligible 64-bit collisions). */
  def shingleSet(text: Column, k: Int): Column = array_distinct(shingles(text, k))

  /** Exact Jaccard of two pre-distinct shingle-set columns — the verify
    * stage's |A∩B|/|A∪B| arithmetic. */
  def jaccardOf(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Exact n-gram Jaccard similarity for given pairs (utility). */
  def ngramJaccard(a: Column, b: Column, k: Int): Column =
    jaccardOf(shingleSet(a, k), shingleSet(b, k))

  // ---- SimHash -------------------------------------------------------------

  /** Typed Aggregator: 64-bit SimHash of a doc's token-hash stream —
    * per-bit ±1 vote, sign → bit. Partial-merge friendly (the vote vector
    * adds), so it plans as a normal two-phase aggregate. */
  class SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    def zero: Array[Int] = new Array[Int](64)
    def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) buf(i) += 1 else buf(i) -= 1; i += 1 }
      buf
    }
    def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }
    def finish(buf: Array[Int]): Long = {
      var s = 0L
      var i = 0
      while (i < 64) { if (buf(i) > 0) s |= (1L << i); i += 1 }
      s
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
      org.apache.spark.sql.Encoders.kryo[Array[Int]]
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** The production SimHash pipeline with the per-token 64-bit draw
    * INJECTED (the iforestDepthsCore seam, r13 → applied here r14):
    * tokenize → `addHash` appends the token's 64 vote bits as column
    * `h` → the shared [[SimHashAgg]] vote/sign aggregate. Everything a
    * SimHash bug could live in — tokenization, the ±1 vote arithmetic,
    * partial-aggregate merge, the sign convention — is common to every
    * caller; only the raw hash draw varies. Production feeds xxhash64;
    * the replayable twin feeds keyed modular mixes an ANSI SQL engine
    * regenerates exactly, which is what lets the driver hard-oracle the
    * production path (q_simhash_docs). `addHash` is a DataFrame stage,
    * not a Column, so a multi-referenced expensive fold (the replay
    * twin's rolling hash) can land in its own projection instead of
    * being inlined 64×. */
  private[graft] def simhashCore(docs: DataFrame, idCol: String,
      textCol: String, addHash: DataFrame => DataFrame): DataFrame = {
    val agg = udaf(new SimHashAgg)
    addHash(
      docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok")))
      .groupBy("doc_id")
      .agg(agg(col("h")).as("simhash"))
  }

  /** Per-doc 64-bit SimHash over word tokens. */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    simhashCore(docs, idCol, textCol, _.withColumn("h", xxhash64(col("tok"))))

  /** SQL-replayable SimHash twin: the identical vote/sign pipeline through
    * the SAME [[SimHashAgg]], with each token's 64 vote bits derived from
    * modular arithmetic instead of xxhash64's bits — bit j is the
    * top-half test of a per-j multiplicative mix of the token's
    * Karp–Rabin hash ((k·A_j mod p) > p/2; a parity-of-affine bit is too
    * linear in k and the bits correlate), assembled into one long so the
    * aggregator is shared verbatim. An ANSI SQL engine replays
    * fingerprint bits and pairwise Hamming distances exactly
    * (q_simhash_replay_docs), pinning the vote arithmetic and sign
    * convention the production path shares. */
  def simhashReplayable(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // the draw is the native fused expression (graft.expr.
    // SimHashReplayWord): bit-identical to the 64-subexpression Catalyst
    // form it replaced (KR code-point fold, per-bit top-half tests of
    // (kr·A_j) mod p) but one codegen'd loop — the Catalyst tree cost
    // ~15 µs/token once q_simhash_docs ran it corpus-wide (r14)
    simhashCore(docs, idCol, textCol,
      _.withColumn("h",
        graft.expr.SimHashReplayWord.simhashReplayWord(col("tok"))))

  /** The 4×16-bit band explosion of a (doc_id, simhash) frame — THE
    * candidate-recall contract: by pigeonhole, two hashes within Hamming
    * distance 3 must agree on at least one whole band. Shared by the
    * batch near-dup operator and the streaming signature-store join so
    * the scheme can never desynchronize. */
  private[graft] def simhashBands(sh: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(bq =>
      struct(lit(bq).as("band"),
        shiftrightunsigned(col("simhash"), bq * 16).bitwiseAND(lit(0xFFFFL)).as("bucket")))
    sh.select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band").as("band"), col("b.bucket").as("bucket"))
  }

  /** Pigeonhole bound of [[simhashBands]]: 4 bands guarantee a shared
    * band only for Hamming ≤ 3 — validate loudly rather than silently
    * missing near-dups above the radius. */
  private[graft] def requireSimhashRadius(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3]: the 4x16-bit band scheme only " +
        s"guarantees candidate recall to Hamming 3 (got $maxHamming)")

  /** Near-dup pairs (Hamming ≤ maxHamming) from a PRE-COMPUTED
    * (doc_id, simhash) frame — band-bucket candidates, exact bit_count
    * verify. */
  private[graft] def simhashPairsFromSignatures(sh: DataFrame, maxHamming: Int): DataFrame = {
    requireSimhashRadius(maxHamming)
    val banded = simhashBands(sh)
    banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.simhash").bitwiseXOR(col("r.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, candidates
    * via 16-bit band pigeonholing (any pair within distance ≤ 3 shares at
    * least one of 4 bands; maxHamming > 3 is rejected — see
    * [[requireSimhashRadius]]). */
  def simhashNearDuplicates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSignatures(simhash(docs, idCol, textCol), maxHamming)
      .orderBy("doc_a", "doc_b")

  // ---- embedding cosine near-dup -------------------------------------------

  /** Cosine similarity of two double-array columns — the native codegen'd
    * Catalyst expression (graft.expr.CosineSimilarity). The HOF
    * composition below is kept for the equivalence test; HOFs are
    * CodegenFallback, so the native expression wins on large scans. */
  def cosine(a: Column, b: Column): Column =
    graft.expr.CosineSimilarity.cosineSim(a, b)

  /** Built-in-only variant (aggregate/zip_with) — reference semantics for
    * tests and a fallback if anyone needs pure built-ins. */
  def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0d), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** Deterministic random hyperplanes for sign-LSH: `bits` Gaussian
    * planes of `dim` coordinates drawn from `seed` — the seeded model that
    * [[Similarity.lshTopK]] takes as its `planes`. */
  def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-LSH bucket id of an embedding column (native codegen'd dot
    * products — a row evaluates `bits` of them). */
  private[ext] def lshBucket(emb: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(graft.expr.DotProduct.dotProduct(emb, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Embedding near-duplicate pairs: sign-LSH bucketing (bits hyperplanes)
    * then exact cosine ≥ threshold inside buckets. */
  def embeddingNearDuplicates(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      dim: Int = 64,
      bits: Int = 12,
      threshold: Double = 0.9,
      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(dim, bits, seed)
    val bucketed = embeddings.select(
      col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("emb"),
      lshBucket(col(embCol).cast("array<double>"), planes).as("bucket"))
    bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        cosine(col("l.emb"), col("r.emb")).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("vec_a", "vec_b")
  }
}
