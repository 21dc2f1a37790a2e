package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder

/** Bounded-state k-minimum-values buffer: the k smallest DISTINCT hash
  * values seen so far, sorted ascending. Top-level so Catalyst's generated
  * serializers can reach it (same constraint as [[ScoredVec]]).
  */
class KMinAgg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
  require(k > 0, "k must be positive")

  def zero: Array[Long] = Array.empty

  def reduce(buf: Array[Long], x: Long): Array[Long] = {
    val pos = java.util.Arrays.binarySearch(buf, x)
    if (pos >= 0) return buf // already present — KMV is a distinct sketch
    val ins = -pos - 1
    if (ins >= k) return buf // larger than the current k-th minimum
    val n = math.min(buf.length + 1, k)
    val out = new Array[Long](n)
    System.arraycopy(buf, 0, out, 0, ins)
    out(ins) = x
    System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
    out
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var o = 0
    while (o < out.length && (i < a.length || j < b.length)) {
      val take =
        if (j >= b.length) { val v = a(i); i += 1; v }
        else if (i >= a.length) { val v = b(j); j += 1; v }
        else if (a(i) < b(j)) { val v = a(i); i += 1; v }
        else if (a(i) > b(j)) { val v = b(j); j += 1; v }
        else { val v = a(i); i += 1; j += 1; v } // equal: keep one (distinct)
      out(o) = take
      o += 1
    }
    if (o == out.length) out else java.util.Arrays.copyOf(out, o)
  }

  def finish(buf: Array[Long]): Array[Long] = buf

  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

/** Cardinality sketches for corpus statistics at scale — "how many distinct
  * URLs / tokens / ids" questions that an exact `count(DISTINCT x)` answers
  * with a full shuffle of every distinct value. Both sketches here shuffle
  * bounded state instead:
  *
  *   - KMV (k minimum values): each partition keeps its k smallest distinct
  *     hash values ([[KMinAgg]] — a k-capped partial aggregate, the same
  *     shape as [[TopKAgg]]), so the merge sees ≤ k·P longs instead of the
  *     full distinct set. Estimator: (k−1)/U_k with U_k = h_k/2^32 (the
  *     Beyer et al. unbiased KMV form).
  *   - HLL-style max-rank registers: 2^b registers, each the max "leading
  *     zero rank" of the hashes routed to it — a plain groupBy(bucket) max,
  *     fully map-side-combining; the shuffle carries ≤ 2^b rows per
  *     partition regardless of N. Estimator: the Flajolet et al. HyperLogLog
  *     harmonic mean with the small-range linear-counting correction.
  *
  * Both run on [[mixHash]] — [[Sampling.bucketHash]] (the Knuth
  * multiplicative step) followed by the murmur3 fmix32 finalizer — rather
  * than xxhash64, for the same reason the samplers use plain arithmetic:
  * every op is BIGINT mul/mod/xor/shift, so each register and order
  * statistic can be replayed in ANSI SQL and the driver hash-verifies the
  * sketches EXACTLY (see q_kmv_distinct_lineitem / q_hll_distinct_lineitem)
  * — an approximate estimator is still a deterministic function of its
  * input. The finalizer is REQUIRED, not decoration: the Knuth step alone
  * is a Weyl permutation on sequential ids — equidistributed (fine for
  * sampling membership) but with structured low bits, which biased the HLL
  * zero-run statistic +49% on 20k sequential ids when measured. String
  * keys: map through a surrogate long (xxhash64) first, at the cost of the
  * SQL-replay property (the samplers document the same trade).
  *
  * Rank arithmetic avoids floating log2: rank uses `length(bin(w))` (bit
  * length of w, exact in both Spark and DuckDB) instead of floor(log2(w)),
  * which can mis-floor near powers of two.
  */
object Sketches {

  private val TwoTo32 = 4294967296.0 // mixHash range

  /** (x · c) mod 2^32 for 0 ≤ x < 2^32 WITHOUT 64-bit overflow (ANSI mode
    * would throw): split x into 16-bit halves — every intermediate stays
    * under 2^49. Same expression shape the oracle SQL uses. */
  private def mulMod32(x: Column, c: Long): Column =
    pmod(pmod(shiftright(x, 16) * c, lit(65536L)) * 65536L +
      pmod(x, lit(65536L)) * c, lit(4294967296L))

  /** Driver-local 64-bit mirror of [[mixHash]] (asserted equal to the
    * column arithmetic in SketchesSpec) — for operators that pin
    * hash-derived model structure (JL sign matrices, replay-twin
    * permutations) at plan-build time. */
  private[graft] def mixHashLocal(id: Long): Long = {
    var h = ((id % 2147483648L) * 2654435761L) % 4294967296L
    h ^= h >> 16; h = (h * 2246822507L) & 0xffffffffL
    h ^= h >> 13; h = (h * 3266489909L) & 0xffffffffL
    h ^ (h >> 16)
  }

  /** 32-bit mixed hash of a numeric id: Knuth multiplicative step then the
    * murmur3 fmix32 finalizer (xor-shift 16 / ·0x85ebca6b / xor-shift 13 /
    * ·0xc2b2ae35 / xor-shift 16), all in replayable BIGINT arithmetic. */
  def mixHash(value: Column): Column = {
    val h0 = Sampling.bucketHash(value)
    val x1 = h0.bitwiseXOR(shiftright(h0, 16))
    val h1 = mulMod32(x1, 2246822507L) // 0x85ebca6b
    val x2 = h1.bitwiseXOR(shiftright(h1, 13))
    val h2 = mulMod32(x2, 3266489909L) // 0xc2b2ae35
    h2.bitwiseXOR(shiftright(h2, 16))
  }

  /** KMV distinct-count sketch over a numeric column. Returns ONE row:
    * (k, n_kept, kth_min_hash, est_distinct). When fewer than k distinct
    * hashes exist the sketch is exact: est = n_kept. The udaf's partial
    * aggregation is the per-partition k-min pass, so ≤ k·P rows cross the
    * final merge — never the distinct hash set.
    *
    * Null-filter the INPUT column, never the computed hash (hashes of
    * non-null longs are never null anyway): a null filter on the derived
    * column pushes isnotnull(<the whole mixHash tree>) into the scan
    * filter, where the nested split-multiply duplicates its base subtree
    * ~3^rounds times and the oversized interpreted condition evaluates the
    * duplicates per row — measured ~7 µs/row (4.2 s on 600k rows) vs
    * 0.33 s for this shape (round-7 KMV measurement, ARCHITECTURE.md).
    */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    val kmin = udaf(new KMinAgg(k))
    df.filter(col(valueCol).isNotNull)
      .select(mixHash(col(valueCol)).as("h"))
      .agg(kmin(col("h")).as("mins"))
      .select(
        lit(k).as("k"),
        size(col("mins")).cast("long").as("n_kept"),
        // try_element_at: null (not an ANSI error) when fewer than k
        // distinct hashes exist — the est falls back to the exact count.
        try_element_at(col("mins"), lit(k)).as("kth_min_hash"),
        when(size(col("mins")) < k, size(col("mins")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(TwoTo32) /
            try_element_at(col("mins"), lit(k)).cast("double"))
          .as("est_distinct"))
  }

  private def wBits(b: Int): Int = 32 - b

  /** Per-row (bucket, rank) for the HLL registers: bucket = top b bits of
    * the 32-bit hash, rank = 1 + leading zeros of the remaining (32−b)-bit
    * suffix = (32−b) − bitlen(w) + 1, or (32−b)+1 when the suffix is all
    * zeros. bitlen via `bin()` string length — exact integer arithmetic in
    * both engines.
    */
  def hllBucketRank(value: Column, b: Int): (Column, Column) = {
    require(b >= 4 && b <= 16, s"b must be in [4,16], got $b")
    val h = mixHash(value)
    val wb = wBits(b)
    val bucket = shiftright(h, wb).cast("long")
    val w = pmod(h, lit(1L << wb))
    val rank = when(w === 0, lit(wb + 1))
      .otherwise(lit(wb) + lit(1) - length(bin(w)))
      .cast("int")
    (bucket, rank)
  }

  /** The materialized register table (bucket → max rank). Buckets no hash
    * reached are absent (they read as rank 0 in the estimator). This is the
    * mergeable/persistable form: register tables from disjoint corpus
    * shards combine by groupBy(bucket).max(rank).
    */
  def hllRegisters(df: DataFrame, valueCol: String, b: Int): DataFrame = {
    val (bucket, rank) = hllBucketRank(col(valueCol), b)
    df.filter(col(valueCol).isNotNull)
      .select(bucket.as("bucket"), rank.as("rank"))
      .groupBy("bucket").agg(max("rank").as("rank"))
  }

  /** Merge two register tables into the registers of the corpus union —
    * per-bucket max. Exact by the HLL merge law: a register is the max
    * of per-item ranks, and max is associative, commutative and
    * idempotent, so ANY shard/batch decomposition (including overlapping
    * ones) merges to the bit-identical table a one-shot
    * [[hllRegisters]] over the union would build. */
  def hllMergeRegisters(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("bucket"), col("rank"))
      .unionByName(b.select(col("bucket"), col("rank")))
      .groupBy("bucket").agg(max("rank").as("rank"))

  /** HLL estimate from a register table: ONE row
    * (m, n_registers, est_distinct). alpha_m = 0.7213/(1 + 1.079/m) (the
    * published constant for m ≥ 128); registers are exact powers of two so
    * the harmonic sum is order-independent in double precision. Small-range
    * correction: E ≤ 2.5m with empty registers → linear counting
    * m·ln(m/V).
    */
  def hllEstimate(registers: DataFrame, b: Int): DataFrame = {
    val m = 1 << b
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    registers
      .agg(
        // coalesce: sum over an EMPTY register table is null, which would
        // null `raw` and skip the linear-counting branch — with 0.0 the
        // V=m correction below correctly estimates 0 distinct values.
        coalesce(sum(pow(lit(2.0), -col("rank"))), lit(0.0)).as("present_inv"),
        count(lit(1)).as("n_registers"))
      .select(
        lit(m).cast("long").as("m"),
        col("n_registers"),
        (lit(alpha * m.toDouble * m.toDouble) /
          (col("present_inv") + (lit(m) - col("n_registers")).cast("double")))
          .as("raw"),
        (lit(m) - col("n_registers")).cast("double").as("v"))
      .select(col("m"), col("n_registers"),
        when(col("raw") <= lit(2.5 * m) && col("v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v")))
          .otherwise(col("raw"))
          .as("est_distinct"))
  }

  /** Convenience: registers + estimate in one call. */
  def hllDistinct(df: DataFrame, valueCol: String, b: Int): DataFrame =
    hllEstimate(hllRegisters(df, valueCol, b), b)

  // ---- count–min sketch ----------------------------------------------------

  /** Modulus shared with [[TextStats.rollingHash]]: the token hash is
    * already < 10^9+7, so the per-row affine step below never overflows a
    * long (multiplier < 2^33 ⇒ product < 2^63). */
  private val CmsPrime = 1000000007L

  /** Row-r bucket for a Karp–Rabin token hash: an affine universal-hash
    * step `(th·a_r + b_r) mod P mod width` with per-row constants derived
    * from r — plain BIGINT arithmetic, replayable in ANSI SQL like the
    * cardinality sketches above. `r` is a COLUMN so one expression serves
    * every row of the sketch after the depth-explode (keeping the hash
    * subtree single-instance — the KMV derived-filter lesson). */
  private def cmsBucketCol(th: Column, r: Column, width: Int): Column =
    pmod(pmod(th * (lit(2654435761L) + lit(40503L) * r) +
      (lit(97911L) * r + lit(7L)), lit(CmsPrime)), lit(width.toLong))

  /** Count–min sketch (Cormode & Muthukrishnan 2005) over a token column:
    * `depth` rows × `width` buckets of additive counters. Returns the
    * mergeable counter table (r, bucket, cnt) — ≤ depth·width rows, a
    * MODEL-sized artifact regardless of corpus size.
    *
    * Scale shape: the token stream is hashed once per row (the rolling
    * hash is computed BEFORE the depth-explode, so Generate replicates the
    * attribute, not the expression), then `groupBy(r, bucket)` partially
    * aggregates map-side — the shuffle carries ≤ depth·width rows per
    * partition, never the vocabulary and never the stream. Counters from
    * disjoint corpus shards combine by summing ([[cmsMergeCounters]]);
    * point estimates overestimate by ≤ e·N/width with probability
    * ≥ 1 − e^−depth. */
  def cmsCounters(df: DataFrame, tokenCol: String, width: Int, depth: Int): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    df.filter(col(tokenCol).isNotNull && col(tokenCol) =!= "")
      .select(TextStats.rollingHash(col(tokenCol)).as("th"))
      .select(col("th"), explode(lit((0 until depth).toArray)).as("r"))
      .select(col("r"), cmsBucketCol(col("th"), col("r"), width).as("bucket"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Sharded counter tables combine by per-cell addition — the CMS merge
    * law. Input schemas must match [[cmsCounters]] output. */
  def cmsMergeCounters(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy("r", "bucket").agg(sum("cnt").as("cnt"))

  // ---- HDR-histogram quantile sketch ---------------------------------------

  /** HdrHistogram-style bucket key for a non-negative long: values ≤ 15
    * are their own bucket (exact); above that, the bucket is the value's
    * octave (bit length) plus the 4 bits after the leading bit —
    * `(m−4)·16 + ((v >> (m−5)) & 15)` with m = bitlen(v). Piecewise-linear
    * log₂ binning in PURE integer arithmetic (bitlen via `bin()` string
    * length, like the HLL rank; variable shift via the SQL `shiftright`,
    * whose column-amount form the Scala wrapper hides) — so the key, the
    * histogram, and every quantile read off it replay bit-for-bit in
    * ANSI SQL. Monotone in v; bucket width 2^(m−5) ⇒ relative error
    * ≤ 1/32 at the midpoint estimate. */
  def hdrKey(v: Column): Column = {
    val m = length(bin(v)).cast("long") // bitlen; v ≥ 16 ⇒ m ≥ 5
    when(v <= 15, v).otherwise(
      (m - 4) * 16 +
        pmod(call_function("shiftright", v, m - lit(5L)), lit(16L)))
  }

  /** The mergeable quantile sketch: bucket → count, ≤ 16·60 rows for the
    * full long range — MODEL-sized at any corpus size, built by one
    * map-side-combining groupBy (the shuffle carries ≤ buckets·P rows,
    * never values). Shards merge by per-bucket sum. Negative and null
    * values are excluded (document lengths, token counts, latencies —
    * the natural domains — are non-negative). */
  def hdrHistogram(df: DataFrame, valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .select(hdrKey(col(valueCol).cast("long")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from a histogram: for each q, rank = max(1,
    * ⌈q·N⌉) and the answer is the midpoint of the first bucket whose
    * cumulative count reaches the rank (exact for values ≤ 31, ≤ 1/32
    * relative error above). The cumulative window runs UNPARTITIONED on
    * purpose: its input is the model-sized bucket table, never data. */
  def hdrQuantiles(hist: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1), s"quantiles must be in (0,1], got $qs")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum("cnt").over(w))
    val n = hist.agg(sum("cnt").as("n"))
    val ranks = n.select(explode(array(qs.map(lit): _*)).as("q"), col("n"))
      .select(col("q"), greatest(lit(1L), ceil(col("q") * col("n"))).as("rank"))
    val sel = ranks.join(broadcast(cum), cum("cum") >= ranks("rank"))
      .groupBy("q").agg(min("bucket").as("bucket"))
    val oct = (col("bucket") / 16).cast("long") // = m − 4 for bucket ≥ 16
    val width = call_function("shiftleft", lit(1L), oct - 1)
    sel.select(col("q"),
      when(col("bucket") <= 15, col("bucket")).otherwise(
        (lit(16L) + pmod(col("bucket"), lit(16L))) * width +
          (width / 2).cast("long")).as("est_value"))
  }

  /** Sharded histograms combine by per-bucket addition. */
  def hdrMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.union(b).groupBy("bucket").agg(sum("cnt").as("cnt"))

  /** Point estimates for a candidate token set: est(t) = min over rows of
    * the counter at that row's bucket. The counter table is broadcast
    * (model-sized); candidates the sketch never saw read as 0 via the
    * left-join coalesce. `width`/`depth` must match the values the
    * counters were built with. At corpus scale the candidate set is the
    * caller's — a blocklist, a probe vocabulary, prior heavy hitters —
    * not the full vocabulary (a CMS exists precisely so the vocabulary
    * need not be materialized). */
  def cmsEstimate(counters: DataFrame, candidates: DataFrame, tokenCol: String,
      width: Int, depth: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    candidates.filter(col(tokenCol).isNotNull && col(tokenCol) =!= "")
      .select(col(tokenCol), TextStats.rollingHash(col(tokenCol)).as("th"))
      .select(col(tokenCol), col("th"), explode(lit((0 until depth).toArray)).as("r"))
      .select(col(tokenCol), col("r"), cmsBucketCol(col("th"), col("r"), width).as("bucket"))
      .join(broadcast(counters), Seq("r", "bucket"), "left")
      .groupBy(tokenCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  // ---- corpus resemblance (Broder bottom-k MinHash) ------------------------

  /** Broder's bottom-k resemblance estimate of the Jaccard similarity
    * between two KEY SETS (Broder 1997, "On the resemblance and
    * containment of documents" — the dataset-versioning diagnostic:
    * "how much does snapshot B's vocabulary / shingle set / url set
    * overlap snapshot A's?"). The k smallest [[mixHash]] values of the
    * UNION are an unbiased sample of it; the fraction of that sample
    * present in BOTH sides estimates J = |A∩B| / |A∪B| with standard
    * error ≈ √(J(1−J)/k). Exact (not an estimate) whenever the union has
    * ≤ k distinct keys.
    *
    * Plan shape: one key-keyed groupBy builds (key, inA, inB) membership
    * flags (the only corpus-wide shuffle), the bottom-k cut is
    * ORDER BY (h, key) LIMIT k — Spark's TakeOrderedAndProject, a
    * per-partition k-cap + k·P-row merge, never a global sort — and the
    * estimate is one aggregate over k rows. Ties and hash collisions are
    * broken by the key itself, so the selected sample (and therefore the
    * estimate) is deterministic and SQL-replayable. Keys must be numeric
    * (pre-hash strings with a replayable hash, e.g.
    * [[TextStats.rollingHash]]).
    *
    * The same bottom-k sample also yields Broder's CONTAINMENT estimates
    * ("how much of A is inside B"): the sample rows lying in A estimate
    * |A|/|A∪B|, so |A∩B|/|A| ≈ n_both/n_a (a ratio estimator — unbiased
    * in the numerator and denominator separately, documented small ratio
    * bias O(1/k); exact below k like the resemblance).
    *
    * Returns ONE row: (k, n_kept, n_a, n_b, n_both, resemblance_est,
    * containment_a_est, containment_b_est). */
  def corpusResemblance(a: DataFrame, b: DataFrame, keyCol: String,
      k: Int): DataFrame =
    corpusResemblanceFromFlags(membershipFlags(a, b, keyCol), k)

  /** The membership-flag frame behind [[corpusResemblance]]: one row per
    * DISTINCT key of A∪B with (id, ina, inb) flags — the set-difference /
    * overlap report in its own right (ina=1 ∧ inb=0 ⇒ only-in-A, …), and
    * distinct-key-sized, so callers with several consumers (an estimate
    * plus an exact audit) should build it once, pin it, and fan out —
    * re-deriving it re-runs the corpus scan AND the key-keyed shuffle. */
  def membershipFlags(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    // null keys are DROPPED, not sampled: a null id would otherwise form
    // its own group whose null hash sorts NULLS-FIRST in Spark but
    // NULLS-LAST in standard SQL — an engine-divergent bottom-k slot
    val ta = a.select(col(keyCol).cast("long").as("id"),
      lit(1).as("ina"), lit(0).as("inb"))
    val tb = b.select(col(keyCol).cast("long").as("id"),
      lit(0).as("ina"), lit(1).as("inb"))
    ta.unionAll(tb)
      .filter(col("id").isNotNull)
      .groupBy("id").agg(max("ina").as("ina"), max("inb").as("inb"))
  }

  /** Bottom-k key SAMPLE of one corpus: the k smallest (mixHash(id), id)
    * pairs over its DISTINCT keys — Broder's resemblance sketch for one
    * side, ≤ k rows. MERGEABLE: the bottom-k of a union equals the
    * bottom-k of the merged per-side samples (nothing below the union's
    * k-th value can be missing from its side's own bottom-k), so
    * snapshots keep a persisted sample each and
    * [[resemblanceFromSamples]] compares them WITHOUT co-scanning the
    * corpora — the dataset-versioning shape, and the same merge law the
    * streaming store ([[graft.streaming.StreamOps.bottomKUpdateBatch]])
    * is hard-oracled by. */
  def bottomKSample(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(col(keyCol).cast("long").as("id"))
      .filter(col("id").isNotNull).distinct()
      .withColumn("h", mixHash(col("id")))
      .orderBy("h", "id").limit(k)
      .select("h", "id")
  }

  /** Merge two bottom-k samples into the bottom-k of their union. */
  def mergeBottomK(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    a.select("h", "id").unionByName(b.select("h", "id")).distinct()
      .orderBy("h", "id").limit(k)
  }

  /** Resemblance + containments from two PRE-BUILT bottom-k samples —
    * numerically IDENTICAL to [[corpusResemblance]] over the original
    * corpora (property-tested): every key in the bottom-k of the merged
    * samples hashes below its own side's k-th value, so it is present in
    * that side's sample whenever it is in the corpus — the membership
    * flags are exact on the selected cut. */
  def resemblanceFromSamples(sa: DataFrame, sb: DataFrame, k: Int): DataFrame =
    corpusResemblanceFromFlags(
      sa.select(col("id"), lit(1).as("ina"), lit(0).as("inb"))
        .unionAll(sb.select(col("id"), lit(0).as("ina"), lit(1).as("inb")))
        .groupBy("id").agg(max("ina").as("ina"), max("inb").as("inb")), k)

  /** [[corpusResemblance]] over a pre-built (possibly pinned)
    * [[membershipFlags]] frame. */
  def corpusResemblanceFromFlags(flags: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def ratio(num: Column, den: Column) =
      when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
    flags
      .withColumn("h", mixHash(col("id")))
      .orderBy("h", "id").limit(k)
      .agg(count(lit(1)).as("n_kept"),
        coalesce(sum(col("ina").cast("long")), lit(0L)).as("n_a"),
        coalesce(sum(col("inb").cast("long")), lit(0L)).as("n_b"),
        coalesce(sum((col("ina") * col("inb")).cast("long")), lit(0L)).as("n_both"))
      .select(lit(k).cast("long").as("k"), col("n_kept"), col("n_a"), col("n_b"),
        col("n_both"),
        ratio(col("n_both"), col("n_kept")).as("resemblance_est"),
        ratio(col("n_both"), col("n_a")).as("containment_a_est"),
        ratio(col("n_both"), col("n_b")).as("containment_b_est"))
  }
}
