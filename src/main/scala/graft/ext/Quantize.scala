package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Symmetric per-vector int8 embedding quantization (the standard
  * scalar-quantization storage format for large ANN corpora — public
  * FAISS "SQ8" scheme): code_i = round(v_i / s) with s = max|v| / 127,
  * stored as `codes array<tinyint>` + one double `scale` per vector.
  * 4× smaller than float32 at rest — at 100 TB of embeddings that is the
  * difference between 25 TB and 100 TB of scan per brute-force pass.
  *
  * Cosine is SCALE-INVARIANT per vector, so ranking quantized vectors by
  * cosine needs no dequantization at all: cos(s·c, q) = cos(c, q). The
  * search path therefore runs straight on the codes; `dequantize` exists
  * for consumers that need approximate values back.
  *
  * All expressions, no UDFs; rounding is floor(x + 0.5) — round-half-up,
  * identical in Spark and ANSI SQL engines, so the whole transform is
  * replayable cross-engine (q_quantize_embeddings).
  */
object Quantize {

  /** (vec_id, scale, codes) — codes in [-127, 127] as tinyint. Zero-norm
    * vectors get scale 0.0 and all-zero codes (CASE-mirrored in the
    * oracle). */
  def quantizeEmbeddings(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .withColumn("scale",
        aggregate(transform(col("emb"), v => abs(v)), lit(0.0d),
          (acc, v) => greatest(acc, v)) / lit(127.0))
      .withColumn("codes",
        when(col("scale") > 0,
          transform(col("emb"),
            v => floor(v / col("scale") + lit(0.5)).cast("tinyint")))
          .otherwise(transform(col("emb"), _ => lit(0).cast("tinyint"))))
      .select("vec_id", "scale", "codes")
  }

  /** Approximate float reconstruction: v̂_i = codes_i · scale. Max
    * per-component error is scale/2 by construction. */
  def dequantize(quantized: DataFrame): DataFrame =
    quantized.withColumn("embedding",
      transform(col("codes"), c => c.cast("double") * col("scale")))

  /** Exact top-k by cosine over QUANTIZED vectors — identical ranking to
    * brute force over the dequantized values (per-vector scale cancels in
    * cosine), at a quarter of the scan bytes. Queries stay full-precision. */
  def quantizedTopK(
      quantized: DataFrame,
      queries: DataFrame,
      k: Int,
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame =
    Similarity.bruteForceTopK(
      quantized.select(col("vec_id"),
        transform(col("codes"), c => c.cast("double")).as("embedding")),
      queries, k,
      queryIdCol = queryIdCol, queryEmbCol = queryEmbCol)

  // ---- binary (1-bit) quantization + Hamming search ------------------------

  /** Binary sign quantization (the public "binary quantization" tier used
    * by large vector stores, after Charikar's sign-random-projection
    * observation that sign agreement tracks angle): bit_i = 1 iff
    * v_i > 0, packed 32 bits per BIGINT word — 32× smaller than float32
    * at rest, so a 100 TB float corpus scans as ~3 TB of signatures.
    * 32-bit words (not 64) keep every word non-negative and every shift
    * < 2^32, so the packing replays verbatim in ANSI SQL engines that
    * reject `1::BIGINT << 63` (q_binary_topk). NaN components set no bit
    * (guarded explicitly — Spark orders NaN above every number, so a bare
    * `v > 0` would silently admit NaN on one engine and not the other).
    *
    * Returns (vec_id, dim, sig array<bigint> of ceil(dim/32) words). The
    * signature frame is the persistable index: write it partitioned/
    * bucketed once, scan it instead of the float corpus forever after. */
  def binarySignatures(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val bit = (emb: org.apache.spark.sql.Column, w: org.apache.spark.sql.Column,
        j: org.apache.spark.sql.Column) => {
      val v = element_at(emb, (w * lit(32) + j + lit(1)).cast("int"))
      when(w * lit(32) + j < size(emb) && !isnan(v) && v > lit(0.0d),
        call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))
    }
    embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .select(col("vec_id"), size(col("emb")).cast("long").as("dim"),
        transform(
          sequence(lit(0), floor((size(col("emb")) + lit(31)) / lit(32.0d)).cast("int") - lit(1)),
          w => aggregate(sequence(lit(0), lit(31)), lit(0L),
            (acc, j) => acc + bit(col("emb"), w, j))).as("sig"))
  }

  /** Hamming distance between two packed signatures: Σ_w popcount(a_w ⊕
    * b_w) — pure integer expressions inside whole-stage codegen, ~2
    * instructions per 32 dimensions vs ~3 FLOPs per dimension for
    * cosine. */
  def hammingDistance(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Two-stage binary ANN over a PRE-BUILT signature index: stage 1 ranks
    * the whole corpus by Hamming distance on the 32×-compressed
    * signatures and keeps `rerank·k` candidates per query (k-capped
    * [[TopKAgg]] — map-side combine ships ≤ rerank·k rows per query per
    * partition, the same shuffle shape as brute force at 1/32 the scan
    * bytes); stage 2 joins ONLY those candidates back to the
    * full-precision frame (model-sized build side, broadcast — the float
    * corpus is filtered map-side, never shuffled) and re-ranks by exact
    * cosine. Deterministic ties at both stages: (distance, vec_id asc).
    * Recall degrades only when a true top-k neighbor's sign pattern is
    * farther than the rerank·k-th candidate's — widen `rerank` to trade
    * scan for recall. */
  def binaryTopKPreSigned(
      signatures: DataFrame,
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rerank >= 1, s"rerank must be >= 1, got $rerank")
    val qsig = binarySignatures(
        queries.select(col(queryIdCol).as("__qid"), col(queryEmbCol).as("__qemb")),
        "__qid", "__qemb")
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val stage1 = udaf(new TopKAgg(k * rerank))
    val cands = signatures
      .crossJoin(broadcast(qsig))
      .withColumn("ham", hammingDistance(col("sig"), col("qsig")))
      // null signature (null embedding) or word-count mismatch → null
      // distance; drop BEFORE the k-capped aggregate like brute force
      // drops null cosines
      .filter(col("vec_id").isNotNull && col("ham").isNotNull)
      .groupBy("query_id")
      .agg(stage1(col("vec_id"), -col("ham").cast("double")).as("top"))
      .select(col("query_id"), explode(col("top")).as("sv"))
      .select(col("query_id"), col("sv.vec_id").as("vec_id"))
    TopK.rank(embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(queries.select(col(queryIdCol).as("query_id"),
        col(queryEmbCol).cast("array<double>").as("qemb"))), Seq("query_id"))
      .withColumn("cos", Dedup.cosine(col("emb"), col("qemb"))), k)
  }

  /** Convenience: build the signature index inline and search it. For a
    * persistent corpus use [[binarySignatures]] once +
    * [[binaryTopKPreSigned]] per query batch. */
  def binaryTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      rerank: Int = 4,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame =
    binaryTopKPreSigned(binarySignatures(embeddings, idCol, embCol),
      embeddings, queries, k, rerank, idCol, embCol, queryIdCol, queryEmbCol)
}
