package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Product quantization for approximate nearest-neighbor search (the
  * public PQ scheme of Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — the compression tier FAISS
  * calls `PQm`): the D-dim embedding is split into `m` contiguous
  * subspaces of `dsub = D/m` dims, each subspace gets its own `ksub`-entry
  * codebook, and a vector is stored as the `m` per-subspace nearest-code
  * indices. At ksub ≤ 256 that is m BYTES per vector versus 4·D for
  * float32 — a 64-dim corpus compresses 32× (8 codes vs 256 bytes), which
  * at 100 TB of raw embeddings is the difference between scanning 3 TB
  * and scanning 100 TB per search pass.
  *
  * Search is ADC (asymmetric distance computation, §IV.A of the paper):
  * the query stays full-precision, a per-query lookup table of
  * sub-dot-products against every codebook entry is built once (m·ksub
  * entries — model-sized), and each stored vector is scored by summing m
  * table entries selected by its codes. No decode, no per-pair float
  * math beyond m adds: the corpus-side cost per row is O(m), independent
  * of D. We rank by the ADC estimate of COSINE — sub-dots give the dot
  * product with the reconstruction x̂, and ‖x̂‖² = Σ_j ‖cb_j[code_j]‖² is
  * a second m-entry table lookup — so results are directly comparable to
  * [[Similarity.bruteForceTopK]] and the IVF/LSH paths (same
  * (cos desc, vec_id asc) tie rule, same k-capped [[TopKAgg]] shuffle
  * bound of k·P rows).
  *
  * Scale shape: encoding is one corpus scan (O(m·ksub·dsub) FLOPs/row)
  * that a real deployment runs ONCE and persists next to the ids —
  * exactly the [[Similarity.assignCells]] amortization story, measured in
  * ARCHITECTURE.md's round-8 probe ledger. Training reads a strided
  * sample (codebooks need the distribution's shape, not the corpus), and
  * every per-iteration aggregate is (m·ksub·dsub)-sized — a model, never
  * data. Encode/LUT use closure UDFs by the [[Similarity.assignUdf]]
  * precedent: production codebooks (m·ksub·dsub doubles) are far past
  * sane literal embedding, the per-row FLOPs dominate either way, and
  * the while-loop left-to-right accumulation is exactly replayable by a
  * SQL `list_reduce` fold — which is what makes [[pqTopKReplayable]] a
  * hard-oracle twin of the full encode→LUT→score→rank pipeline.
  *
  * Id contract matches the other topK variants: numeric unique ids,
  * emitted as `vec_id: bigint`.
  */
object Pq {

  /** Deterministic INTEGER-coordinate codebooks for the replayable twin
    * (the [[Similarity.integerPlanes]] recipe indexed by (subspace, code,
    * dim)): cb(j)(c)(d) = ((2654435761·((j·ksub+c)·dsub + d + 1) + 97)
    * mod 1000000007) − 500000003 — exact in a double, regenerable from
    * three loop indices with BIGINT arithmetic in any SQL engine. */
  private[graft] def integerCodebooks(m: Int, ksub: Int, dsub: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m)(j => Array.tabulate(ksub)(c => Array.tabulate(dsub)(d =>
      ((2654435761L * ((j.toLong * ksub + c) * dsub + d + 1) + 97L) % 1000000007L
        - 500000003L).toDouble)))

  private def requireShape(cb: Array[Array[Array[Double]]]): (Int, Int, Int) = {
    require(cb.nonEmpty && cb(0).nonEmpty && cb(0)(0).nonEmpty, "empty codebooks")
    val (m, ksub, dsub) = (cb.length, cb(0).length, cb(0)(0).length)
    require(cb.forall(b => b.length == ksub && b.forall(_.length == dsub)),
      "ragged codebooks: every subspace needs the same (ksub, dsub)")
    (m, ksub, dsub)
  }

  /** Per-subspace argmin-L2 encoder. Tie rule: strict <, so the LOWEST
    * code index wins ties; a NaN distance never beats anything (NaN < x
    * is false), so an all-NaN subspace encodes as code 0 — both rules
    * mirrored by the oracle's `ORDER BY dist ASC, c ASC` under DuckDB's
    * NaN-sorts-last total order. Left-to-right accumulation ≡ the SQL
    * list_reduce fold. */
  private def encodeUdf(cb: Array[Array[Array[Double]]]): UserDefinedFunction = {
    val frozen = cb.map(_.map(_.clone()))
    val m = frozen.length
    val dsub = frozen(0)(0).length
    udf { (emb: Seq[Double]) =>
      val codes = new Array[Int](m)
      var j = 0
      while (j < m) {
        val book = frozen(j)
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < book.length) {
          val cent = book(c)
          var dd = 0.0
          var d = 0
          while (d < dsub) {
            val diff = emb(j * dsub + d) - cent(d)
            dd += diff * diff
            d += 1
          }
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        codes(j) = best
        j += 1
      }
      codes
    }
  }

  /** Per-query ADC dot table: entry j·ksub+c = Σ_d qemb[j·dsub+d]·cb[j][c][d]
    * (left-to-right). Queries are model-sized by contract, so this UDF
    * runs Q times total — never on the corpus. */
  private def lutDotUdf(cb: Array[Array[Array[Double]]]): UserDefinedFunction = {
    val frozen = cb.map(_.map(_.clone()))
    val m = frozen.length
    val ksub = frozen(0).length
    val dsub = frozen(0)(0).length
    udf { (qemb: Seq[Double]) =>
      val lut = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < ksub) {
          val cent = frozen(j)(c)
          var dot = 0.0
          var d = 0
          while (d < dsub) { dot += qemb(j * dsub + d) * cent(d); d += 1 }
          lut(j * ksub + c) = dot
          c += 1
        }
        j += 1
      }
      lut
    }
  }

  /** ‖cb_j[c]‖² per (j, c) — query-independent, computed once on the
    * driver with the same left-to-right fold and shipped as a literal
    * array (m·ksub doubles — a model). */
  private def normSqTable(cb: Array[Array[Array[Double]]]): Array[Double] =
    cb.flatMap(_.map { cent =>
      var s = 0.0; var d = 0
      while (d < cent.length) { s += cent(d) * cent(d); d += 1 }
      s
    })

  /** Deterministic per-subspace Lloyd training (the [[Similarity
    * .trainIvfCentroids]] conventions on the PQ objective): init = each
    * subspace's slices of the `ksub` lowest-id sample vectors; fixed
    * `iters` iterations of argmin-L2 assignment (lowest code on ties) and
    * per-(subspace, code, dim) means; an emptied code keeps its previous
    * centroid. ALL subspaces train in each single scan — the per-iteration
    * shuffle is the (m·ksub·dsub)-row mean table, never the sample. */
  def trainPqCodebooks(
      embeddings: DataFrame,
      dim: Int,
      m: Int = 8,
      ksub: Int = 256,
      iters: Int = 3,
      sampleMod: Long = 1L,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val dsub = dim / m
    val base = embeddings.select(col(idCol).cast("long").as("vec_id"),
      col(embCol).cast("array<double>").as("emb"))
    val sample =
      (if (sampleMod > 1L) base.filter(col("vec_id") % sampleMod === 0) else base)
        .coalesce(8).cache()
    try {
      val seed = sample.orderBy("vec_id").limit(ksub).collect()
        .map(_.getSeq[Double](1).toArray)
      require(seed.length == ksub, s"need >= $ksub vectors to init PQ codebooks")
      var cb: Array[Array[Array[Double]]] =
        Array.tabulate(m)(j => seed.map(v => v.slice(j * dsub, (j + 1) * dsub)))
      var it = 0
      while (it < iters) {
        val enc = encodeUdf(cb)
        // encode BEFORE exploding (Generate re-evaluates its select list
        // per output row — the trainIvfCentroids barrier note)
        val means = sample
          .select(col("emb"), enc(col("emb")).as("codes"))
          .select(col("emb"), posexplode(col("codes")).as(Seq("j", "c")))
          .select(col("j"), col("c"),
            posexplode(slice(col("emb"), col("j") * dsub + 1, lit(dsub))).as(Seq("d", "v")))
          .groupBy("j", "c", "d").agg(avg("v").as("mv"))
          .collect()
        val next = cb.map(_.map(_.clone()))
        means.foreach { r =>
          next(r.getAs[Int]("j"))(r.getAs[Int]("c"))(r.getAs[Int]("d")) = r.getAs[Double]("mv")
        }
        cb = next
        it += 1
      }
      cb
    } finally sample.unpersist(false)
  }

  /** Encode a corpus against trained codebooks: (vec_id, codes) with
    * codes[j] ∈ [0, ksub). This is the persist-once half of the index —
    * at ksub ≤ 256 the codes column dictionary/bit-packs to ~m bytes per
    * vector in parquet. Vectors shorter than m·dsub throw (ANSI
    * element_at semantics would anyway); longer tails are ignored.
    *
    * ADD-BATCH: this call with RETAINED codebooks IS the incremental
    * index-growth API — codes are per-vector, so encoding a new batch
    * and appending its rows composes trivially (no read-merge-rewrite;
    * the [[graft.ext.Similarity.ivfIndexAddBatch]] story without even
    * the cell-file bookkeeping). The cost is codebook STALENESS:
    * measured under the round-11 distribution-shift protocol
    * (ARCHITECTURE.md: trained on 80% of mixture centers, corpus grown 20% with unseen
    * centers, fresh-draw corpus so copy artifacts can't mask drift),
    * new-distribution recall@10 reads 0.47 stale vs 0.50 retrained for
    * PQ and 0.46 vs 0.49 for OPQ — a ~3-point decay per 20%
    * unseen-distribution growth (milder than IVF's 6: ADC scans every
    * code, so staleness only distorts scores, never routes a candidate
    * out of reach). Budget a retrain+re-encode when accumulated
    * unseen-distribution growth costs more recall than the rebuild is
    * worth — at 500k×32-d, stale-encoding a 100k batch costs ~2.3 s vs
    * ~10.4 s retrain+re-encode. */
  def pqEncode(
      embeddings: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val (m, _, dsub) = requireShape(codebooks)
    val enc = encodeUdf(codebooks)
    embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .filter(size(col("emb")) >= m * dsub)
      .select(col("vec_id"), enc(col("emb")).as("codes"))
  }

  /** ADC top-k over an ENCODED corpus: per-query LUTs broadcast with the
    * (small) query frame, per-row score = an m-entry table-lookup fold —
    * pure codegen'd expressions on the corpus side — ranked by the
    * k-capped [[TopKAgg]] (shuffle moves k·P rows). Emits the ADC cosine
    * estimate as `cos`; ties (cos desc, vec_id asc) like every topK. */
  def pqTopK(
      encoded: DataFrame,
      queries: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    val (m, ksub, _) = requireShape(codebooks)
    val lutDot = lutDotUdf(codebooks)
    val nsq = normSqTable(codebooks)
    val qBase = queries.select(
      col(queryIdCol).as("query_id"),
      col(queryEmbCol).cast("array<double>").as("qemb"))
      .withColumn("lut", lutDot(col("qemb")))
      .withColumn("qnorm",
        sqrt(aggregate(col("qemb"), lit(0.0d), (a, v) => a + v * v)))
      .select("query_id", "lut", "qnorm")
    val nsqLit = array(nsq.map(lit): _*)
    // Σ_j lut[j·ksub + codes[j]] and Σ_j ‖cb_j[code_j]‖², both as ordered
    // left-to-right folds over j (transform-with-index + aggregate) so the
    // oracle's list_reduce over a j-ordered list replays them exactly
    val adcDot = aggregate(
      transform(col("codes"), (c, j) => element_at(col("lut"), j * ksub + c + 1)),
      lit(0.0d), (a, v) => a + v)
    val recNormSq = aggregate(
      transform(col("codes"), (c, j) => element_at(nsqLit, j * ksub + c + 1)),
      lit(0.0d), (a, v) => a + v)
    val topk = udaf(new TopKAgg(k))
    encoded
      .select(col("vec_id").cast("long").as("vec_id"), col("codes"))
      .crossJoin(broadcast(qBase))
      .withColumn("cos", adcDot / (col("qnorm") * sqrt(recNormSq)))
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
      .groupBy("query_id")
      .agg(topk(col("vec_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.cos").as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Train + encode + search in one call — the convenience form; real
    * deployments call [[trainPqCodebooks]] once, persist [[pqEncode]]'s
    * output, and search with [[pqTopK]]. */
  def pqTopKTrained(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int,
      m: Int = 8,
      ksub: Int = 256,
      iters: Int = 3,
      trainSampleMod: Long = 1L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    val cb = trainPqCodebooks(embeddings, dim, m, ksub, iters, trainSampleMod, idCol, embCol)
    pqTopK(pqEncode(embeddings, cb, idCol, embCol), queries, cb, k, queryIdCol, queryEmbCol)
  }

  /** IVF-PQ: the composed production ANN index (the public FAISS
    * `IVFx,PQy` architecture) — the coarse quantizer restricts
    * candidates to the `nprobe` nearest cells (same assignment/probing
    * machinery as [[Similarity.ivfTopK]], pruning the scan to
    * ~nprobe/nlist of the corpus), and the surviving candidates are
    * scored by PQ-ADC table lookups instead of full-precision cosine
    * (O(m) adds per candidate over ~m-byte codes). This is the
    * no-residual variant (FAISS `by_residual=false`): codes quantize
    * the raw vectors, so ONE codebook set serves every cell — the
    * residual variant trades that simplicity for finer cell-local
    * resolution and would need per-cell LUT rebuilds. Index build =
    * assignment + encode, both persisted once in practice (the
    * [[Similarity.assignCells]] amortization); at 100 TB the search
    * reads nprobe/nlist of a 32×-compressed index. */
  def ivfPqTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      cents: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    val (m, ksub, dsub) = requireShape(codebooks)
    val enc = encodeUdf(codebooks)
    val index = Similarity.assignCells(embeddings, cents, idCol, embCol)
      .filter(size(col("emb")) >= m * dsub)
      .select(col("vec_id"), col("cell"), enc(col("emb")).as("codes"))
    searchIvfPq(index, queries, k, cents, codebooks, nprobe, queryIdCol, queryEmbCol)
  }

  /** Search a pre-built IVF-PQ index frame (the [[ivfPqTopK]] build
    * schema: vec_id, cell, codes) — the amortized form. */
  def searchIvfPq(
      index: DataFrame,
      queries: DataFrame,
      k: Int,
      cents: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nprobe: Int,
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    val (m, ksub, _) = requireShape(codebooks)
    val lutDot = lutDotUdf(codebooks)
    val nsq = normSqTable(codebooks)
    val qBase = queries.select(
      col(queryIdCol).as("query_id"),
      col(queryEmbCol).cast("array<double>").as("qemb"))
    // nprobe nearest centroids, the Similarity probe machinery (same
    // (cos desc, idx desc) tie rule both below and in the oracle)
    val probeCells =
      if (cents.length <= 16) {
        val scoredCells = cents.zipWithIndex.map { case (c, i) =>
          struct(
            nanvl(Dedup.cosine(col("qemb"), array(c.map(lit): _*)),
              lit(Double.NegativeInfinity)).as("c"),
            lit(i).as("idx"))
        }
        slice(reverse(sort_array(array(scoredCells: _*))), 1, nprobe).getField("idx")
      } else Similarity.probeUdf(cents, nprobe)(col("qemb"))
    val probed = qBase
      .withColumn("lut", lutDot(col("qemb")))
      .withColumn("qnorm", sqrt(aggregate(col("qemb"), lit(0.0d), (a, v) => a + v * v)))
      .select(col("query_id"), col("lut"), col("qnorm"),
        explode(probeCells).as("cell"))
    val nsqLit = array(nsq.map(lit): _*)
    val adcDot = aggregate(
      transform(col("codes"), (c, j) => element_at(col("lut"), j * ksub + c + 1)),
      lit(0.0d), (a, v) => a + v)
    val recNormSq = aggregate(
      transform(col("codes"), (c, j) => element_at(nsqLit, j * ksub + c + 1)),
      lit(0.0d), (a, v) => a + v)
    val topk = udaf(new TopKAgg(k))
    probed.join(index, "cell")
      .withColumn("cos", adcDot / (col("qnorm") * sqrt(recNormSq)))
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
      .groupBy("query_id")
      .agg(topk(col("vec_id").cast("long"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.cos").as("cos"))
      .orderBy("query_id", "rank")
  }

  /** SQL-replayable twin of the composed IVF-PQ pipeline: BOTH pinned
    * quantizers — [[Similarity.integerPlanes]] centroids and
    * [[integerCodebooks]] — through the production assignment, probing,
    * encode, and ADC machinery, so one oracle replays cell pruning AND
    * code scoring end-to-end. */
  def ivfPqTopKReplayable(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      nlist: Int = 8,
      nprobe: Int = 3,
      m: Int = 8,
      ksub: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    ivfPqTopK(embeddings, queries, k,
      Similarity.integerPlanes(dim, nlist), integerCodebooks(m, ksub, dim / m),
      nprobe, idCol, embCol, queryIdCol, queryEmbCol)
  }

  /** SQL-replayable twin of the full PQ pipeline (the [[Similarity
    * .ivfTopKReplayable]] recipe): the IDENTICAL encode → LUT → ADC score
    * → k-capped rank path with [[integerCodebooks]] pinned in place of
    * trained ones, so an oracle regenerates every codebook entry from
    * three loop indices and replays argmin encoding, both lookup tables,
    * the ordered score folds, and the final (cos desc, vec_id) rank
    * bit-for-bit. Training only moves codebook VALUES; the twin pins the
    * machinery. */
  def pqTopKReplayable(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      m: Int = 8,
      ksub: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val cb = integerCodebooks(m, ksub, dim / m)
    pqTopK(pqEncode(embeddings, cb, idCol, embCol), queries, cb, k, queryIdCol, queryEmbCol)
  }

  // ---- OPQ (Ge et al. 2013, "Optimized Product Quantization") -------------

  /** Dense matrix–vector rotation as a closure UDF (R changes per
    * training iteration — a literal-expression form would Janino-compile
    * fresh code each round, the [[Similarity.assignUdf]] precedent).
    * Wrong-length / null vectors map to null, matching the other
    * encoders' guards. */
  private def rotateUdf(r: Array[Array[Double]]): UserDefinedFunction = {
    val frozen = r.map(_.clone())
    val d = frozen.length
    udf { (v: Seq[Double]) =>
      if (v == null || v.length != d) null
      else {
        val out = new Array[Double](d)
        var i = 0
        while (i < d) {
          val row = frozen(i)
          var s = 0.0
          var j = 0
          while (j < d) { s += row(j) * v(j); j += 1 }
          out(i) = s
          i += 1
        }
        out
      }
    }
  }

  /** Decode PQ codes back to the concatenated centroid vector x̂. */
  private def decodeUdf(cb: Array[Array[Array[Double]]]): UserDefinedFunction = {
    val frozen = cb.map(_.map(_.clone()))
    val m = frozen.length
    val dsub = frozen(0)(0).length
    udf { (codes: Seq[Int]) =>
      if (codes == null || codes.length != m) null
      else {
        val out = new Array[Double](m * dsub)
        var j = 0
        while (j < m) {
          System.arraycopy(frozen(j)(codes(j)), 0, out, j * dsub, dsub)
          j += 1
        }
        out
      }
    }
  }

  /** Σ x̂·xᵀ cross-Gram accumulator for the Procrustes step: the partial
    * state is dim² doubles per partition (the [[Pca.GramAgg]] shape,
    * full square because the cross-Gram is not symmetric). */
  private class CrossGramAgg(d: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Seq[Double], Seq[Double]), Array[Double], Array[Double]] {
    def zero: Array[Double] = new Array[Double](d * d)
    def reduce(buf: Array[Double], xy: (Seq[Double], Seq[Double])): Array[Double] = {
      val (x, xhat) = xy
      if (x == null || xhat == null || x.length != d || xhat.length != d) return buf
      var i = 0
      while (i < d) {
        val xi = xhat(i)
        var j = 0
        while (j < d) { buf(i * d + j) += xi * x(j); j += 1 }
        i += 1
      }
      buf
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var t = 0
      while (t < a.length) { a(t) += b(t); t += 1 }
      a
    }
    def finish(buf: Array[Double]): Array[Double] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Train OPQ (the non-parametric alternation of Ge et al. 2013 §4):
    * repeat { train PQ codebooks in the rotated space; solve the
    * orthogonal Procrustes problem min_R ||R·x − x̂||_F over the sample —
    * R = U·Vᵀ from the SVD of M = Σ x̂·xᵀ }. Distributed parts: the
    * rotation scan, the codebook training pass, and the cross-Gram
    * accumulation (dim²-double partial state per partition); driver
    * parts: the dim×dim SVD (Breeze — model numerics, same policy as the
    * PCA eigendecomposition and the Lloyd argmax). Iterative optimizer ⇒
    * declared non-oracle; the machinery is pinned by
    * [[opqTopKReplayable]]. Returns (rotation, codebooks) where rotation
    * is row-major R with rotated = R·x. */
  def trainOpq(
      embeddings: DataFrame,
      dim: Int,
      m: Int = 8,
      ksub: Int = 256,
      iters: Int = 3,
      sampleMod: Long = 1L,
      idCol: String = "vec_id",
      embCol: String = "embedding"): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(m > 0 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val base = embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .filter(size(col("emb")) === dim)
    val sample =
      (if (sampleMod > 1L) base.filter(col("vec_id") % sampleMod === 0) else base)
        .coalesce(8).cache()
    try {
      var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
      var cb: Array[Array[Array[Double]]] = null
      var it = 0
      while (it < iters) {
        val rot = rotateUdf(r)
        cb = trainPqCodebooks(
          sample.select(col("vec_id"), rot(col("emb")).as("embedding")),
          dim, m, ksub, iters = 1, sampleMod = 1L)
        if (it < iters - 1) {
          val enc = encodeUdf(cb)
          val dec = decodeUdf(cb)
          val cg = udaf(new CrossGramAgg(dim))
          val mArr = sample
            .select(col("emb").as("x"), dec(enc(rot(col("emb")))).as("xhat"))
            .agg(cg(col("x"), col("xhat")).as("cg"))
            .head().getSeq[Double](0).toArray
          val mm = breeze.linalg.DenseMatrix.tabulate(dim, dim)(
            (i, j) => mArr(i * dim + j))
          val s = breeze.linalg.svd(mm)
          val rNext = s.U * s.Vt
          r = Array.tabulate(dim, dim)((i, j) => rNext(i, j))
        }
        it += 1
      }
      (r, cb)
    } finally { sample.unpersist(false); () }
  }

  /** Encode a corpus against an OPQ model: rotate, then [[pqEncode]].
    * Persist-once like the plain PQ index. Add-batch with a retained
    * (rotation, codebooks) pair composes exactly like [[pqEncode]]'s —
    * the rotation is global model state with the same staleness
    * exposure; measured 0.46 stale vs 0.49 retrained recall@10 per 20%
    * unseen-distribution growth (round 11, ARCHITECTURE.md; advice in
    * [[pqEncode]]'s scaladoc). */
  def opqEncode(
      embeddings: DataFrame,
      rotation: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame =
    opqEncodeWith(embeddings, rotation.length, c => rotateUdf(rotation)(c),
      codebooks, idCol, embCol)

  private def opqEncodeWith(
      embeddings: DataFrame,
      d: Int,
      rotFn: Column => Column,
      codebooks: Array[Array[Array[Double]]],
      idCol: String,
      embCol: String): DataFrame =
    pqEncode(
      embeddings
        .select(col(idCol).cast("long").as("vec_id"),
          col(embCol).cast("array<double>").as("emb"))
        .filter(size(col("emb")) === d)
        .select(col("vec_id"), rotFn(col("emb")).as("emb")),
      codebooks, "vec_id", "emb")

  /** ADC top-k over an OPQ-encoded corpus: queries rotate through the
    * SAME R (model-sized work — the corpus side scans codes only), then
    * [[pqTopK]]. R orthonormal preserves dots and norms, so the ADC
    * cosine in rotated space estimates the original-space cosine. */
  def opqTopK(
      encoded: DataFrame,
      queries: DataFrame,
      rotation: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame =
    opqTopKWith(encoded, queries, c => rotateUdf(rotation)(c), codebooks, k,
      queryIdCol, queryEmbCol)

  private def opqTopKWith(
      encoded: DataFrame,
      queries: DataFrame,
      rotFn: Column => Column,
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      queryIdCol: String,
      queryEmbCol: String): DataFrame =
    pqTopK(encoded,
      queries.select(col(queryIdCol).as("query_id"),
        rotFn(col(queryEmbCol).cast("array<double>")).as("query_emb")),
      codebooks, k)

  /** Apply a SIGNED-PERMUTATION rotation as a pure codegen expression:
    * output slot r = sign_r · emb[perm(r)] — one `element_at` per slot
    * instead of the dense O(dim²) [[rotateUdf]] multiply (which exists
    * for ARBITRARY trained rotations; a permutation row has one nonzero,
    * so the dense sum degenerates to exactly this term, and the literal
    * `sign · element` form is the oracle's `sl[rr] * emb[pl[rr]+1]`
    * bit-for-bit). Swapping the corpus-side UDF for this expression cut
    * q_opq_replay_topk from 2.06 s exec to the plain-PQ level: the UDF
    * cost was Seq boxing + 4096 multiplies per row for what is a 64-way
    * shuffle of the array. Callers guard length (`size(emb) === dim`)
    * before applying, matching the UDF's wrong-length → null contract. */
  private[graft] def signedPermColumn(emb: Column, rot: Array[Array[Double]]): Column = {
    val (perm, signs) = signedPermOf(rot)
    array(perm.indices.map(r =>
      lit(signs(r)) * element_at(emb, perm(r) + 1)): _*)
  }

  /** [[encodeUdf]] with a signed-permutation rotation FUSED into the
    * argmin loops: slot i of the rotated vector is read as
    * signs(i) · emb(perm(i)) instead of materializing the rotated array
    * first. Numerically identical to rotate-then-encode (±1·x is exact),
    * but the corpus-side cost drops back to plain-PQ shape — the
    * intermediate 64-slot array build + ArrayData→Seq reconversion per
    * row was most of q_opq_replay_topk's 3–4× gap over q_pq_replay_topk. */
  private[graft] def encodePermUdf(cb: Array[Array[Array[Double]]],
      perm: Array[Int], signs: Array[Double]): UserDefinedFunction = {
    val frozen = cb.map(_.map(_.clone()))
    val m = frozen.length
    val dsub = frozen(0)(0).length
    val p = perm.clone()
    val s = signs.clone()
    udf { (emb: Seq[Double]) =>
      val codes = new Array[Int](m)
      var j = 0
      while (j < m) {
        val book = frozen(j)
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < book.length) {
          val cent = book(c)
          var dd = 0.0
          var d = 0
          while (d < dsub) {
            val i = j * dsub + d
            val diff = s(i) * emb(p(i)) - cent(d)
            dd += diff * diff
            d += 1
          }
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        codes(j) = best
        j += 1
      }
      codes
    }
  }

  /** (perm, signs) of a signed-permutation rotation matrix: slot r of the
    * rotated vector = signs(r) · emb(perm(r)). Throws on a non-signed-
    * permutation input. */
  private[graft] def signedPermOf(rot: Array[Array[Double]]): (Array[Int], Array[Double]) = {
    val slots = rot.map { row =>
      val j = row.indexWhere(_ != 0.0)
      require(j >= 0 && row.count(_ != 0.0) == 1 && math.abs(row(j)) == 1.0,
        "not a signed-permutation rotation")
      (j, row(j))
    }
    (slots.map(_._1), slots.map(_._2))
  }

  /** Deterministic SIGNED-PERMUTATION rotation for the replayable twin:
    * output r reads source index perm(r) (the argsort of (mixHash(i), i)
    * over 0..dim−1) with sign from mixHash(dim + r) parity. A signed
    * permutation IS orthonormal, and both parts regenerate from BIGINT
    * arithmetic + one ORDER BY in SQL. */
  private[graft] def signedPermutationRotation(dim: Int): Array[Array[Double]] = {
    val perm = (0 until dim).sortBy(i => (Sketches.mixHashLocal(i.toLong), i)).toArray
    Array.tabulate(dim, dim) { (r, j) =>
      if (j == perm(r))
        (if (Sketches.mixHashLocal((dim + r).toLong) % 2 == 0) 1.0 else -1.0)
      else 0.0
    }
  }

  /** SQL-replayable twin of the full OPQ pipeline: the IDENTICAL
    * rotate → encode → LUT → ADC → rank path with
    * [[signedPermutationRotation]] + [[integerCodebooks]] pinned in
    * place of trained ones. Training only moves parameter VALUES; the
    * twin pins the machinery. */
  def opqTopKReplayable(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      m: Int = 8,
      ksub: Int = 8,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val rot = signedPermutationRotation(dim)
    val cb = integerCodebooks(m, ksub, dim / m)
    // the pinned rotation is a signed permutation: the corpus side fuses
    // it into the encode loops ([[encodePermUdf]] — plain-PQ cost, no
    // intermediate rotated array), the model-sized query side applies the
    // codegen'd element shuffle, length-guarded explicitly (ANSI
    // element_at throws on short arrays where the dense UDF returned
    // null — same survivor set either way, no-emb queries score nothing).
    val (perm, signs) = signedPermOf(rot)
    val encPerm = encodePermUdf(cb, perm, signs)
    val encoded = embeddings
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .filter(size(col("emb")) === dim)
      .select(col("vec_id"), encPerm(col("emb")).as("codes"))
    opqTopKWith(encoded,
      queries.filter(size(col(queryEmbCol).cast("array<double>")) === dim),
      c => signedPermColumn(c, rot), cb, k, queryIdCol, queryEmbCol)
  }
}
