package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding column
  * (SURVEY §7.4): brute-force cosine top-k as the exact baseline, and a
  * sign-LSH bucketed variant as the scale path (probe the query's bucket
  * plus all 1-bit-flip neighbors — multiprobe — so recall degrades
  * gracefully instead of falling off a bucket boundary).
  *
  * Scale notes: brute force is O(N·Q) with the query side broadcast — right
  * whenever Q is small; the LSH path turns the scan into a bucket-equijoin
  * (one shuffle on bucket id) whose probe fan-out is bits+1 buckets per
  * query, independent of N.
  *
  * Id contract (all three topK variants): `idCol` must be numeric and is
  * emitted as `vec_id: bigint` (the k-capped aggregator ranks on a long
  * key). A non-numeric id throws up front with a clear message rather than
  * failing mid-job under ANSI cast rules; map string ids to a surrogate
  * long (e.g. `xxhash64`) before calling. Ids must also be UNIQUE per row:
  * the LSH path relies on (query, vec) pairs being produced at most once
  * (see the no-distinct proof inline), so duplicate id rows yield
  * duplicate top-k entries.
  */
object Similarity {

  /** Fail fast if `idCol` isn't numeric — the topK operators cast it to
    * long, which under ANSI mode would otherwise explode mid-job with an
    * opaque CAST_INVALID_INPUT from inside an executor. */
  private def requireNumericId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.NumericType
    val f = df.schema.find(_.name == idCol).getOrElse(
      throw new IllegalArgumentException(s"id column '$idCol' not found"))
    require(f.dataType.isInstanceOf[NumericType],
      s"id column '$idCol' must be numeric (found ${f.dataType.simpleString}); " +
        "topK emits vec_id as bigint — map string ids to a surrogate long " +
        "(e.g. xxhash64) first")
  }

  /** Exact top-k by cosine for each query vector. `queries` must be small
    * (it is broadcast). Deterministic ties: (cos desc, vec_id asc).
    *
    * Ranking is a k-capped aggregation (TopKAgg), NOT a global per-query
    * window: map-side combine reduces every scan partition to ≤ k rows per
    * query, so the shuffle moves k·P rows instead of all N scored rows —
    * the plan that survives 1B vectors. */
  def bruteForceTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    requireNumericId(embeddings, idCol)
    val topk = udaf(new TopKAgg(k))
    embeddings
      .select(col(idCol).cast("long").as("vec_id"), col(embCol).cast("array<double>").as("emb"))
      .crossJoin(broadcast(queries.select(
        col(queryIdCol).as("query_id"), col(queryEmbCol).cast("array<double>").as("qemb"))))
      .withColumn("cos", Dedup.cosine(col("emb"), col("qemb")))
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
      .groupBy("query_id")
      .agg(topk(col("vec_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.cos").as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Matryoshka-truncation retrieval (Kusupati et al. 2022, "Matryoshka
    * Representation Learning"): search on the FIRST `dPrime` dimensions
    * of every vector — the deployment pattern MRL-trained embeddings
    * enable, scanning dPrime/D of the bytes at some recall cost, which
    * [[withRecallAtK]] quantifies against the full-dim exact result.
    * Pure composition: slice both sides, then the brute-force path (same
    * tie rule, same k-capped TopKAgg bound). Vectors shorter than dPrime
    * slice to their full length (Spark slice semantics) — same cosine as
    * their full-dim self. */
  def truncatedTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dPrime: Int,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    require(dPrime >= 1, "dPrime must be >= 1")
    bruteForceTopK(
      embeddings.select(col(idCol),
        slice(col(embCol).cast("array<double>"), 1, dPrime).as(embCol)),
      queries.select(col(queryIdCol),
        slice(col(queryEmbCol).cast("array<double>"), 1, dPrime).as(queryEmbCol)),
      k, idCol, embCol, queryIdCol, queryEmbCol)
  }

  /** Assignment expression: cell index of the max-cosine centroid (lowest
    * index on ties, via the (cos, −idx) struct-max trick). NaN cosines
    * (zero-norm vector or centroid) are mapped to −∞ so they never win —
    * without that, array_max's NaN-compares-greatest would pick a NaN
    * cell here while [[assignUdf]]'s strict > skips it, and assignment
    * would depend on nlist. */
  private[graft] def cellOf(emb: org.apache.spark.sql.Column,
      cents: Array[Array[Double]]): org.apache.spark.sql.Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(
        nanvl(Dedup.cosine(emb, array(c.map(lit): _*)),
          lit(Double.NegativeInfinity)).as("c"),
        lit(-i).as("ni"))
    }
    -array_max(array(scored: _*)).getField("ni")
  }

  /** Closure-UDF argmax assignment — arithmetic and tie rule identical to
    * [[cellOf]] (strict >, so the lowest cell index wins ties) but free to
    * plan: used for training iterations (centroids change per iteration,
    * so literal-embedding would Janino-compile fresh code each time) and
    * for large quantizers where cellOf's nlist-proportional codegen would
    * dominate wall-clock. */
  private[graft] def assignUdf(cents: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val frozen = cents.map(_.clone())
    udf { (emb: Seq[Double]) =>
      var best = 0
      var bestC = Double.NegativeInfinity
      var i = 0
      while (i < frozen.length) {
        val cvec = frozen(i)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < cvec.length) {
          dot += emb(j) * cvec(j); na += emb(j) * emb(j); nb += cvec(j) * cvec(j); j += 1
        }
        // NaN (zero-norm) → −∞, matching cellOf's nanvl: degenerate
        // vectors land in cell 0 on BOTH paths regardless of nlist
        val c0 = dot / (math.sqrt(na) * math.sqrt(nb))
        val cos = if (java.lang.Double.isNaN(c0)) Double.NegativeInfinity else c0
        if (cos > bestC) { bestC = cos; best = i }
        i += 1
      }
      best
    }
  }

  /** Closure-UDF nprobe probing for large quantizers — result order
    * identical to the small-quantizer reverse(sort_array) expression:
    * cos descending, ties by HIGHER cell index. */
  private[graft] def probeUdf(cents: Array[Array[Double]], nprobe: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val frozen = cents.map(_.clone())
    udf { (qemb: Seq[Double]) =>
      frozen.indices.map { i =>
        val cvec = frozen(i)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var j = 0
        while (j < cvec.length) {
          dot += qemb(j) * cvec(j); na += qemb(j) * qemb(j); nb += cvec(j) * cvec(j); j += 1
        }
        // NaN → −∞ like the expression path's nanvl, so degenerate
        // centroids sort LAST under both probe mechanisms
        val c0 = dot / (math.sqrt(na) * math.sqrt(nb))
        (if (java.lang.Double.isNaN(c0)) Double.NegativeInfinity else c0, i)
      }.sortBy { case (c, i) => (-c, -i) }.take(nprobe).map(_._2).toArray
    }
  }

  /** Deterministic Lloyd k-means over (a deterministic sample of) the
    * embeddings — the IVF coarse quantizer. Init = the `nlist` lowest-id
    * vectors; fixed `iters` iterations; assignment by max cosine (lowest
    * cell on ties); an emptied cell keeps its previous centroid. The
    * centroid table is a MODEL (nlist×dim doubles — like the LSH
    * hyperplanes), so collecting it per iteration is a tiny aggregate
    * collect, not a data collect; the per-iteration heavy work is one
    * broadcast-assign scan + one (cell, dim) mean shuffle. Training can
    * run on a `sampleMod`-strided sample — centroids only need the coarse
    * shape of the distribution, so at 1B vectors you train on ~1M. */
  def trainIvfCentroids(
      embeddings: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      nlist: Int = 16,
      iters: Int = 3,
      sampleMod: Long = 1L): Array[Array[Double]] = {
    val base = embeddings
      .select(col(idCol).cast("long").as("vec_id"), col(embCol).cast("array<double>").as("emb"))
    // few, fatter partitions: the training sample is small by design and
    // each Lloyd job is dominated by task-scheduling overhead otherwise
    val sample =
      (if (sampleMod > 1L) base.filter(col("vec_id") % sampleMod === 0) else base)
        .coalesce(8).cache()
    try {
      var cents: Array[Array[Double]] = sample.orderBy("vec_id").limit(nlist)
        .collect().map(_.getSeq[Double](1).toArray)
      require(cents.length == nlist, s"need >= $nlist vectors to init IVF")
      var it = 0
      while (it < iters) {
        // assignment via the closure-UDF path, NOT the codegen'd cellOf:
        // centroid values change every iteration, so literal-embedding
        // would generate (and Janino-compile) fresh code per iteration —
        // measured ~2 s/iteration of pure compilation. The UDF costs
        // nothing to plan, and training runs on a sample by design; the
        // one-time full-corpus assignment in ivfTopK uses codegen only
        // while the quantizer is small (see ivfTopKWithCentroids).
        val assign = assignUdf(cents)
        // assign BEFORE exploding: a projection inside the generate's select
        // list is re-evaluated once per exploded row (64× per vector); the
        // Generate barrier keeps the per-vector UDF at one call per vector
        val means = sample
          .select(col("emb"), assign(col("emb")).as("cell"))
          .select(col("cell"), posexplode(col("emb")).as(Seq("pos", "v")))
          .groupBy("cell", "pos").agg(avg("v").as("m"))
          .collect()
        val next = cents.map(_.clone())
        means.foreach { r =>
          next(r.getAs[Int]("cell"))(r.getAs[Int]("pos")) = r.getAs[Double]("m")
        }
        // a cell that captured nothing keeps its previous centroid (the
        // clone above) — the standard empty-cluster fallback
        cents = next
        it += 1
      }
      cents
    } finally sample.unpersist(false)
  }

  /** IVF top-k: brute-force cosine restricted to the `nprobe` cells whose
    * centroids are nearest the query. Same k-capped aggregation as the
    * other paths; the candidate set is the probed cells' contents —
    * N·nprobe/nlist expected, independent of the query count, and the
    * cell equijoin shuffles on cell id exactly like the LSH bucket join.
    * Recall vs brute force is validated in DedupSpec. */
  def ivfTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 3,
      iters: Int = 3,
      trainSampleMod: Long = 1L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame = {
    val cents = trainIvfCentroids(embeddings, idCol, embCol, nlist, iters, trainSampleMod)
    ivfTopKWithCentroids(embeddings, queries, k, cents, nprobe,
      idCol, embCol, queryIdCol, queryEmbCol)
  }

  /** SQL-replayable twin of [[ivfTopK]] (the lshTopKReplayable recipe on
    * the IVF path): the IDENTICAL search pipeline — same codegen'd cell
    * assignment, same nprobe centroid probing with its (cos desc, idx
    * desc) tie order, same cell equijoin and k-capped [[TopKAgg]] ranking
    * — through [[ivfTopKWithCentroids]], but with [[integerPlanes]] as
    * PINNED centroids instead of Lloyd-trained ones, so an oracle can
    * regenerate the quantizer from two loop indices and replay
    * assignment, probing, cosine, and rank exactly. Trained centroids can
    * only improve recall over these fixed random directions; the twin
    * pins the search machinery, which training does not change. */
  def ivfTopKReplayable(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      nlist: Int = 8,
      nprobe: Int = 3,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame =
    ivfTopKWithCentroids(embeddings, queries, k, integerPlanes(dim, nlist), nprobe,
      idCol, embCol, queryIdCol, queryEmbCol)

  /** IVF cell assignment as a standalone frame `(vec_id, emb, cell)` —
    * the materializable half of the index. At large nlist the per-vector
    * O(nlist·dim) assignment is the dominant map-side term of every
    * search (round-5 probe: it, not the candidate scan, moved the
    * wall-clock between nlist=256 and 512), so a real deployment computes
    * it ONCE and persists it next to the vectors — e.g.
    * `assignCells(e, cents).write.partitionBy("cell").parquet(...)` —
    * after which [[ivfTopKPreAssigned]] searches it with partition
    * pruning on the probed cells and no assignment scan at all.
    *
    * Assignment mechanism by quantizer size: the codegen'd cellOf embeds
    * every centroid as an array literal in ONE expression, so Janino
    * compile time grows with nlist — fine to ~16 cells, but a real IVF
    * (nlist in the thousands at 1B vectors) would spend minutes compiling
    * before the first row. Above the cutoff, a closure-UDF argmax with the
    * SAME arithmetic and tie rule (strict >, lowest cell wins; NaN → −∞)
    * costs nothing to plan; the per-row work is identical. */
  def assignCells(
      embeddings: DataFrame,
      cents: Array[Array[Double]],
      idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    requireNumericId(embeddings, idCol)
    val cellAssign: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (cents.length <= 16) emb => cellOf(emb, cents)
      else { val u = assignUdf(cents); emb => u(emb) }
    embeddings.select(
      col(idCol).cast("long").as("vec_id"),
      col(embCol).cast("array<double>").as("emb"))
      .withColumn("cell", cellAssign(col("emb")))
  }

  /** Materialize a cell-partitioned IVF index on disk: [[assignCells]]
    * under `cents`, repartitioned on `cell` so each cell directory gets
    * exactly one file per build (the banded-store file-fragmentation
    * lesson), written `partitionBy("cell")`. Search it with
    * [[ivfTopKPreAssigned]] over `spark.read.parquet(indexDir)` — the
    * probed-cell equijoin prunes to ~nprobe/nlist of the files. */
  def ivfIndexCreate(
      embeddings: DataFrame,
      cents: Array[Array[Double]],
      indexDir: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit =
    assignCells(embeddings, cents, idCol, embCol)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(indexDir)

  /** Incrementally ADD a batch of vectors to a persisted IVF index —
    * the update story every other standing structure here already has
    * (near-dup store, term-count store, postings): assign the batch to
    * the EXISTING centroids (one map-side pass over the BATCH only — the
    * corpus is never read) and append cell-partitioned, one file per
    * touched cell per batch. Search results over the grown index are
    * bit-identical to a from-scratch [[ivfIndexCreate]] over the union
    * corpus UNDER THE SAME CENTROIDS (assignment is a pure function of
    * (embedding, centroids); spec-pinned).
    *
    * The trade is quantizer STALENESS, not correctness: centroids stop
    * reflecting the data once the added distribution drifts, so cells
    * imbalance and recall@k vs brute decays — the round-10 add-batch
    * measurements (cost per add vs rebuild, recall drift vs retrain) are
    * in ARCHITECTURE.md.
    * Periodic retrain-and-rebuild is the compaction analogue: cheap
    * appends between rebuilds, a rebuild when the measured recall (or
    * cell-population skew) crosses the caller's floor. Appends also
    * accumulate one file per touched cell per batch — fold a rebuild in
    * before file listing dominates (same bound as the banded store's
    * compactEvery). */
  def ivfIndexAddBatch(
      batch: DataFrame,
      cents: Array[Array[Double]],
      indexDir: String,
      idCol: String = "vec_id",
      embCol: String = "embedding"): Unit =
    assignCells(batch, cents, idCol, embCol)
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(indexDir)

  /** Search a PRE-ASSIGNED cell frame (the [[assignCells]] schema:
    * vec_id, emb, cell) — the amortized form of [[ivfTopK]]: no
    * assignment pass over the corpus; when the frame is read from
    * cell-partitioned storage the probed-cell equijoin prunes partitions
    * so only ~nprobe/nlist of the corpus is scanned. */
  def ivfTopKPreAssigned(
      assigned: DataFrame,
      queries: DataFrame,
      k: Int,
      cents: Array[Array[Double]],
      nprobe: Int,
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame =
    searchCells(assigned, queries, k, cents, nprobe, queryIdCol, queryEmbCol)

  private[graft] def ivfTopKWithCentroids(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      cents: Array[Array[Double]],
      nprobe: Int,
      idCol: String,
      embCol: String,
      queryIdCol: String,
      queryEmbCol: String): DataFrame =
    searchCells(assignCells(embeddings, cents, idCol, embCol),
      queries, k, cents, nprobe, queryIdCol, queryEmbCol)

  private def searchCells(
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      cents: Array[Array[Double]],
      nprobe: Int,
      queryIdCol: String,
      queryEmbCol: String): DataFrame = {
    // nprobe nearest centroids per query: scored struct array, sorted
    // descending by (cos, idx), sliced — queries are small by contract.
    // Same nlist-proportional-codegen concern as assignment: large
    // quantizers probe via a closure UDF that replicates the
    // reverse(sort_array) order exactly (cos desc, ties idx desc).
    val qBase = queries
      .select(col(queryIdCol).as("query_id"), col(queryEmbCol).cast("array<double>").as("qemb"))
    val probeCells =
      if (cents.length <= 16) {
        val scoredCells = cents.zipWithIndex.map { case (c, i) =>
          struct(
            // nanvl: NaN (zero-norm) centroids must sort last, matching
            // probeUdf — sort_array would otherwise rank NaN greatest
            nanvl(Dedup.cosine(col("qemb"), array(c.map(lit): _*)),
              lit(Double.NegativeInfinity)).as("c"),
            lit(i).as("idx"))
        }
        slice(reverse(sort_array(array(scoredCells: _*))), 1, nprobe).getField("idx")
      } else probeUdf(cents, nprobe)(col("qemb"))
    val probed = qBase
      .withColumn("probe", probeCells)
      .select(col("query_id"), col("qemb"), explode(col("probe")).as("cell"))
    val topk = udaf(new TopKAgg(k))
    probed.join(data, "cell")
      .withColumn("cos", Dedup.cosine(col("emb"), col("qemb")))
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
      .groupBy("query_id")
      .agg(topk(col("vec_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.cos").as("cos"))
      .orderBy("query_id", "rank")
  }

  /** Mean-pool groups of vectors into one vector per group — e.g. chunk
    * embeddings (from `Packing.chunkByTokenBudget` → an encoder) pooled
    * into a document embedding, the standard long-document strategy.
    * Relational shape: posexplode to (group, pos, v), average per
    * position, re-assemble ordered — two position-keyed partial
    * aggregates, no vector-sized state in any single task, so arbitrary
    * group sizes pool without memory pressure. Ragged inputs average
    * positions over the vectors that HAVE them (documented; pass
    * fixed-dim vectors for the usual semantics). */
  def meanPoolEmbeddings(
      df: DataFrame,
      groupCol: String = "doc_id",
      embCol: String = "embedding"): DataFrame =
    df.select(col(groupCol),
        posexplode(col(embCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(groupCol, "pos")
      .agg(avg("v").as("m"), count(lit(1)).as("n"))
      .groupBy(groupCol)
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("embedding"),
        max("n").cast("long").as("n_pooled"))

  /** Append per-query recall@k vs an exact top-k result to an approximate
    * top-k frame: recall_at_k = |approx ∩ exact| / |exact| per query_id.
    * Both inputs are top-k outputs (Q·k rows — model-sized), so the
    * bookkeeping joins broadcast; the cost of attaching this to a
    * production query is the exact pass itself, which is the point — run
    * it on a bounded query probe so the driver can gate approximation
    * quality per round. */
  def withRecallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("vec_id")).withColumn("hit", lit(1))
    val perQuery = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val hits = approx.select("query_id", "vec_id")
      .join(ex, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id").agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
    val recall = hits.join(perQuery, "query_id")
      .select(col("query_id"), (col("n_hit") / col("n_exact")).as("recall_at_k"))
    approx.join(broadcast(recall), "query_id")
  }

  /** Approximate top-k: sign-LSH buckets with 1-bit multiprobe. Recall is
    * validated against the brute-force baseline in SimilaritySpec.
    *
    * Precondition: `idCol` values must be unique in `embeddings` — the
    * no-distinct candidate generation below counts on each vector living
    * in exactly one bucket, so duplicate ids yield duplicate (query, vec)
    * candidates (and duplicate top-k rows). */
  def lshTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      bits: Int = 10,
      seed: Long = 42L,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame =
    lshTopKWithPlanes(embeddings, queries, k, Dedup.hyperplanes(dim, bits, seed),
      idCol, embCol, queryIdCol, queryEmbCol)

  /** Deterministic INTEGER-coordinate hyperplanes for the replayable twin:
    * plane(j)(i) = ((2654435761·(j·dim + i + 1) + 97) mod 1000000007) −
    * 500000003, exact in a double (< 2^53), so a SQL engine can regenerate
    * the planes from two loop indices with BIGINT arithmetic and every
    * sign decision replays bit-for-bit (the dot product is the same
    * left-to-right IEEE double fold on both sides). Quality-wise the
    * coordinates are uniform on [−5e8, 5e8] — random-projection LSH only
    * needs symmetric direction sampling, not Gaussian coordinates. */
  private[graft] def integerPlanes(dim: Int, bits: Int): Array[Array[Double]] =
    Array.tabulate(bits)(j => Array.tabulate(dim)(i =>
      ((2654435761L * (j.toLong * dim + i + 1) + 97L) % 1000000007L - 500000003L).toDouble))

  /** SQL-replayable twin of [[lshTopK]] (the minhash/simhash twin recipe
    * applied to ANN): the IDENTICAL pipeline — same bucketing expression,
    * same bits+1 multiprobe, same no-distinct candidate equijoin, same
    * k-capped [[TopKAgg]] ranking — through [[lshTopKWithPlanes]], with
    * [[integerPlanes]] instead of seeded Gaussian planes so an oracle can
    * replay bucket assignment, cosine, and rank exactly. A structural
    * regression in the production path (bucketing, probing, ranking)
    * breaks this query's green row. */
  def lshTopKReplayable(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      dim: Int = 64,
      bits: Int = 10,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      queryIdCol: String = "query_id",
      queryEmbCol: String = "query_emb"): DataFrame =
    lshTopKWithPlanes(embeddings, queries, k, integerPlanes(dim, bits),
      idCol, embCol, queryIdCol, queryEmbCol)

  private def lshTopKWithPlanes(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      planes: Array[Array[Double]],
      idCol: String,
      embCol: String,
      queryIdCol: String,
      queryEmbCol: String): DataFrame = {
    requireNumericId(embeddings, idCol)
    val bits = planes.length
    val data = embeddings.select(
      col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("emb"),
      Dedup.lshBucket(col(embCol).cast("array<double>"), planes).as("bucket"))
    val qBase = queries.select(
      col(queryIdCol).as("query_id"),
      col(queryEmbCol).cast("array<double>").as("qemb"),
      Dedup.lshBucket(col(queryEmbCol).cast("array<double>"), planes).as("qbucket"))
    // multiprobe: exact bucket + every 1-bit flip
    val probes = (0 until bits).map(i => col("qbucket").bitwiseXOR(lit(1L << i))) :+ col("qbucket")
    val probed = qBase.select(col("query_id"), col("qemb"),
      explode(array(probes: _*)).as("bucket"))
    // No distinct needed: the bits+1 probe buckets of a query are pairwise
    // distinct values and each data vector lives in exactly one bucket, so
    // the equijoin cannot produce a (query, vec) pair twice — a distinct
    // here would only add a full extra exchange of the candidate set.
    // Ranking via the k-capped aggregator (see bruteForceTopK) keeps the
    // per-query state bounded regardless of candidate count.
    val topk = udaf(new TopKAgg(k))
    probed.join(data, "bucket")
      .withColumn("cos", Dedup.cosine(col("emb"), col("qemb")))
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
      .groupBy("query_id")
      .agg(topk(col("vec_id").cast("long"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.cos").as("cos"))
      .orderBy("query_id", "rank")
  }
}
