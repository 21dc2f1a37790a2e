package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
  * PageRank over the corpus-wide term co-occurrence graph. The
  * training-data-pipeline use is corpus characterization and
  * keyword/topic surfacing — what a crawl slice is "about" — the same
  * graph-centrality family Common Crawl uses to rank hosts (harmonic
  * centrality) applied to the term graph.
  *
  * Graph: vertices are corpus terms (tokenized by the library's shared
  * whitespace convention, filtered to length ≥ `minTermLen` — the
  * POS-filter stand-in); an undirected edge {a, b} with weight =
  * co-occurrence count joins terms appearing within `window` positions
  * of each other in the FILTERED token sequence of any document
  * (self-pairs from a repeated word are dropped). Scores follow the
  * weighted-PageRank recursion of the paper, damping d:
  *
  *   s(v) ← (1 − d) + d · Σ_{u ~ v} w(u,v) / Σ_x w(u,x) · s(u)
  *
  * from s ≡ 1, run a FIXED `iters` steps (not to convergence — fixed
  * unrollable work is what makes the trainer hard-oracle-able, the
  * [[Classifier]] lesson), with the score vector quantized to 1e-6
  * after every step so both engines carry bit-identical state into the
  * next iteration regardless of float summation order.
  *
  * Spark shape, and why it scales:
  *   - pair extraction is ONE (doc, pos)-partitioned window pass: the
  *     `window` forward neighbors are gathered per row as an array of
  *     `lead`s and exploded — no positional self-join, work linear in
  *     window · tokens;
  *   - the undirected edge list is a map-combinable groupBy on the
  *     canonical (least, greatest) pair; it is then mirrored into both
  *     directions and joined with per-source weight sums — all term- or
  *     pair-keyed aggregates, never all-pairs;
  *   - each PageRank step is one join of the Ckpt-pinned edge frame
  *     with the vocabulary-sized score frame on `src` plus a dst-keyed
  *     aggregate. A stopword hub term skews only the probe side of that
  *     join (the score side carries ONE row per term) — the AQE
  *     skew-split shape, same as the tf-idf idf join;
  *   - driver round-trips scale with ITERATIONS only; every per-
  *     iteration frame is vocabulary-sized, nothing is collected.
  *
  * Terms that never co-occur (documents with a single surviving token)
  * have no edges and are absent from the ranking, as in the paper.
  *
  * Reference scope note: the reference engine has no graph operators;
  * this is part of the §7.4 LLM-pipeline extension surface
  * (`DataFrameUtils` has no counterpart file).
  */
object TextRank {

  private def quant(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** Directed co-occurrence edge frame (src, dst, w, out_w): both
    * orientations of every undirected edge, with the source's total
    * incident weight attached (the PageRank normalizer). */
  def cooccurrenceEdges(docs: DataFrame, window: Int = 2, minTermLen: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minTermLen >= 1, s"minTermLen must be >= 1, got $minTermLen")
    val seq0 = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "term")))
      .filter(length(col("term")) >= minTermLen)
    val w = Window.partitionBy("doc_id").orderBy("pos")
    // the `window` forward neighbors as one array → one window pass
    val pairs = seq0
      .withColumn("ys", array((1 to window).map(j => lead(col("term"), j).over(w)): _*))
      .select(col("term").as("x"), explode(col("ys")).as("y"))
      .filter(col("y").isNotNull && col("x") =!= col("y"))
    val und = pairs
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
    val dir = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val outW = dir.groupBy("src").agg(sum("w").as("out_w"))
    dir.join(outW, "src")
  }

  /** Per-term TextRank scores (term, rank_score) after `iters` quantized
    * weighted-PageRank steps over [[cooccurrenceEdges]]. */
  def textRankScores(docs: DataFrame, window: Int = 2, iters: Int = 10,
      damping: Double = 0.85, minTermLen: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val edges = graft.core.Ckpt.pin(
      cooccurrenceEdges(docs, window, minTermLen, idCol, textCol)
        .withColumn("ratio", col("w") / col("out_w"))
        .select("src", "dst", "ratio"))
    var scores = edges.select(col("src").as("term")).distinct()
      .withColumn("rank_score", lit(1.0))
    // Pin every FOURTH round, never the last: each eager localCheckpoint
    // is a sequential driver job (~50-90 ms of pure scheduling at bench
    // scale — r15 job profile), while the unrolled plan between pins grows
    // only LINEARLY (scores appears once per round), so a 4-round segment
    // stays small and AQE picks the broadcast join from the real runtime
    // size of each round's aggregate. Values are bit-identical — pinning
    // never changes an expression, only where the plan is cut (spec-pinned
    // by the unchanged q_textrank oracle).
    var it = 0
    while (it < iters) {
      val next = edges.join(scores.withColumnRenamed("term", "src"), "src")
        .groupBy(col("dst").as("term"))
        .agg(quant(lit(1.0 - damping) +
          lit(damping) * sum(col("ratio") * col("rank_score"))).as("rank_score"))
      it += 1
      scores =
        if (it < iters && it % 4 == 0) graft.core.Ckpt.pin(next) else next
    }
    scores
  }

  /** Top-k corpus keywords with the library's deterministic tie rule
    * (score descending — already 1e-6-quantized — then term ascending). */
  def topKeywords(docs: DataFrame, k: Int, window: Int = 2, iters: Int = 10,
      damping: Double = 0.85, minTermLen: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    textRankScores(docs, window, iters, damping, minTermLen, idCol, textCol)
      .orderBy(col("rank_score").desc, col("term").asc)
      .limit(k)
  }
}
