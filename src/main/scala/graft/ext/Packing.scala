package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing: assign documents to fixed-token-budget packs — the
  * step that turns a filtered/deduped corpus into training batches.
  *
  * Semantics are BUDGET packing over a deterministic document order: pack
  * p holds the docs whose PRECEDING cumulative token count lies in
  * [p·capacity, (p+1)·capacity). A doc that straddles a boundary belongs
  * to the pack its first token falls in, so packs can overflow by at most
  * one document — the convention of streaming sequence packers, and (unlike
  * first-fit bin packing) a pure prefix-sum: one window pass, no
  * sequential fold, embarrassingly parallel per group and replayable in
  * ANSI SQL (the q_pack_docs oracle). */
object Packing {

  /** Add `pack_id` (0-based, per group) by cumulative token budget.
    * `orderCol` fixes the packing order (deterministic — never rely on
    * input order at scale); `groupCol` packs each group independently
    * (e.g. per language), `None` packs the whole corpus as one sequence
    * — fine for budget arithmetic but serializes the window, so prefer a
    * group key at scale. */
  def packByTokenBudget(df: DataFrame, tokenCol: String, orderCol: String,
      capacity: Long, groupCol: Option[String] = None): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    import org.apache.spark.sql.expressions.Window
    val base = groupCol.map(g => Window.partitionBy(col(g)))
      .getOrElse(Window.partitionBy())
    val w = base.orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("pack_id",
      floor((sum(col(tokenCol)).over(w) - col(tokenCol)) / lit(capacity)).cast("long"))
  }

  /** Split long documents into overlapping token-window chunks — the
    * complement of packing (packing merges short docs into a budget;
    * chunking cuts long docs down to one): chunk c starts at token
    * c·(maxTokens − overlap) and carries up to `maxTokens` tokens, the
    * last `overlap` of which repeat the previous chunk's tail so no
    * context is lost at a boundary. A trailing window that would add no
    * NEW tokens (it lies entirely inside the previous chunk's overlap)
    * is not emitted; docs of ≤ maxTokens tokens yield exactly
    * themselves. Pure codegen'd array expressions over the token split —
    * shuffle-free, row-local, replayable in ANSI SQL
    * (q_chunk_docs). */
  def chunkByTokenBudget(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val toks = Dedup.tokens(col(textCol))
    val n = size(toks)
    val starts = filter(
      sequence(lit(0), greatest(n - 1, lit(0)), lit(step)),
      s => s === 0 || s + lit(overlap) < n)
    docs
      // null text → no chunks (size(null) = -1 would otherwise fabricate
      // one row with null text and a negative token count; the SQL twin
      // emits nothing for a NULL token list — keep them agreeing)
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), toks.as("__toks"), n.as("__n"),
        posexplode(starts).as(Seq("chunk_id", "__start")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(maxTokens)), " ")
          .as("chunk_text"),
        least(lit(maxTokens), col("__n") - col("__start")).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Per-pack summary (doc count, token sum) — the shape a batch loader
    * consumes; also the oracle surface. */
  def packSummary(packed: DataFrame, tokenCol: String,
      groupCol: Option[String] = None): DataFrame = {
    val keys: Seq[Column] = groupCol.map(col).toSeq :+ col("pack_id")
    packed.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("sum_tokens"))
  }

  /** Content-defined chunking (the rolling-hash boundary rule of rsync /
    * LBFS, Muthitacharoen 2001, applied at token granularity): a chunk
    * boundary falls AFTER token i whenever the Karp–Rabin hash of the
    * `gramTokens`-token gram ENDING at i is ≡ 0 (mod `divisor`) — so
    * boundaries are a function of LOCAL content only, and an insertion
    * near a doc's head re-synchronizes after ~gramTokens tokens instead
    * of shifting every downstream boundary the way fixed-width chunking
    * ([[chunkByTokenBudget]]) does. That stability is the point for a
    * dedup pipeline: near-identical docs produce near-identical chunk
    * SETS, so chunk-level exact-hash dedup catches shared content.
    * Expected chunk length ≈ `divisor` tokens (geometric).
    *
    * Spark shape: one (doc, pos)-windowed pass; each token is char-level
    * Karp–Rabin-hashed ONCE ([[TextStats.rollingHash]]) and the gram
    * hash is an O(1) BIGINT fold over the `gramTokens` trailing token
    * hashes from lag columns (h ← (h·257 + tokHash) mod 1e9+7) — NOT a
    * per-position re-scan of the gram string, which costs Θ(gram chars)
    * per position and measured 5× the wall at 10× sf0.1
    * (ARCHITECTURE.md round-9 ledger). The chunk id is an exclusive
    * prefix sum of boundary flags over the same window; reassembly is a
    * (doc, chunk)-keyed aggregate bounded by the doc's own length. All
    * arithmetic is plain BIGINT mul/mod, replayable in ANSI SQL
    * (q_cdc_chunks_docs replays every boundary decision).
    *
    * No min/max chunk-size clamps (classic CDC adds them): the clamp
    * decision is inherently sequential along the doc and would forfeit
    * the pure-window shape; compose with [[chunkByTokenBudget]] to cap
    * oversized chunks. Docs shorter than `gramTokens` form one chunk;
    * null text yields no rows. Output (idCol, chunk_id, start_pos,
    * n_tokens, chunk_text); concatenating a doc's chunks in chunk order
    * reproduces its token stream exactly (lossless partition). */
  def contentDefinedChunks(docs: DataFrame, gramTokens: Int = 4,
      divisor: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(gramTokens >= 1, s"gramTokens must be >= 1, got $gramTokens")
    require(divisor >= 1, s"divisor must be >= 1, got $divisor")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tokHashes = (gramTokens - 1 to 1 by -1)
      .map(j => lag(col("__th"), j).over(w)) :+ col("__th")
    val gramHash = tokHashes.reduceLeft((acc, c) =>
      (acc * lit(257L) + c) % lit(1000000007L))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "tok")))
      .withColumn("__th", TextStats.rollingHash(col("tok")))
      .withColumn("__b",
        when(col("pos") >= gramTokens - 1 &&
          pmod(gramHash, lit(divisor.toLong)) === 0, 1L)
          .otherwise(0L))
      .withColumn("chunk_id", coalesce(
        sum("__b").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(min("pos").cast("long").as("start_pos"),
        count(lit(1)).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("chunk_text"))
  }
}
