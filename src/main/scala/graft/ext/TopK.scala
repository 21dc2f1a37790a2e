package graft.ext

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.functions._

/** One scored candidate. Top-level (not nested/private) so Catalyst's
  * generated serializers can reach it. */
case class ScoredVec(vec_id: Long, cos: Double)

/** Bounded top-k aggregator over scored candidates: keeps at most k entries
  * per aggregation state, ordered by (cos desc, vec_id asc).
  *
  * This is the scale-path replacement for `row_number() OVER (PARTITION BY
  * query)` ranking: a global window funnels all N scored rows of a query
  * into one task, while this aggregator's partial states are k-capped, so
  * map-side combine reduces each input partition to ≤ k rows and the final
  * merge sees k·P rows instead of N — the difference between "works at 1M
  * vectors" and "works at 1B".
  *
  * State is a flat sorted array (cos desc, vec_id asc); k is small in top-k
  * search, so ordered insertion is O(k) — cheaper and allocation-lighter
  * than a heap at these sizes. Output is a relational array<struct>, so the
  * caller can posexplode it into (rank, vec_id, cos) rows.
  *
  * Contract: callers must pre-filter null ids / null or NaN scores — the
  * typed input deserializer asserts non-null primitives, and `better`'s
  * strict comparisons would silently drop NaN rows ([[TopK.rank]] filters
  * `cos IS NOT NULL AND NOT isnan(cos)`, mirrored in the oracle).
  */
class TopKAgg(k: Int) extends Aggregator[ScoredVec, Array[ScoredVec], Array[ScoredVec]] {
  require(k > 0, "k must be positive")

  private def better(a: ScoredVec, b: ScoredVec): Boolean =
    a.cos > b.cos || (a.cos == b.cos && a.vec_id < b.vec_id)

  def zero: Array[ScoredVec] = Array.empty

  def reduce(buf: Array[ScoredVec], x: ScoredVec): Array[ScoredVec] = {
    if (buf.length == k && !better(x, buf(k - 1))) return buf
    val out = new Array[ScoredVec](math.min(buf.length + 1, k))
    var i = 0
    var j = 0
    var placed = false
    while (j < out.length) {
      if (!placed && (i >= buf.length || better(x, buf(i)))) { out(j) = x; placed = true }
      else { out(j) = buf(i); i += 1 }
      j += 1
    }
    out
  }

  def merge(a: Array[ScoredVec], b: Array[ScoredVec]): Array[ScoredVec] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[ScoredVec](math.min(a.length + b.length, k))
    var i = 0
    var j = 0
    var o = 0
    while (o < out.length) {
      out(o) =
        if (j >= b.length || (i < a.length && better(a(i), b(j)))) { val v = a(i); i += 1; v }
        else { val v = b(j); j += 1; v }
      o += 1
    }
    out
  }

  def finish(buf: Array[ScoredVec]): Array[ScoredVec] = buf

  // ExpressionEncoder (not Kryo) for the buffer too: partial-merge state
  // stays a columnar array<struct> instead of opaque blobs, so wide
  // shuffles move packed rows rather than serialized Java objects.
  def bufferEncoder: Encoder[Array[ScoredVec]] = ExpressionEncoder[Array[ScoredVec]]()
  def outputEncoder: Encoder[Array[ScoredVec]] = ExpressionEncoder[Array[ScoredVec]]()
}

/** The exact top-k step every search method shares. */
object TopK {

  /** Rank a scored candidate frame `(query_id, vec_id, cos, …)` into
    * `(query_id, rank, vec_id: bigint, cos)`, at most `k` rows per query,
    * ordered by (query_id, rank). Rows with a null id or a null/NaN score
    * are dropped first (the [[TopKAgg]] contract); ties break by vec_id
    * ascending; rank starts at 1. The candidate generator (broadcast
    * scan, bucket or cell equijoin, ADC lookup) is the caller's; this
    * ranking is identical for all of them. */
  def rank(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    scored
      .filter(col("vec_id").isNotNull && col("cos").isNotNull && !isnan(col("cos")))
      .groupBy("query_id")
      .agg(topk(col("vec_id").cast("long"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "sv")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("sv.vec_id").as("vec_id"), col("sv.cos").as("cos"))
      .orderBy("query_id", "rank")
  }
}
