package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Panel

/** K12 — weighted forward binning, the reference's flagship operator
  * (weighted_bin_calculator.py:6-171).
  *
  * Per (ID1, ID2), events ordered by timestamp: for every event except the
  * last of its group (`:96-98` — the last row emits nothing), consume the
  * strictly-later events in order, pack their q1 mass into `maxBins` bins of
  * `binSize` units, splitting an event that straddles a boundary
  * proportionally (`:118-134`), and emit per bin the q2-weighted average of
  * the q1 mass that actually landed in the bin — a partial final bin divides
  * by its fill, not binSize (`:136-141`); untouched bins are NaN.
  *
  * Algorithm: the reference's per-row rescan is O(n²·bins) per group. Here:
  * one pass builds prefix sums C(k)=Σq1, W(k)=Σq1·q2; for row i bin b covers
  * absolute-mass [C(i+1)+b·s, C(i+1)+(b+1)·s), and its weighted sum is the
  * difference of the piecewise-linear interpolant of W in C-coordinates at
  * the bin edges. Because C(i+1) grows with i, each of the maxBins+1 edge
  * pointers only moves forward — amortized O(n·maxBins) per group, same
  * float semantics (verified bit-close against the reference on its own
  * fixtures, WeightedBinsSpec).
  *
  * Scale: one hash shuffle on (id1, id2); each group's events are
  * materialized in one task (inherent to a forward-looking scan); the
  * parallelism axis is group count. Ties on timestamp are broken by the
  * optional `tieCols` for determinism (the reference's unstable quicksort
  * makes tied-order implementation-defined — documented deviation Q2).
  */
// top-level (non-private) so Catalyst's generated projections can reach them.
// The timestamp travels through the kernel as LONG MICROS (r16, guide §2.3
// "narrower types"/§1.2 per-task work): TimestampType is 8-byte micros in
// Tungsten either way, but the java.sql.Timestamp field made the encoder run
// fromJavaTimestamp/toJavaTimestamp (+ a Timestamp allocation) per row on
// BOTH sides of the kernel boundary — ~2.4M conversions per sf0.1 run the
// kernel never reads. unix_micros on the way in / timestamp_micros on the
// way out are exact inverses on TimestampType, so values, group sort order
// (micros are monotone in the instant) and nulls (boxed Long) are untouched;
// WeightedBinsSpec's golden-parity cases and a dedicated micros round-trip
// spec pin it, and the hash-pinned driver oracle stays green at both SFs.
case class WbRow(id1: String, id2: String, ts: java.lang.Long,
    q1: Double, q2: Double, tie: Long)
case class WbOut(id1: String, id2: String, timestamp: java.lang.Long,
    tie: Long, quantity1: Double, quantity2: Double, bins: Array[Double])

object WeightedBins {

  /** Kernel on one time-sorted group; returns per-row bin averages
    * (NaN = untouched), dropping the last row. */
  private[graft] def binsForGroup(
      q1: Array[Double], q2: Array[Double], binSize: Double, maxBins: Int): Array[Array[Double]] = {
    val n = q1.length
    val c = new Array[Double](n + 1) // prefix q1 mass
    val w = new Array[Double](n + 1) // prefix q1·q2 mass
    var k = 0
    while (k < n) {
      // precondition: prefix mass C must be monotone for the forward-only
      // edge pointers and the piecewise-linear interpolation to be valid —
      // negative mass would silently diverge from the reference's
      // sequential consume-and-split semantics, so fail loudly instead
      require(q1(k) >= 0.0,
        s"weightedBins requires quantity1 >= 0 within each group; got ${q1(k)}")
      c(k + 1) = c(k) + q1(k); w(k + 1) = w(k) + q1(k) * q2(k); k += 1
    }
    val total = c(n)

    // W interpolated at absolute mass m, with j = max index s.t. C(j) <= m
    @inline def wat(m: Double, j: Int): Double =
      if (j >= n) w(n) else w(j) + (m - c(j)) * q2(j)

    val ptr = new Array[Int](maxBins + 1) // edge pointers, monotone in i
    val out = new Array[Array[Double]](math.max(n - 1, 0))
    var i = 0
    while (i < n - 1) {
      val base = c(i + 1)
      val row = new Array[Double](maxBins)
      var b = 0
      while (b <= maxBins) {
        val m = base + b * binSize
        var j = math.max(ptr(b), i + 1)
        while (j < n && c(j + 1) <= m) j += 1
        ptr(b) = j
        b += 1
      }
      b = 0
      while (b < maxBins) {
        val lo = base + b * binSize
        val hi = math.min(base + (b + 1) * binSize, total)
        val fill = hi - lo
        row(b) =
          if (fill > 0) (wat(hi, ptr(b + 1)) - wat(lo, ptr(b))) / fill
          else Double.NaN
        b += 1
      }
      out(i) = row
      i += 1
    }
    out
  }

  /** Streaming per-group kernel with bounded lookahead — the 100 TB-safe
    * form of [[binsForGroup]] (round-5 scale audit: `it.toArray` per group
    * OOMs on a viral key).
    *
    * Key fact: row i's bins only read the interpolant of W on the absolute-
    * mass interval [C(i+1), C(i+1) + maxBins·binSize] — so once the rows
    * read-ahead accumulate that much q1 mass past row i, row i's output is
    * fully determined and row i can be emitted and dropped. The pending
    * buffer therefore holds only the rows spanning `binSize·maxBins`
    * cumulative q1 mass (plus one straddler), NOT the whole group; a group
    * of any length streams through in bounded memory. (Degenerate case: a
    * long run of zero-mass rows never accumulates mass and is held to group
    * end — zero-mass rows contribute nothing to anyone's bins, but emission
    * order is preserved.)
    *
    * Float semantics are identical to [[binsForGroup]] — same prefix sums,
    * same interpolation expression, same monotone edge pointers — property-
    * tested bit-equal in WeightedBinsSpec.
    *
    * Input iterator must be sorted by (ts, tie) and contain exactly one
    * group; `emit` receives (row, groupIndex, bins). */
  private[graft] final class BoundedKernel(binSize: Double, maxBins: Int) {
    require(binSize > 0, s"binSize must be > 0, got $binSize")
    // pending rows: parallel ring via ArrayDeque — (row, cBefore, wBefore)
    private val pend = scala.collection.mutable.ArrayDeque.empty[(WbRow, Double, Double)]
    private var firstAbs = 0 // group-relative index of pend(0)
    private var cLast = 0.0  // C(navail): total q1 mass read so far
    private var wLast = 0.0
    private val ptr = new Array[Int](maxBins + 1) // absolute edge pointers, monotone
    private val bound = binSize * maxBins
    private var peak = 0
    /** High-water mark of the pending buffer — WeightedBinsSpec's evidence
      * that a viral key's task memory is bin-span-bounded, not
      * group-size-bounded. */
    def peakPending: Int = peak

    private def navail: Int = firstAbs + pend.size
    @inline private def cB(j: Int): Double = pend(j - firstAbs)._2
    @inline private def wB(j: Int): Double = pend(j - firstAbs)._3
    @inline private def q2At(j: Int): Double = pend(j - firstAbs)._1.q2
    // old-kernel c(k) = mass before row k; c(navail) = cLast
    @inline private def cIdx(k: Int): Double = if (k >= navail) cLast else cB(k)

    /** Compute and pop the head row's bins. Caller guarantees pend.size >= 2
      * and (bound satisfied or group finished). */
    private def emitHead(finished: Boolean): (WbRow, Int, Array[Double]) = {
      val i = firstAbs
      val (headRow, headCB, _) = pend.head
      val base = headCB + headRow.q1 // C(i+1)
      val row = new Array[Double](maxBins)
      var b = 0
      while (b <= maxBins) {
        val m = base + b * binSize
        var j = math.max(ptr(b), i + 1)
        while (j < navail && cIdx(j + 1) <= m) j += 1
        ptr(b) = j
        b += 1
      }
      @inline def wat(m: Double, j: Int): Double =
        if (j >= navail) wLast else wB(j) + (m - cB(j)) * q2At(j)
      b = 0
      while (b < maxBins) {
        val lo = base + b * binSize
        val hi =
          if (finished) math.min(base + (b + 1) * binSize, cLast)
          else base + (b + 1) * binSize // bound satisfied ⇒ ≤ cLast ≤ total
        val fill = hi - lo
        row(b) =
          if (fill > 0) (wat(hi, ptr(b + 1)) - wat(lo, ptr(b))) / fill
          else Double.NaN
        b += 1
      }
      pend.removeHead()
      firstAbs += 1
      (headRow, i, row)
    }

    /** Feed one row (in sorted order); returns any rows now emittable. */
    def push(r: WbRow): Iterator[(WbRow, Int, Array[Double])] = {
      require(r.q1 >= 0.0,
        s"weightedBins requires quantity1 >= 0 within each group; got ${r.q1}")
      pend.append((r, cLast, wLast))
      if (pend.size > peak) peak = pend.size
      cLast += r.q1; wLast += r.q1 * r.q2
      var acc = List.empty[(WbRow, Int, Array[Double])]
      // head emittable once read-ahead mass past it reaches the bin span
      while (pend.size >= 2 && cLast - (pend.head._2 + pend.head._1.q1) >= bound)
        acc ::= emitHead(finished = false)
      acc.reverseIterator
    }

    /** Group finished: flush every remaining row but the last (the last row
      * of a group emits nothing — reference :96-98). */
    def finish(): Iterator[(WbRow, Int, Array[Double])] = {
      var acc = List.empty[(WbRow, Int, Array[Double])]
      while (pend.size >= 2) acc ::= emitHead(finished = true)
      pend.clear()
      acc.reverseIterator
    }
  }

  /** Run the bounded kernel over one sorted group; returns bins per row
    * (same shape as [[binsForGroup]]) — used by the equivalence spec. */
  private[graft] def binsForGroupBounded(
      q1: Array[Double], q2: Array[Double], binSize: Double, maxBins: Int): Array[Array[Double]] = {
    val k = new BoundedKernel(binSize, maxBins)
    val ts = java.lang.Long.valueOf(0L)
    val out = Array.newBuilder[Array[Double]]
    var i = 0
    while (i < q1.length) {
      k.push(WbRow("a", "b", ts, q1(i), q2(i), i.toLong)).foreach(e => out += e._3)
      i += 1
    }
    k.finish().foreach(e => out += e._3)
    out.result()
  }

  /** DataFrame operator.
    *
    * Fails loudly (executor-side `require`) on any negative `q1Col` value:
    * negative mass breaks the monotone-prefix invariant the interpolation
    * depends on, and the alternative is silently wrong output. Callers with
    * possibly-negative quantities must pre-filter or validate upstream —
    * one bad row fails the whole job by design.
    *
    * `tieCols` break timestamp ties deterministically:
    * a single numeric column is used directly as the sort key (order-
    * preserving, so an external oracle can reproduce the ordering); multiple
    * columns are hashed into one long (deterministic but engine-specific). */
  def weightedBins(
      df: DataFrame,
      id1Col: String = "ID1",
      id2Col: String = "ID2",
      tsCol: String = "timestamp",
      q1Col: String = "quantity1",
      q2Col: String = "quantity2",
      binSize: Double = 100.0,
      maxBins: Int = 10,
      tieCols: Seq[String] = Seq(),
      emitTie: Boolean = false): DataFrame = {
    Panel.requireColumns(df, Seq(id1Col, id2Col, tsCol, q1Col, q2Col) ++ tieCols)
    val ss = df.sparkSession
    import ss.implicits._
    val tie: Column =
      if (tieCols.isEmpty) lit(0L)
      else if (tieCols.size == 1) {
        // direct cast ONLY for integral columns (order-preserving AND safe);
        // strings would throw CAST_INVALID_INPUT under ANSI and timestamps
        // would collapse sub-second ties to epoch seconds — hash those
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        df.schema(tieCols.head).dataType match {
          case ByteType | ShortType | IntegerType | LongType => col(tieCols.head).cast("long")
          case _ => xxhash64(col(tieCols.head))
        }
      } else xxhash64(tieCols.map(col): _*)
    val ds = df.select(
      col(id1Col).cast("string").as("id1"),
      col(id2Col).cast("string").as("id2"),
      unix_micros(col(tsCol).cast("timestamp")).as("ts"),
      col(q1Col).cast("double").as("q1"),
      col(q2Col).cast("double").as("q2"),
      tie.as("tie")).as[WbRow]
    // One hash shuffle on (id1, id2) + a SPILLABLE sort within partitions
    // (UnsafeExternalSorter), then a single streaming pass: groups arrive
    // contiguous and time-ordered, and BoundedKernel holds only the rows
    // spanning binSize·maxBins of q1 mass — task memory is bounded by the
    // bin span, not the group size, so a viral key streams instead of
    // OOMing (round-5 scale audit; the hot-key spec in WeightedBinsSpec).
    val result = ds
      .repartition(col("id1"), col("id2"))
      .sortWithinPartitions("id1", "id2", "ts", "tie")
      .mapPartitions { it =>
        new Iterator[WbOut] {
          private var kernel: BoundedKernel = null
          private var curKey: (String, String) = null
          private var outIt: Iterator[WbOut] = Iterator.empty
          private def toOut(key: (String, String))(e: (WbRow, Int, Array[Double])): WbOut =
            WbOut(key._1, key._2, e._1.ts, e._1.tie, e._1.q1, e._1.q2, e._3)
          private def advance(): Unit = {
            while (!outIt.hasNext && (it.hasNext || kernel != null)) {
              if (!it.hasNext) { // drain final group
                outIt = kernel.finish().map(toOut(curKey)); kernel = null
              } else {
                val r = it.next()
                val k = (r.id1, r.id2)
                if (kernel == null) { kernel = new BoundedKernel(binSize, maxBins); curKey = k }
                if (k != curKey) {
                  val flushed = kernel.finish().map(toOut(curKey))
                  kernel = new BoundedKernel(binSize, maxBins); curKey = k
                  val fresh = kernel.push(r).map(toOut(curKey))
                  outIt = flushed ++ fresh
                } else outIt = kernel.push(r).map(toOut(curKey))
              }
            }
          }
          override def hasNext: Boolean = { advance(); outIt.hasNext }
          override def next(): WbOut = { advance(); outIt.next() }
        }
      }
      .toDF()
    val binCols = (0 until maxBins).map(b => col("bins")(b).as(s"bin_${b + 1}_avg"))
    val tieCol = if (emitTie) Seq(col("tie")) else Seq()
    result.select(
      Seq(col("id1").as(id1Col), col("id2").as(id2Col),
        timestamp_micros(col("timestamp")).as(tsCol)) ++
        tieCol ++
        Seq(col("quantity1").as(q1Col), col("quantity2").as(q2Col)) ++ binCols: _*)
  }
}
