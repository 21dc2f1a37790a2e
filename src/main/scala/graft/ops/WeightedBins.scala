package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String
import graft.GraftExtensions
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
  * fixtures, WeightedBinsSpec). A row with a non-finite q2 adds nothing to W
  * and is counted in a third prefix P(k); a bin whose mass span consumes
  * such a row is NaN, so the NaN stays in the bins that touch it instead of
  * poisoning every later difference of W.
  *
  * Scale: the operator is one planned node ([[WeightedBinsNode]], run by
  * [[WeightedBinsExec]]). The exec requires `OrderedDistribution(id1, id2)`,
  * so Spark plans ONE range exchange, and child ordering (id1, id2, ts,
  * tie), so a spillable sort within partitions; each group lands whole in
  * one task (inherent to a forward-looking scan) and streams through
  * [[BoundedKernel]] in bin-span-bounded memory. The parallelism axis is
  * group count. The exec declares its output range-partitioned on (id1, id2)
  * and sorted by (id1, id2, ts, tie), so a downstream `orderBy(ID1, ID2,
  * timestamp[, tie])` plans neither an exchange nor a sort. The trade: the
  * range exchange samples its bounds in a job of its own, which re-reads
  * the input lineage back to its last exchange (for a table scan, the scan
  * itself) — one extra pass over the input, in place of a second shuffle of
  * the 16-column output and a global sort. Ties on timestamp are broken by
  * the optional `tieCols` for determinism (the reference's unstable
  * quicksort makes tied-order implementation-defined — documented deviation
  * Q2).
  */
object WeightedBins {

  private def requireMass(q1: Double, q1Col: String): Unit =
    // negative, NaN or infinite mass breaks the monotone finite prefix C that
    // the edge pointers and the interpolation depend on — the result would
    // silently diverge from the reference's consume-and-split semantics
    require(q1 >= 0.0 && q1 < Double.PositiveInfinity,
      s"weightedBins requires a finite quantity1 >= 0 within each group; column `$q1Col` has $q1")

  /** q2 as it enters W: a non-finite q2 contributes nothing there (its
    * bins are set NaN through the P prefix instead). */
  @inline private def wq2(q2: Double): Double = if (java.lang.Double.isFinite(q2)) q2 else 0.0

  /** Kernel on one time-sorted group; returns per-row bin averages
    * (NaN = untouched), dropping the last row. */
  private[graft] def binsForGroup(
      q1: Array[Double], q2: Array[Double], binSize: Double, maxBins: Int): Array[Array[Double]] = {
    val n = q1.length
    val c = new Array[Double](n + 1) // prefix q1 mass
    val w = new Array[Double](n + 1) // prefix q1·q2 mass
    val p = new Array[Int](n + 1)    // prefix count of non-finite q2
    var k = 0
    while (k < n) {
      requireMass(q1(k), "quantity1")
      c(k + 1) = c(k) + q1(k); w(k + 1) = w(k) + q1(k) * wq2(q2(k))
      p(k + 1) = p(k) + (if (java.lang.Double.isFinite(q2(k))) 0 else 1)
      k += 1
    }
    val total = c(n)

    // W interpolated at absolute mass m, with j = max index s.t. C(j) <= m
    @inline def wat(m: Double, j: Int): Double =
      if (j >= n) w(n) else w(j) + (m - c(j)) * wq2(q2(j))
    // the mass [lo, hi), lo in row jl and hi in row jh, consumes a non-finite q2
    @inline def poisoned(hi: Double, jl: Int, jh: Int): Boolean =
      p(jh) - p(jl) > 0 || (jh < n && hi > c(jh) && !java.lang.Double.isFinite(q2(jh)))

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
          if (fill > 0 && !poisoned(hi, ptr(b), ptr(b + 1)))
            (wat(hi, ptr(b + 1)) - wat(lo, ptr(b))) / fill
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
    * rows therefore span only `binSize·maxBins` cumulative q1 mass (plus
    * one straddler), NOT the whole group; a group of any length streams
    * through in bounded memory. (Degenerate case: a long run of zero-mass
    * rows never accumulates mass and is held to group end — zero-mass rows
    * contribute nothing to anyone's bins, but emission order is preserved.)
    *
    * Pending rows live in a ring of primitive arrays (q1, q2, the prefix
    * masses before the row, and the pass-through ts/tie with their null
    * bits), so a row costs no allocation. Float semantics are identical to
    * [[binsForGroup]] — same prefix sums, same interpolation expression,
    * same monotone edge pointers — property-tested bit-equal in
    * WeightedBinsSpec.
    *
    * Protocol, one group at a time in (ts, tie) order: [[push]] each row;
    * while [[ready]], [[emit]] and read the popped row from [[bins]] and the
    * `out*` fields; at group end [[finish]] and drain the same way (the last
    * row stays behind and emits nothing); [[reset]] before the next group. */
  private[graft] final class BoundedKernel(binSize: Double, maxBins: Int, q1Col: String = "quantity1") {
    require(binSize > 0, s"binSize must be > 0, got $binSize")

    /** Bin averages of the row the last [[emit]] popped (NaN = untouched). */
    val bins = new Array[Double](maxBins)
    /** Pass-through values of the row the last [[emit]] popped; `outNulls`
      * bit 1 = ts is null, bit 2 = tie is null. */
    var outQ1, outQ2 = 0.0
    var outTs, outTie = 0L
    var outNulls = 0

    // group-relative row j sits at slot (head + j - firstAbs) & (cap - 1)
    private var cap = 64
    private var q1s = new Array[Double](cap)
    private var q2s = new Array[Double](cap)
    private var cBs = new Array[Double](cap) // C before the row
    private var wBs = new Array[Double](cap) // W before the row
    private var pBs = new Array[Int](cap)    // P before the row
    private var tss = new Array[Long](cap)
    private var ties = new Array[Long](cap)
    private var nls = new Array[Byte](cap)
    private var head = 0
    private var size = 0
    private var firstAbs = 0 // group-relative index of the head row
    private var cLast = 0.0  // C(navail): total q1 mass read so far
    private var wLast = 0.0
    private var pLast = 0
    private var finished = false
    private val ptr = new Array[Int](maxBins + 1) // absolute edge pointers, monotone
    private val bound = binSize * maxBins
    private var peak = 0
    /** High-water mark of the pending rows — WeightedBinsSpec's evidence
      * that a viral key's task memory is bin-span-bounded, not
      * group-size-bounded. */
    def peakPending: Int = peak

    private def navail: Int = firstAbs + size
    @inline private def slot(j: Int): Int = (head + j - firstAbs) & (cap - 1)
    // old-kernel c(k) = mass before row k; c(navail) = cLast
    @inline private def cIdx(k: Int): Double = if (k >= navail) cLast else cBs(slot(k))
    @inline private def pIdx(k: Int): Int = if (k >= navail) pLast else pBs(slot(k))
    @inline private def wat(m: Double, j: Int): Double =
      if (j >= navail) wLast else { val s = slot(j); wBs(s) + (m - cBs(s)) * wq2(q2s(s)) }
    @inline private def poisoned(hi: Double, jl: Int, jh: Int): Boolean =
      pIdx(jh) - pIdx(jl) > 0 ||
        (jh < navail && hi > cBs(slot(jh)) && !java.lang.Double.isFinite(q2s(slot(jh))))

    /** Append one row of the current group (in sorted order). */
    def push(q1: Double, q2: Double, ts: Long, tie: Long, nulls: Int): Unit = {
      requireMass(q1, q1Col)
      if (size == cap) grow()
      val s = (head + size) & (cap - 1)
      q1s(s) = q1; q2s(s) = q2; cBs(s) = cLast; wBs(s) = wLast; pBs(s) = pLast
      tss(s) = ts; ties(s) = tie; nls(s) = nulls.toByte
      size += 1
      if (size > peak) peak = size
      cLast += q1; wLast += q1 * wq2(q2)
      if (!java.lang.Double.isFinite(q2)) pLast += 1
    }

    /** The head row's bins are determined: the read-ahead mass past it
      * reaches the bin span, or the group has ended. */
    def ready: Boolean =
      size >= 2 && (finished || cLast - (cBs(head) + q1s(head)) >= bound)

    /** The group has ended: every pending row but the last becomes ready. */
    def finish(): Unit = finished = true

    /** Start the next group. */
    def reset(): Unit = {
      head = 0; size = 0; firstAbs = 0
      cLast = 0.0; wLast = 0.0; pLast = 0
      java.util.Arrays.fill(ptr, 0)
      finished = false
    }

    /** Compute the head row's bins and pop it. Caller checks [[ready]]. */
    def emit(): Unit = {
      val i = firstAbs
      val h = head
      val base = cBs(h) + q1s(h) // C(i+1)
      var b = 0
      while (b <= maxBins) {
        val m = base + b * binSize
        var j = math.max(ptr(b), i + 1)
        while (j < navail && cIdx(j + 1) <= m) j += 1
        ptr(b) = j
        b += 1
      }
      b = 0
      while (b < maxBins) {
        val lo = base + b * binSize
        val hi =
          if (finished) math.min(base + (b + 1) * binSize, cLast)
          else base + (b + 1) * binSize // bound satisfied ⇒ ≤ cLast ≤ total
        val fill = hi - lo
        bins(b) =
          if (fill > 0 && !poisoned(hi, ptr(b), ptr(b + 1)))
            (wat(hi, ptr(b + 1)) - wat(lo, ptr(b))) / fill
          else Double.NaN
        b += 1
      }
      outQ1 = q1s(h); outQ2 = q2s(h); outTs = tss(h); outTie = ties(h); outNulls = nls(h)
      head = (h + 1) & (cap - 1)
      size -= 1
      firstAbs += 1
    }

    private def grow(): Unit = {
      val n = cap * 2
      def move[A: scala.reflect.ClassTag](a: Array[A]): Array[A] = {
        val r = new Array[A](n)
        var k = 0
        while (k < size) { r(k) = a((head + k) & (cap - 1)); k += 1 }
        r
      }
      q1s = move(q1s); q2s = move(q2s); cBs = move(cBs); wBs = move(wBs)
      pBs = move(pBs); tss = move(tss); ties = move(ties); nls = move(nls)
      head = 0
      cap = n
    }
  }

  /** Run the bounded kernel over one sorted group; returns bins per row
    * (same shape as [[binsForGroup]]) — used by the equivalence spec. */
  private[graft] def binsForGroupBounded(
      q1: Array[Double], q2: Array[Double], binSize: Double, maxBins: Int): Array[Array[Double]] = {
    val k = new BoundedKernel(binSize, maxBins)
    val out = Array.newBuilder[Array[Double]]
    def drain(): Unit = while (k.ready) { k.emit(); out += k.bins.clone() }
    var i = 0
    while (i < q1.length) {
      k.push(q1(i), q2(i), 0L, i.toLong, 0)
      drain()
      i += 1
    }
    k.finish()
    drain()
    out.result()
  }

  /** One partition of [[WeightedBinsExec]]: rows sorted by (id1, id2, ts,
    * tie) stream group by group through one reused [[BoundedKernel]] and
    * leave as UnsafeRows of (id1, id2, ts, tie, q1, q2, bin_1 … bin_maxBins).
    * `ords` are the input ordinals of those six columns. A null id is a key
    * value of its own: consecutive null ids form one group. */
  private[ops] final class BinsIterator(
      in: Iterator[InternalRow], ords: Array[Int], binSize: Double, maxBins: Int,
      q1Col: String, q2Col: String, numOut: SQLMetric) extends Iterator[InternalRow] {
    private val Array(o1, o2, oTs, oTie, oQ1, oQ2) = ords
    private val kernel = new BoundedKernel(binSize, maxBins, q1Col)
    private val writer = new UnsafeRowWriter(6 + maxBins)
    private var key1: UTF8String = null // the current group's ids (copied)
    private var key2: UTF8String = null
    private var inGroup = false
    private var held: InternalRow = null // first row of the next group, read while the current one drains
    private var primed = false

    override def hasNext: Boolean = primed || { primed = advance(); primed }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      primed = false
      numOut.add(1)
      writer.reset()
      writer.zeroOutNullBytes()
      if (key1 == null) writer.setNullAt(0) else writer.write(0, key1)
      if (key2 == null) writer.setNullAt(1) else writer.write(1, key2)
      if ((kernel.outNulls & 1) != 0) writer.setNullAt(2) else writer.write(2, kernel.outTs)
      if ((kernel.outNulls & 2) != 0) writer.setNullAt(3) else writer.write(3, kernel.outTie)
      writer.write(4, kernel.outQ1)
      writer.write(5, kernel.outQ2)
      var b = 0
      while (b < maxBins) { writer.write(6 + b, kernel.bins(b)); b += 1 }
      writer.getRow
    }

    /** Pop the next ready row into the kernel's outputs; false at the end. */
    private def advance(): Boolean = {
      while (!kernel.ready) {
        if (held == null && !in.hasNext) {
          if (!inGroup) return false
          kernel.finish(); inGroup = false
        } else {
          val r = if (held != null) held else in.next()
          held = null
          if (inGroup && !(sameKey(r, o1, key1) && sameKey(r, o2, key2))) {
            kernel.finish(); inGroup = false; held = r
          } else {
            if (!inGroup) {
              kernel.reset(); inGroup = true
              key1 = copyKey(r, o1); key2 = copyKey(r, o2)
            }
            push(r)
          }
        }
      }
      kernel.emit()
      true
    }

    private def push(r: InternalRow): Unit = {
      require(!r.isNullAt(oQ1), s"weightedBins requires a non-null quantity1; column `$q1Col` has a null")
      require(!r.isNullAt(oQ2), s"weightedBins requires a non-null quantity2; column `$q2Col` has a null")
      val tsNull = r.isNullAt(oTs)
      val tieNull = r.isNullAt(oTie)
      kernel.push(r.getDouble(oQ1), r.getDouble(oQ2),
        if (tsNull) 0L else r.getLong(oTs), if (tieNull) 0L else r.getLong(oTie),
        (if (tsNull) 1 else 0) | (if (tieNull) 2 else 0))
    }

    private def sameKey(r: InternalRow, o: Int, key: UTF8String): Boolean =
      if (r.isNullAt(o)) key == null else key != null && key == r.getUTF8String(o)

    private def copyKey(r: InternalRow, o: Int): UTF8String =
      if (r.isNullAt(o)) null else r.getUTF8String(o).clone()
  }

  /** DataFrame operator.
    *
    * Input policy (one row each in WeightedBinsSpec's policy table):
    *  - negative, NaN or ±Inf `q1Col` value: the task fails with a message
    *    naming `weightedBins` and the column. Such mass breaks the
    *    monotone finite prefix the interpolation depends on, and the
    *    alternative is silently wrong output; one bad row fails the whole
    *    job by design, so pre-filter or validate upstream.
    *  - null `q1Col` or `q2Col`: the task fails the same way.
    *  - NaN or ±Inf `q2Col`: kept as the row's own quantity; every bin whose
    *    mass span consumes that row is NaN, other bins are unaffected.
    *  - null `id1Col`/`id2Col`: null is a key value; its rows form a group.
    *  - null `tsCol`: sorts first within its group.
    *  - empty input: empty output; a single-row group emits no rows.
    *
    * `tieCols` break timestamp ties deterministically:
    * a single numeric column is used directly as the sort key (order-
    * preserving, so an external oracle can reproduce the ordering); multiple
    * columns are hashed into one long (deterministic but engine-specific).
    *
    * Output columns: `id1Col`, `id2Col`, `tsCol`, `tie` (with `emitTie`),
    * `q1Col`, `q2Col`, `bin_1_avg` … `bin_<maxBins>_avg`; range-partitioned
    * on the ids and sorted by (ids, timestamp, tie). Planning needs
    * [[WeightedBinsStrategy]], which the call attaches to the frame's
    * session ([[GraftExtensions.attachStrategies]]). */
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
    require(binSize > 0, s"binSize must be > 0, got $binSize")
    val ss = df.sparkSession
    GraftExtensions.attachStrategies(ss)
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
    val input = df.select(
      col(id1Col).cast("string").as(id1Col),
      col(id2Col).cast("string").as(id2Col),
      col(tsCol).cast("timestamp").as(tsCol),
      tie.as("tie"),
      col(q1Col).cast("double").as(q1Col),
      col(q2Col).cast("double").as(q2Col)).queryExecution.analyzed
    val Seq(id1, id2, ts, tieAttr, q1, q2) = input.output
    val bins = (1 to maxBins).map(b => AttributeReference(s"bin_${b}_avg", DoubleType, nullable = false)())
    val out = Bridge.ofRows(ss, WeightedBinsNode(id1, id2, ts, tieAttr, q1, q2, binSize, maxBins, bins, input))
    if (emitTie) out
    else out.select((Seq(id1, id2, ts, q1, q2) ++ bins).map(a => Bridge.column(a)): _*)
  }
}

/** Logical node of [[WeightedBins.weightedBins]]: the six input attributes
  * pass through, `bins` are produced here. Not pushed through by filters or
  * column pruning — every row of a group feeds the bins of earlier rows. */
case class WeightedBinsNode(
    id1: Attribute, id2: Attribute, ts: Attribute, tie: Attribute, q1: Attribute, q2: Attribute,
    binSize: Double, maxBins: Int, bins: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(id1, id2, ts, tie, q1, q2) ++ bins
  override def producedAttributes: AttributeSet = AttributeSet(bins)
  override protected def withNewChildInternal(c: LogicalPlan): WeightedBinsNode = copy(child = c)
}

/** Physical node of [[WeightedBins.weightedBins]] (see its "Scale:"
  * paragraph): requires its input range-partitioned on (id1, id2) and
  * sorted by (id1, id2, ts, tie), runs [[WeightedBins.BinsIterator]] per
  * partition, and keeps the input's partitioning and ordering — it only
  * drops each group's last row. */
case class WeightedBinsExec(
    id1: Attribute, id2: Attribute, ts: Attribute, tie: Attribute, q1: Attribute, q2: Attribute,
    binSize: Double, maxBins: Int, bins: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  private def inputs: Seq[Attribute] = Seq(id1, id2, ts, tie, q1, q2)
  private def groupOrder: Seq[SortOrder] = Seq(id1, id2).map(SortOrder(_, Ascending))

  override def output: Seq[Attribute] = inputs ++ bins
  override def producedAttributes: AttributeSet = AttributeSet(bins)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(groupOrder) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (groupOrder ++ Seq(ts, tie).map(SortOrder(_, Ascending))) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override lazy val metrics: Map[String, SQLMetric] =
    Map("numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val ords = inputs.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val (size, n, c1, c2) = (binSize, maxBins, q1.name, q2.name)
    val numOut = longMetric("numOutputRows")
    child.execute().mapPartitions(
      it => new WeightedBins.BinsIterator(it, ords, size, n, c1, c2, numOut),
      preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): WeightedBinsExec = copy(child = c)
}

/** Plans [[WeightedBinsNode]]. Registered through [[GraftExtensions]]; a
  * session without it fails planning with Spark's "No plan for …". */
object WeightedBinsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: WeightedBinsNode =>
      WeightedBinsExec(n.id1, n.id2, n.ts, n.tie, n.q1, n.q2, n.binSize, n.maxBins, n.bins,
        planLater(n.child)) :: Nil
    case _ => Nil
  }
}
