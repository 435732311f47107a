package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** A mergeable quantile summary: sorted tuples (v, rmin, rmax) where
  * [rmin, rmax] is a SOUND POSITIONAL rank interval — duplicates are
  * distinct positions under a fixed tie-broken order, and every kept
  * tuple's interval contains some position occupied by its value:
  * [rmin, rmax] ∩ [#{x<v}+1, #{x≤v}] ≠ ∅ (the Greenwald–Khanna
  * invariant, kept exactly sound under any merge order; positional
  * rather than per-distinct-value, because collapsing equal runs into
  * wide tuples makes dup-heavy inputs ε ≈ 0.5 summaries that deep
  * merge trees cannot recover from). `n` is the exact total count. */
final case class GkSummary(n: Long, vs: Array[Double],
    rmins: Array[Long], rmaxs: Array[Long]) {
  def size: Int = vs.length
}

object GkSummary {

  val empty: GkSummary =
    GkSummary(0L, Array.empty, Array.empty, Array.empty)

  /** Exact summary of a SORTED value buffer: one width-0 POSITIONAL
    * tuple per element — duplicates stay as distinct positions, so the
    * summary has zero hidden mass and zero slack (callers prune to m
    * immediately, which only opens the usual bounded gaps).
    *
    * Why positional, not run-collapsed: an earlier version emitted one
    * tuple per distinct value spanning its equal-run [first, last].
    * Sound, but a dup-heavy buffer then carries per-tuple width ≈ run
    * (one value repeated n times was ε = 0.5), and the GK combine
    * compounds per-tuple widths across a merge tree — deep EH folds
    * over dup-heavy quanta inflated every interval to ~0.9·n and tail
    * quantile queries collapsed to the extremes. The q311 sf1 leg,
    * where 10× copy scaling gives every (sec, value) multiplicity 10,
    * caught it. With width-0 positional tuples the only merge slack is
    * the pruned-gap term, restoring the merge-and-reduce
    * O(n·log(n/buf)/m) budget regardless of duplication. */
  def exact(sorted: Array[Double], len: Int): GkSummary = {
    val vs = new Array[Double](len)
    val rs = new Array[Long](len)
    var i = 0
    while (i < len) { vs(i) = sorted(i); rs(i) = (i + 1).toLong; i += 1 }
    GkSummary(len.toLong, vs, rs, rs.clone())
  }

  /** Sound merge (Greenwald–Khanna combine) over POSITIONAL tuples
    * with a CONSISTENT tie order — A's copies of a value precede B's
    * copies in the merged position space. For a tuple (v, rmin, rmax):
    *   from A (B's equal values count as AFTER it):
    *     rmin' = rmin + rminB(pred),  pred = largest B-tuple < v
    *     rmax' = rmax + (succ exists ? rmaxB(succ) − 1 : nB),
    *             succ = smallest B-tuple ≥ v
    *   from B (A's equal values count as BEFORE it):
    *     pred = largest A-tuple ≤ v, succ = smallest A-tuple > v.
    * pred under- and succ over-estimates the other side's mass before
    * the tuple's position, so soundness is preserved exactly under any
    * merge order. The tie consistency matters: with both passes using
    * strict <, two equal-heavy sides each count the other's copies as
    * after themselves, hiding the tie mass below every later merge's
    * pred bound — widths then grow by the tie counts. Two-pointer-free
    * (binary search per tuple); output sorted by (v, rmin), NOT yet
    * pruned. */
  def merge(a: GkSummary, b: GkSummary): GkSummary = {
    if (a.n == 0) return b
    if (b.n == 0) return a
    val na = a.size; val nb = b.size
    val vs = new Array[Double](na + nb)
    val rmins = new Array[Long](na + nb)
    val rmaxs = new Array[Long](na + nb)
    var o = 0
    // rebound(tup from X against side Y); tiesBefore: do Y's copies of
    // v count as before this tuple's position?
    def emit(v: Double, rmin: Long, rmax: Long, y: GkSummary, yn: Long,
        tiesBefore: Boolean): Unit = {
      // boundary index: first y-index the tuple sorts BEFORE —
      // lower_bound (first ≥ v) when y-ties are after, upper_bound
      // (first > v) when y-ties are before
      var lo = 0; var hi = y.size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val goRight = if (tiesBefore) y.vs(mid) <= v else y.vs(mid) < v
        if (goRight) lo = mid + 1 else hi = mid
      }
      val predAdd = if (lo > 0) y.rmins(lo - 1) else 0L
      val succAdd = if (lo < y.size) y.rmaxs(lo) - 1L else yn
      vs(o) = v; rmins(o) = rmin + predAdd; rmaxs(o) = rmax + succAdd
      o += 1
    }
    var i = 0
    while (i < na) { emit(a.vs(i), a.rmins(i), a.rmaxs(i), b, b.n, tiesBefore = false); i += 1 }
    var j = 0
    while (j < nb) { emit(b.vs(j), b.rmins(j), b.rmaxs(j), a, a.n, tiesBefore = true); j += 1 }
    val idx = (0 until (na + nb)).sortBy(t => (vs(t), rmins(t), rmaxs(t)))
    GkSummary(a.n + b.n, idx.map(vs(_)).toArray,
      idx.map(rmins(_)).toArray, idx.map(rmaxs(_)).toArray)
  }

  /** The exact summary of `vs` (sorted in place), pruned once to m. */
  def once(vs: Array[Double], m: Int): GkSummary = {
    java.util.Arrays.sort(vs)
    prune(exact(vs, vs.length), m)
  }

  /** Prune to ≤ m tuples: always keep the first and last (exact min and
    * max survive every prune), plus for each target rank
    * r_i = 1 + ⌊i·(n−1)/(m−1)⌋ the tuple whose midpoint 2·mid =
    * rmin+rmax is nearest to 2·r_i (integer math, lowest index on
    * ties — deterministic given the input summary). Pruning keeps a
    * SUBSET of tuples, so soundness is untouched; the rank gap between
    * kept neighbours grows by ≤ n/(m−1) per prune, and the level
    * discipline in [[GkQuantileAgg]] bounds prunes per element to
    * O(log(n/buf)) — total error O(n·log(n/buf)/m). */
  def prune(s: GkSummary, m: Int): GkSummary = {
    if (s.size <= m || m < 2) return s
    val keep = new java.util.TreeSet[Integer]()
    keep.add(0); keep.add(s.size - 1)
    var i = 1
    while (i < m - 1) {
      val r = 1L + i.toLong * (s.n - 1) / (m - 1)
      // binary search nearest midpoint to 2r
      var lo = 0; var hi = s.size - 1
      while (lo < hi) { // first index with rmin+rmax >= 2r
        val mid = (lo + hi) >>> 1
        if (s.rmins(mid) + s.rmaxs(mid) < 2 * r) lo = mid + 1 else hi = mid
      }
      var best = lo
      if (lo > 0 &&
          math.abs(s.rmins(lo - 1) + s.rmaxs(lo - 1) - 2 * r) <=
          math.abs(s.rmins(lo) + s.rmaxs(lo) - 2 * r)) best = lo - 1
      keep.add(best)
      i += 1
    }
    val out = new Array[Int](keep.size)
    val it = keep.iterator(); var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    GkSummary(s.n, out.map(s.vs(_)), out.map(s.rmins(_)), out.map(s.rmaxs(_)))
  }

  /** Rank query: the value of the tuple whose midpoint is nearest the
    * 1-based target rank (integer 2·mid vs 2·r arithmetic, lowest
    * index on ties) — the same rule the DataFrame-side estimator in
    * [[graft.operators.Sketches.gkQuantiles]] applies, so Scala
    * property tests and SQL gates share one definition. */
  def query(s: GkSummary, phi: Double): Double = {
    require(s.n > 0, "query on empty summary")
    val r = 1L + math.round(phi * (s.n - 1)).toLong
    var best = 0; var bestD = Long.MaxValue
    var i = 0
    while (i < s.size) {
      val d = math.abs(s.rmins(i) + s.rmaxs(i) - 2 * r)
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    s.vs(best)
  }
}

/** Aggregation state: a raw value buffer plus level-structured
  * summaries (binomial carry): a full buffer becomes an exact summary
  * at level 0; two summaries at the same level merge, prune to m, and
  * promote — so a summary at level i covers ≥ bufCap·2^i values and
  * any single element survives only O(log(n/bufCap)) prunes. That is
  * the whole difference between merge-and-reduce error
  * O(n·log(n/buf)/m) and the naive incremental-merge blowup O(n²/(buf·m)). */
final class GkState(val bufCap: Int, val m: Int) {
  var buf: Array[Double] = new Array[Double](bufCap)
  var bufLen: Int = 0
  var levels: ArrayBuffer[GkSummary] = ArrayBuffer.empty

  def insert(v: Double): Unit = {
    buf(bufLen) = v; bufLen += 1
    if (bufLen == bufCap) flush()
  }

  def flush(): Unit = {
    if (bufLen == 0) return
    carry(0, GkSummary.once(java.util.Arrays.copyOf(buf, bufLen), m))
    bufLen = 0
  }

  /** Set level `l` (a decoded or restored level structure). */
  def place(l: Int, s: GkSummary): Unit = {
    while (levels.length <= l) levels += GkSummary.empty
    levels(l) = s
  }

  def carry(level: Int, s: GkSummary): Unit = {
    var l = level; var cur = s
    while (l < levels.length && levels(l).n > 0) {
      cur = GkSummary.prune(GkSummary.merge(levels(l), cur), m)
      levels(l) = GkSummary.empty
      l += 1
    }
    place(l, cur)
  }

  def mergeIn(other: GkState): Unit = {
    other.flush()
    var l = 0
    while (l < other.levels.length) {
      if (other.levels(l).n > 0) carry(l, other.levels(l))
      l += 1
    }
  }

  /** Collapse everything into one summary pruned to m. */
  def result(): GkSummary = {
    flush()
    var acc = GkSummary.empty
    var l = 0
    while (l < levels.length) {
      if (levels(l).n > 0) acc = GkSummary.prune(GkSummary.merge(acc, levels(l)), m)
      l += 1
    }
    acc
  }
}

/** Mergeable quantile sketch as a custom Catalyst aggregate — the
  * fourth member of the sketch family beside the KMV distinct-count
  * sketch ([[KmvMinValues]]), the Misra–Gries frequent-items summary
  * ([[MisraGriesSummary]]) and the count-min point-query sketch:
  * a bounded set of (value, rank-interval) tuples answering ANY
  * quantile after the fact, mergeable across sources/hours/shards
  * (Greenwald–Khanna SIGMOD'01 intervals; Munro–Paterson '80
  * merge-and-reduce; Agarwal et al. PODS'12 mergeable summaries).
  *
  * Why it earns its place at 100 TB: `approx_percentile` (q48) is an
  * engine-private one-shot — its state can't be published, rolled up
  * hour→day, or re-queried at a new φ without rescanning. This sketch
  * is a mergeable OBJECT: per-partition state is ≤ O(m·log(n/buf))
  * tuples on the ordinary partial-aggregation path, per-source
  * sketches union by re-folding, and the published summary answers the
  * whole quantile grid.
  *
  * Guarantees (ANY partitioning / merge order; N = group count):
  *   - n is EXACT;
  *   - the min and max are EXACT (first/last survive every prune);
  *   - every kept tuple's interval is SOUND: rmin ≤ #{x < v}+1 ≤ rmax;
  *   - rank error of a φ-query ≤ N·(levels+1)/(m−1) with
  *     levels = ⌈log2(N/bufCap)⌉ + merge carries — O(N·log N/m).
  * The KEPT SET is merge-order-dependent inside those bounds (like
  * Misra–Gries, unlike KMV), so gates hash-check the guarantees
  * against exact ranks, not the raw tuples; GkQuantileSpec
  * property-tests soundness and the error bound across repartitionings.
  *
  * Nulls/NaNs are dropped (an agg ignoring nulls; NaN has no rank).
  * Output: struct<n: long, tuples: array<struct<v, rmin, rmax>>>
  * sorted by (v, rmin), ≤ m tuples.
  */
case class GkQuantileAgg(
    valueExpr: Expression,
    m: Int,
    bufCap: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends GkAgg(m, bufCap) {

  override def child: Expression = valueExpr

  override def update(buf: GkState, input: InternalRow): GkState =
    family.insert(buf, valueExpr.eval(input).asInstanceOf[java.lang.Double])

  override def withNewMutableAggBufferOffset(newOffset: Int): GkQuantileAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GkQuantileAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GkQuantileAgg =
    copy(valueExpr = newChild)
}

/** The two GK aggregates' shared base: one GK family over one child. */
abstract class GkAgg(m: Int, bufCap: Int)
  extends SketchAgg[GkState, GkSketch](GkSketch(m, bufCap)) with UnaryLike[Expression]

/** Merge ALREADY-BUILT [[GkQuantileAgg]] summaries — the roll-up
  * aggregate that makes the sketch a first-class mergeable OBJECT:
  * per-hour sketches fold into a day sketch (or per-source into a
  * corpus one) WITHOUT rescanning raw values, exactly the KMV re-fold
  * capability but for quantiles. Each input summary enters the level
  * structure at its size-matched level ([[GkSketch.carry]]) so the
  * equal-size merge discipline (and with it the O(log)
  * prune-per-element bound) is preserved across roll-up stages.
  * Soundness of every interval is untouched by merging, so the
  * rolled-up sketch carries the same guarantees as a direct build —
  * the q287-style merge≡direct gate law. Same family, state, result
  * and wire format as [[GkQuantileAgg]]. */
case class GkMergeAgg(
    sketchExpr: Expression,
    m: Int,
    bufCap: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends GkAgg(m, bufCap) {

  override def child: Expression = sketchExpr

  override def update(buf: GkState, input: InternalRow): GkState = {
    val raw = sketchExpr.eval(input)
    if (raw == null) buf
    else family.carry(buf, GkSketch.fromRow(raw.asInstanceOf[InternalRow]))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GkMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GkMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): GkMergeAgg =
    copy(sketchExpr = newChild)
}

/** The GK family's algebra over the level structure [[GkState]]: the
  * two aggregates above, the EH bucket merge
  * ([[graft.operators.SlidingSketches.gkSlidingEstimates]]) and the
  * monitor's prefold and fold ([[graft.streaming.SlidingMonitor]]) all
  * go through it. */
final case class GkSketch(m: Int, bufCap: Int) extends AggSketch[GkState] {
  require(m >= 16 && m <= 65536, s"summary size out of range: $m")
  require(bufCap >= m && bufCap <= (1 << 20), s"bufCap out of range: $bufCap")

  def empty(): GkState = new GkState(bufCap, m)

  /** One value; NULL and NaN have no rank and drop
    * ([[GkSketch.ranks]]). */
  def insert(s: GkState, v: java.lang.Double): GkState = {
    if (GkSketch.ranks(v)) s.insert(v)
    s
  }

  /** An already-built summary enters at level ⌈log2(n/bufCap)⌉, so a
    * summary at level i still covers ≥ bufCap·2^i values; an empty one
    * is a no-op. */
  def carry(s: GkState, sk: GkSummary): GkState = {
    if (sk.n > 0) {
      var l = 0
      var c = bufCap.toLong
      while (c < sk.n && l < 62) { c <<= 1; l += 1 }
      s.carry(l, sk)
    }
    s
  }

  def merge(a: GkState, b: GkState): GkState = {
    a.flush()
    a.mergeIn(b)
    a
  }

  /** Flat summaries merged and pruned to m: the EH bucket merge. */
  def mergeSummaries(a: GkSummary, b: GkSummary): GkSummary =
    GkSummary.prune(GkSummary.merge(a, b), m)

  def result(s: GkState): GkSummary = s.result()

  /** Live levels only: (level, n, size, size × (v, rmin, rmax)); m and
    * bufCap travel in the expression. */
  def encode(s: GkState): Array[Byte] = {
    s.flush()
    val live = s.levels.zipWithIndex.filter(_._1.n > 0)
    val bb = ByteBuffer.allocate(4 + live.map(_._1.size * 24 + 16).sum)
    bb.putInt(live.size)
    live.foreach { case (sk, l) =>
      bb.putInt(l); bb.putLong(sk.n); bb.putInt(sk.size)
      var i = 0
      while (i < sk.size) {
        bb.putDouble(sk.vs(i)); bb.putLong(sk.rmins(i)); bb.putLong(sk.rmaxs(i))
        i += 1
      }
    }
    bb.array()
  }

  def decode(bytes: Array[Byte]): GkState = {
    val bb = ByteBuffer.wrap(bytes)
    val st = empty()
    var li = bb.getInt
    while (li > 0) {
      val l = bb.getInt; val n = bb.getLong; val sz = bb.getInt
      val vs = new Array[Double](sz)
      val rmins = new Array[Long](sz)
      val rmaxs = new Array[Long](sz)
      var i = 0
      while (i < sz) {
        vs(i) = bb.getDouble; rmins(i) = bb.getLong; rmaxs(i) = bb.getLong
        i += 1
      }
      st.place(l, GkSummary(n, vs, rmins, rmaxs))
      li -= 1
    }
    st
  }

  def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("tuples", ArrayType(StructType(Seq(
      StructField("v", DoubleType, nullable = false),
      StructField("rmin", LongType, nullable = false),
      StructField("rmax", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  /** struct<n, tuples> of [[result]], tuples sorted by (v, rmin). */
  def value(s: GkState): Any = {
    val sk = result(s)
    InternalRow(sk.n, new GenericArrayData(
      Array.tabulate[Any](sk.size)(i => InternalRow(sk.vs(i), sk.rmins(i), sk.rmaxs(i)))))
  }
}

object GkSketch {
  /** The buffer size the column builders and the monitor use. */
  def apply(m: Int): GkSketch = GkSketch(m, math.max(2048, m))

  /** The family's row rule: a value has a rank unless NULL or NaN. */
  def ranks(v: java.lang.Double): Boolean = v != null && !v.isNaN

  /** A [[GkSketch.value]] struct read back into a summary. */
  def fromRow(row: InternalRow): GkSummary = {
    val arr = row.getArray(1)
    val sz = arr.numElements()
    val vs = new Array[Double](sz)
    val rmins = new Array[Long](sz)
    val rmaxs = new Array[Long](sz)
    var i = 0
    while (i < sz) {
      val t = arr.getStruct(i, 3)
      vs(i) = t.getDouble(0); rmins(i) = t.getLong(1); rmaxs(i) = t.getLong(2)
      i += 1
    }
    GkSummary(row.getLong(0), vs, rmins, rmaxs)
  }
}
