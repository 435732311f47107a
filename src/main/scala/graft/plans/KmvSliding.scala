package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** SLIDING-WINDOW KMV distinct-count state — the time-decayed member
  * of the sketch family (KMV answers "distinct ever"; this answers
  * "distinct active since ANY t" from one bounded state, the
  * dashboard's last-hour/last-day distinct-users panel at 100 TB with
  * zero rescans). The classic suffix-minima construction (Datar et
  * al.'s sliding-window spirit applied to bottom-k; Gibbons–Tirthapura
  * distinct-window sketches):
  *
  * Keep, per distinct hash h, its LATEST arrival time ts(h); prune h
  * whenever ≥ k smaller hashes have ts ≥ ts(h). The kept set is then
  * EXACTLY {h : h is among the k smallest hashes of some suffix
  * window} — so for ANY window start t, the k smallest kept hashes
  * with ts ≥ t are EXACTLY the KMV sketch of the elements seen since
  * t (an element's distinct identity is "active in window" iff its
  * latest arrival ≥ t). Not an approximation of the window sketch —
  * the window sketch itself, for every t simultaneously.
  *
  * Determinism (the KMV property, inherited): the kept set is a pure
  * function of the (hash → latest ts) relation — independent of
  * partitioning, arrival order, duplication, and merge order. Pruning
  * is SAFE under partial views: if h was pruned locally, its ≥ k
  * smaller later-or-equal witnesses survive into any merge (each
  * witness can only be pruned by even smaller later-or-equal hashes,
  * which then witness h too). Gates therefore hash-compare the RAW
  * kept set against a DuckDB mirror of the rule — q279-strength.
  *
  * State size: k-th-smallest-of-suffix membership over random
  * (md5-derived) hashes keeps O(k·ln(D/k)) entries w.h.p. (D =
  * distinct hashes): each distinct hash is kept iff it ranks ≤ k among
  * hashes arriving at-or-after it — the classic record-count argument.
  * The prune pass is exact, so the CAP only chooses when to prune
  * (amortized O(size log k) per prune), never what survives.
  *
  * Input: (hash, ts) — both long; null in either drops the row.
  * Output: array<struct<h, ts>> ascending by hash.
  */
case class KmvSlidingState(
    hashExpr: Expression,
    tsExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[KmvSlidingSketch.Latest, KmvSlidingSketch](KmvSlidingSketch(k))
  with BinaryLike[Expression] {

  override def left: Expression = hashExpr
  override def right: Expression = tsExpr

  override def update(buf: KmvSlidingSketch.Latest,
      input: InternalRow): KmvSlidingSketch.Latest =
    family.insert(buf, hashExpr.eval(input).asInstanceOf[java.lang.Long],
      tsExpr.eval(input).asInstanceOf[java.lang.Long])

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSlidingState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSlidingState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KmvSlidingState =
    copy(hashExpr = newLeft, tsExpr = newRight)
}

/** The sliding-KMV family's algebra: hash → latest ts, pruned to the
  * rule-kept set (exactly, on [[result]] and [[encode]]; lazily past a
  * cap in between — the cap only chooses when to prune, never what
  * survives). */
final case class KmvSlidingSketch(k: Int) extends AggSketch[KmvSlidingSketch.Latest] {
  require(k > 0 && k <= 65536, s"k out of range: $k")

  import KmvSlidingSketch.Latest

  private def pruneCap = math.max(4 * k, 256)

  def empty(): Latest = new java.util.TreeMap[java.lang.Long, java.lang.Long]()

  /** Exact prune: ascending hash order, drop h when ≥ k previously-seen
    * (smaller) hashes carry ts ≥ ts(h). A min-heap of the k largest
    * previous ts values decides membership in O(log k) per entry.
    * Entries of pruned hashes never need to count as "previous": each
    * pruned hash's own k witnesses are smaller AND later-or-equal, so
    * they witness every hash the pruned one would have. */
  def prune(s: Latest): Latest = {
    val heap = new java.util.PriorityQueue[java.lang.Long](k)
    val it = s.entrySet().iterator()
    while (it.hasNext) {
      val ts = it.next().getValue
      if (heap.size() == k && heap.peek() >= ts) it.remove()
      else {
        heap.add(ts)
        if (heap.size() > k) heap.poll()
      }
    }
    s
  }

  /** One (hash, ts) arrival; NULL in either drops. */
  def insert(s: Latest, h: java.lang.Long, ts: java.lang.Long): Latest = {
    if (h != null && ts != null) {
      val prev = s.get(h)
      if (prev == null || prev < ts) s.put(h, ts)
      if (s.size() > pruneCap) prune(s)
    }
    s
  }

  def merge(a: Latest, b: Latest): Latest = {
    b.forEach((h, ts) => insert(a, h, ts))
    a
  }

  /** The exact rule-kept (h, ts) set, ascending by hash. */
  def result(s: Latest): Array[(Long, Long)] =
    prune(s).asScala.iterator.map { case (h, ts) => (h.longValue, ts.longValue) }.toArray

  /** Only the rule-kept set ships. */
  def encode(s: Latest): Array[Byte] =
    Sketch.encodeAll(result(s), 16) { case (bb, (h, ts)) => bb.putLong(h).putLong(ts) }
  def decode(bytes: Array[Byte]): Latest =
    Sketch.decodeAll(bytes, empty())((s, bb) => s.put(bb.getLong, bb.getLong))

  def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("ts", LongType, nullable = false))), containsNull = false)
  def value(s: Latest): Any =
    new GenericArrayData(result(s).map { case (h, ts) => InternalRow(h, ts): Any })
}

object KmvSlidingSketch {
  type Latest = java.util.TreeMap[java.lang.Long, java.lang.Long]
}
