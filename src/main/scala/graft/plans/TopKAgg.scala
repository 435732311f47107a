package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a custom Catalyst aggregate (T2/T3 done
  * scale-right).
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY w
  * DESC)` then `rank <= k`) must shuffle and sort EVERY candidate row of
  * every group before discarding all but k — at 100 TB the shuffle is
  * |pairs|, not |groups|·k. This aggregate keeps a k-bounded heap per
  * group: partial aggregation caps map-side state at k entries per group
  * per partition, the shuffle carries at most k entries per group per map
  * partition, and merge folds heaps. Order inside the result: w
  * descending, id ascending on ties — identical to the window's total
  * order, so the two formulations are hash-equal (gated against the same
  * DuckDB oracle as the window path).
  *
  * TypedImperativeAggregate is the documented extension point for
  * heap-style aggregation state (the same shape Spark uses for
  * approx_percentile / collect-with-bound).
  *
  * Precondition: w and id are non-null. Null-w/null-id rows are DROPPED
  * (like an agg ignoring nulls), whereas the window formulation ranks
  * null weights NULLS LAST and still assigns them row numbers — the two
  * paths diverge iff a group has fewer than k non-null entries plus
  * null rows. Every in-repo caller scores w from non-null inputs
  * (cosine / similarity weights / folded hashes), so the aggregate and
  * window forms stay hash-equal (gate q77). NaN weights ARE ranked, and
  * identically on both paths: Double.compare and Spark's window sort
  * both treat NaN as greater than any value (pinned by TopKAggSpec).
  *
  * Memory/planning contract: this runs under ObjectHashAggregateExec,
  * whose default sort-based fallback triggers after only 128 hash-map
  * keys (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`) —
  * a many-group top-k then serializes every heap through a sort and
  * loses the point of the bounded aggregate. State is k-bounded
  * (~16·k bytes per group), so sessions running many-group top-k should
  * raise the threshold (Bench/Verify set 65536).
  */
case class TopKPairs(
    wExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[TopKSketch.Heap, TopKSketch](TopKSketch(k))
  with BinaryLike[Expression] {

  override def left: Expression = wExpr
  override def right: Expression = idExpr

  override def update(buf: TopKSketch.Heap, input: InternalRow): TopKSketch.Heap =
    family.insert(buf, wExpr.eval(input).asInstanceOf[java.lang.Double],
      idExpr.eval(input).asInstanceOf[java.lang.Long])

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairs =
    copy(wExpr = newLeft, idExpr = newRight)
}

/** The top-k family's algebra: a k-bounded heap of (w, id). */
final case class TopKSketch(k: Int) extends AggSketch[TopKSketch.Heap] {
  require(k > 0, "k must be positive")

  import TopKSketch.{Heap, worstFirst}

  def empty(): Heap = mutable.PriorityQueue.empty[(Double, Long)](worstFirst)

  /** One (w, id); NULL in either drops, NaN w is ranked. Quick reject:
    * once the heap holds k entries, a candidate no better than the
    * current worst is dropped with ONE comparison — no tuple
    * allocation, no O(log k) sift. On a top-5 over millions of
    * candidate rows per group, almost every update takes this path
    * (same Double.compare total order as [[TopKSketch.worstFirst]], so
    * NaN weights — which compare above everything — still displace). */
  def insert(s: Heap, w: java.lang.Double, id: java.lang.Long): Heap = {
    if (w != null && id != null) {
      if (s.size < k) s.enqueue((w, id))
      else {
        val (hw, hid) = s.head
        val c = java.lang.Double.compare(w, hw)
        if (c > 0 || (c == 0 && id < hid)) {
          s.enqueue((w, id))
          s.dequeue()
        }
      }
    }
    s
  }

  def merge(a: Heap, b: Heap): Heap = {
    b.foreach { case (w, id) => insert(a, w, id) }
    a
  }

  /** Best first: w descending, id ascending, under the same
    * Double.compare total order as [[insert]] (sortWith with > is not a
    * strict weak ordering under NaN). */
  def result(s: Heap): Array[(Double, Long)] = s.toArray.sorted(worstFirst)

  def encode(s: Heap): Array[Byte] =
    Sketch.encodeAll(s, 16) { case (bb, (w, id)) => bb.putDouble(w).putLong(id) }
  def decode(bytes: Array[Byte]): Heap =
    Sketch.decodeAll(bytes, empty())((s, bb) => s.enqueue((bb.getDouble, bb.getLong)))

  def dataType: DataType = ArrayType(
    StructType(Seq(StructField("w", DoubleType), StructField("id", LongType))),
    containsNull = false)
  def value(s: Heap): Any =
    new GenericArrayData(result(s).map { case (w, id) => InternalRow(w, id): Any })
}

object TopKSketch {
  type Heap = mutable.PriorityQueue[(Double, Long)]

  /** Head of the queue = WORST kept entry (smallest w, then largest
    * id), so `dequeue()` evicts correctly when the heap exceeds k. */
  val worstFirst: Ordering[(Double, Long)] = (a, b) => {
    val c = java.lang.Double.compare(b._1, a._1)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }
}
