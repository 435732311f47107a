package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Misra–Gries heavy-hitters summary as a custom Catalyst aggregate —
  * the frequent-items sketch beside count-min (q110) and the quantile
  * sketch (q48): at most `k` (key, est) counters whatever the stream
  * length or key cardinality.
  *
  * Why it earns its place at 100 TB: "which sources/domains/tokens
  * dominate this corpus" over tera-cardinality keys cannot run as an
  * exact groupBy (the aggregation state IS the cardinality). This
  * summary is k-bounded per partition, merges associatively through
  * [[MgSketch.merge]] (the family's one merge rule, which the EH and
  * the monitor call too), and rides Spark's ordinary
  * partial-aggregation path — so the shuffle carries ≤ k counters per
  * map partition, like [[TopKPairs]].
  *
  * Guarantees (for N total rows, ANY partitioning / merge order):
  *   - est(key) ≤ true(key)               (never overestimates)
  *   - est(key) ≥ true(key) − N/(k+1)     (bounded undercount)
  *   - every key with true(key) > N/(k+1) is PRESENT in the summary.
  * The kept set and exact estimates are partitioning-DEPENDENT inside
  * those bounds, so gates hash-check the guarantees against exact
  * truth (q270's reduction), not the raw summary; MisraGriesSpec
  * property-tests the bounds across repartitionings.
  *
  * Null keys are dropped (an agg ignoring nulls). Output is
  * array<struct<key, est>> ordered (est desc, key asc).
  */
case class MisraGriesSummary(
    keyExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[MgSketch.Counters, MgSketch](MgSketch(k))
  with UnaryLike[Expression] {

  override def child: Expression = keyExpr

  override def update(buf: MgSketch.Counters, input: InternalRow): MgSketch.Counters =
    family.insert(buf, Sketch.string(keyExpr.eval(input)))

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesSummary =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesSummary =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesSummary =
    copy(keyExpr = newChild)
}

/** The Misra–Gries family's algebra: at most `k` (key, count) counters.
  * The aggregate above, the EH bucket merge
  * ([[graft.operators.SlidingSketches.mgSlidingSummaries]]) and the
  * monitor's prefold and fold ([[graft.streaming.SlidingMonitor]]) all
  * merge through [[merge]]; where an exact row count n rides beside the
  * counters (EH buckets, monitor quanta) it adds ([[mergeCounted]]). */
final case class MgSketch(k: Int) extends AggSketch[MgSketch.Counters] {
  require(k > 0 && k <= 65536, s"k out of range: $k")

  import MgSketch.Counters

  def empty(): Counters = mutable.HashMap.empty[String, Long]

  /** Subtract `d` from every counter, keep those still positive.
    * Snapshot before mutating: updating a mutable HashMap through its
    * own keysIterator skips keys (measured — see DecayedMgSketch.evict),
    * leaving should-die counters alive and breaking the ≤ k bound. */
  private def subtract(s: Counters, d: Long): Unit =
    s.toArray.foreach { case (kk, c) =>
      val nc = c - d
      if (nc <= 0L) s.remove(kk) else s.update(kk, nc)
    }

  /** One row. A NULL key drops. A new key with k counters live
    * decrements all (classic MG; O(k) amortized over k arrivals). */
  def insert(s: Counters, key: String): Counters = {
    if (key != null) s.get(key) match {
      case Some(c) => s.update(key, c + 1L)
      case None => if (s.size < k) s.update(key, 1L) else subtract(s, 1L)
    }
    s
  }

  /** Exact count `c` for `key`, no prune: merge's sum step and the
    * monitor prefold's exact count. A NULL key drops. */
  def add(s: Counters, key: String, c: Long): Counters = {
    if (key != null) s.update(key, s.getOrElse(key, 0L) + c)
    s
  }

  /** With more than k counters, subtract the (k+1)-th largest. */
  def prune(s: Counters): Counters = {
    if (s.size > k) subtract(s, s.values.toArray.sortBy(-_).apply(k))
    s
  }

  /** The mergeable reduce: sum counters, then [[prune]]. The undercount
    * stays ≤ n/(k+1) under ANY merge tree, so EH depth and monitor
    * cadence cost nothing. */
  def merge(a: Counters, b: Counters): Counters = {
    b.foreach { case (kk, c) => add(a, kk, c) }
    prune(a)
  }

  def mergeCounted(a: (Long, Counters), b: (Long, Counters)): (Long, Counters) =
    (a._1 + b._1, merge(a._2, b._2))

  def result(s: Counters): Seq[(String, Long)] = Sketch.ranked(s)

  def encode(s: Counters): Array[Byte] =
    Sketch.encodeKeyed(s, 0)(_.putLong(_)).array()
  def decode(bytes: Array[Byte]): Counters =
    Sketch.decodeKeyed(ByteBuffer.wrap(bytes), empty())(_.getLong)

  def dataType: DataType = ArrayType(
    StructType(Seq(StructField("key", StringType), StructField("est", LongType))),
    containsNull = false)
  def value(s: Counters): Any = Sketch.entriesValue(result(s))
}

object MgSketch {
  type Counters = mutable.HashMap[String, Long]
}
