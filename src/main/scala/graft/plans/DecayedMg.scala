package graft.plans

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Exponentially-DECAYED Misra–Gries — "top talkers, recency-weighted"
  * in one pass: [[DecayedSumAgg]]'s O(1) rebasing composed with
  * [[MisraGriesSummary]]'s k-bounded counter map, finishing the
  * decayed row of the sketch matrix (decayed sums/means landed in
  * round 9 as q307–q309; this is their heavy-hitter column). Each row
  * at time t contributes weight 2^((t − tMax)/halfLife) to its item's
  * counter; a new maximum rescales ALL counters and the total mass by
  * one factor (the rebasing identity — O(k) per watermark advance,
  * amortized O(1) per row since tMax only moves forward), so the
  * state is (tMax, W, ≤ k counters) whatever the stream length or key
  * cardinality, and the fold rides the ordinary partial-aggregation
  * path.
  *
  * Guarantees — the WEIGHTED Misra–Gries bounds, which survive any
  * merge tree exactly as the unit-weight ones do (each eviction event
  * subtracts its pivot from ≥ k+1 counters, so Σ pivots ≤ W/(k+1),
  * W = total decayed mass):
  *   - est(key) ≤ decayed(key)                (never overestimates)
  *   - est(key) ≥ decayed(key) − W/(k+1)      (bounded undercount)
  *   - every key with decayed(key)·(k+1) > W is PRESENT.
  * Like [[DecayedSumAgg]], the counters are doubles scaled by pow
  * factors, so their last ulps are merge-tree-sensitive: the gate
  * (q315) checks the guarantees against the TWO-PASS decimal-
  * disciplined exact decayed masses with an n·1e-6 slack, never
  * hash-matching raw counters (the q270 discipline, decayed).
  *
  * Null (t, item) rows drop. Output:
  * struct<t_ref, w, entries: array<struct<key, est>>> with entries
  * (est desc, key asc) ordered; null for an empty group. */
case class DecayedMgAgg(
    tExpr: Expression,
    keyExpr: Expression,
    halfLifeSec: Long,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[DecayedMgSketch.State, DecayedMgSketch](DecayedMgSketch(halfLifeSec, k))
  with BinaryLike[Expression] {

  override def left: Expression = tExpr
  override def right: Expression = keyExpr

  override def update(buf: DecayedMgSketch.State, input: InternalRow): DecayedMgSketch.State =
    family.insert(buf, tExpr.eval(input).asInstanceOf[java.lang.Long],
      Sketch.string(keyExpr.eval(input)))

  override def withNewMutableAggBufferOffset(newOffset: Int): DecayedMgAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DecayedMgAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecayedMgAgg =
    copy(tExpr = newLeft, keyExpr = newRight)
}

/** The decayed-MG family's algebra, shared by the Catalyst aggregate
  * above and the streaming monitor leg
  * ([[graft.streaming.SlidingMonitor.decayedMgMonitor]]) — ONE
  * definition of the rebasing identity and the weighted eviction, so
  * batch and always-on answers obey the same guarantees by
  * construction. */
final case class DecayedMgSketch(halfLifeSec: Long, k: Int)
  extends AggSketch[DecayedMgSketch.State] {
  require(halfLifeSec > 0, s"halfLifeSec out of range: $halfLifeSec")
  require(k > 0 && k <= 65536, s"k out of range: $k")

  import DecayedMgSketch.State

  def empty(): State = new State(Long.MinValue, 0.0, mutable.HashMap.empty[String, Double])

  private def isEmpty(s: State): Boolean = s.w == 0.0 && s.counters.isEmpty

  private def decay(from: Long, to: Long): Double = Sketch.decay(from, to, halfLifeSec)

  /** Advance the watermark: every stored mass scales by one factor.
    * Counters that underflow to 0.0 drop — a row older than ~1075
    * half-lives carries no mass and must not waste one of the k
    * slots. */
  private def rebase(s: State, tNew: Long): Unit = {
    if (tNew > s.tMax) {
      if (s.w > 0.0) {
        val f = decay(s.tMax, tNew)
        s.w *= f
        s.counters.mapValuesInPlace((_, c) => c * f)
        s.counters.filterInPlace((_, c) => c > 0.0)
      }
      s.tMax = tNew
    }
  }

  /** MG eviction on weighted counters: subtract the (k+1)-th largest
    * mass from everything, keep strictly positive. The entry set is
    * SNAPSHOTTED before any mutation: the earlier shape updated values
    * through `keysIterator` mid-iteration, which scala's mutable
    * HashMap does not support — measured (500/500 on an 11-entry map):
    * the iterator SKIPS keys after an update, so counters that should
    * die survive unsubtracted and the ≤ k state bound silently breaks
    * (the MG value guarantees survive — a skipped key only misses a
    * subtraction, so est ≤ truth and the undercount bound both hold —
    * but per-key state stops being O(k)). */
  private def evict(s: State): Unit = {
    if (s.counters.size > k) {
      val masses = s.counters.values.toArray
      java.util.Arrays.sort(masses)
      val pivot = masses(masses.length - 1 - k)
      s.counters.toArray.foreach { case (kk, c) =>
        val nc = c - pivot
        if (nc <= 0.0) s.counters.remove(kk) else s.counters.update(kk, nc)
      }
    }
  }

  /** Fold one (t, key) row into the state; NULL in either drops. A
    * weight that underflows to exactly 0.0 (age past ~1075 half-lives)
    * neither inserts nor retains a zero-mass counter entry. */
  def insert(s: State, t: java.lang.Long, key: String): State = {
    if (t != null && key != null) {
      rebase(s, t)
      val wt = decay(t, s.tMax)
      if (wt > 0.0) {
        s.w += wt
        s.counters.update(key, s.counters.getOrElse(key, 0.0) + wt)
        evict(s)
      }
    }
    s
  }

  /** Merge `b` into `a`: rebase both to the max watermark, add masses,
    * evict to k. O(k) per call — the mergeable path. */
  def merge(a: State, b: State): State = {
    if (!isEmpty(b)) {
      val tNew = math.max(a.tMax, b.tMax)
      rebase(a, tNew)
      val f = if (b.tMax < tNew) decay(b.tMax, tNew) else 1.0
      a.w += b.w * f
      b.counters.foreach { case (kk, c) =>
        val m = c * f
        if (m > 0.0) a.counters.update(kk, a.counters.getOrElse(kk, 0.0) + m)
      }
      evict(a)
    }
    a
  }

  def result(s: State): Seq[(String, Double)] = Sketch.ranked(s.counters)

  def encode(s: State): Array[Byte] =
    Sketch.encodeKeyed(s.counters, 16)(_.putDouble(_))
      .putLong(s.tMax).putDouble(s.w).array()

  def decode(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    val counters = Sketch.decodeKeyed(bb, mutable.HashMap.empty[String, Double])(_.getDouble)
    new State(bb.getLong, bb.getDouble, counters)
  }

  def dataType: DataType = StructType(Seq(
    StructField("t_ref", LongType, nullable = false),
    StructField("w", DoubleType, nullable = false),
    StructField("entries", ArrayType(
      StructType(Seq(StructField("key", StringType),
        StructField("est", DoubleType))), containsNull = false),
      nullable = false)))
  override def nullable: Boolean = true

  /** struct<t_ref, w, entries> in [[result]] order; null when empty. */
  def value(s: State): Any =
    if (isEmpty(s)) null
    else InternalRow(s.tMax, s.w, Sketch.entriesValue(result(s)))
}

object DecayedMgSketch {
  final class State(var tMax: Long, var w: Double,
      val counters: mutable.HashMap[String, Double])
}
