package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types._

/** Streaming-capable exponentially-decayed weighted sum — the ONE-PASS
  * form of [[graft.operators.Analytics.decayedStats]]: the batch
  * operator needs tRef = max(t) up front (a second pass), which a
  * stream cannot provide; this aggregate carries (tMax, s) where
  * s = Σᵢ 2^((tᵢ − tMax)/halfLife) · xᵢ and REBASES on the fly — a new
  * maximum scales the accumulated sum by 2^((tMaxold − tnew)/h), and
  * merging two partials rebases the smaller-tMax side onto the larger
  * (the rebasing identity the batch gate q307 checks). Serialized
  * state is 24 bytes (tMax, sum, n — 3×8) whatever the input;
  * update/merge are O(1); the fold rides the
  * ordinary partial-aggregation path, so it runs identically under
  * batch groupBy and complete-mode streaming.
  *
  * Determinism note (why its gate checks a tolerance, not hash
  * equality of the sum): rebasing multiplies the running DOUBLE by a
  * pow factor, so the final bits depend on the merge tree — each
  * reordering perturbs ~1 ulp, O(n·ε) worst case. n and tMax are
  * EXACT (hash-anchored); the decayed sum is checked within n·1e-6 of
  * the two-pass decimal-disciplined reference (q308/q309's
  * decayedCheckFrame bound) — far looser than the accumulated ulp
  * error yet orders of magnitude tighter than any behavioral
  * difference. Nulls in (t, x) drop the row. */
case class DecayedSumAgg(
    tExpr: Expression,
    xExpr: Expression,
    halfLifeSec: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[DecayedSumSketch.State, DecayedSumSketch](DecayedSumSketch(halfLifeSec))
  with BinaryLike[Expression] {

  override def left: Expression = tExpr
  override def right: Expression = xExpr

  override def update(buf: DecayedSumSketch.State, input: InternalRow): DecayedSumSketch.State =
    family.insert(buf, tExpr.eval(input).asInstanceOf[java.lang.Long],
      xExpr.eval(input).asInstanceOf[java.lang.Double])

  override def withNewMutableAggBufferOffset(newOffset: Int): DecayedSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DecayedSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DecayedSumAgg =
    copy(tExpr = newLeft, xExpr = newRight)
}

/** The decayed-sum family's algebra: (tMax, s, n) with s rebased to
  * tMax. */
final case class DecayedSumSketch(halfLifeSec: Long) extends AggSketch[DecayedSumSketch.State] {
  require(halfLifeSec > 0, s"halfLifeSec out of range: $halfLifeSec")

  import DecayedSumSketch.State

  def empty(): State = new State(Long.MinValue, 0.0, 0L)

  private def decay(from: Long, to: Long): Double = Sketch.decay(from, to, halfLifeSec)

  private def rebase(s: State, tNew: Long): Unit = {
    if (s.n > 0L && tNew > s.tMax) s.sum *= decay(s.tMax, tNew)
    if (tNew > s.tMax || s.n == 0L) s.tMax = tNew
  }

  /** One (t, x) row; NULL in either drops. */
  def insert(s: State, t: java.lang.Long, x: java.lang.Double): State = {
    if (t != null && x != null) {
      if (s.n == 0L) { s.tMax = t; s.sum = x; s.n = 1L }
      else {
        rebase(s, t)
        s.sum += x * decay(t, s.tMax)
        s.n += 1L
      }
    }
    s
  }

  def merge(a: State, b: State): State = {
    if (b.n == 0L) a
    else if (a.n == 0L) { a.tMax = b.tMax; a.sum = b.sum; a.n = b.n; a }
    else {
      val tNew = math.max(a.tMax, b.tMax)
      rebase(a, tNew)
      a.sum += (if (b.tMax < tNew) b.sum * decay(b.tMax, tNew) else b.sum)
      a.n += b.n
      a
    }
  }

  def encode(s: State): Array[Byte] =
    ByteBuffer.allocate(24).putLong(s.tMax).putDouble(s.sum).putLong(s.n).array()
  def decode(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    new State(bb.getLong, bb.getDouble, bb.getLong)
  }

  def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("t_ref", LongType, nullable = false),
    StructField("sum", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  /** struct<n, t_ref, sum>; null when empty. */
  def value(s: State): Any = if (s.n == 0L) null else InternalRow(s.n, s.tMax, s.sum)
}

object DecayedSumSketch {
  final class State(var tMax: Long, var sum: Double, var n: Long)
}
