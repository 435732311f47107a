package graft.plans

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** The algebra of one mergeable-summary family (Agarwal et al.,
  * PODS'12 mergeable summaries): `empty()` is the identity of `merge`,
  * `merge(a, b)` may reuse `a` (the TypedImperativeAggregate buffer
  * contract) and leaves `b` as it was, and `decode(encode(s))` equals
  * `s`. Each family also defines `insert` (which owns the family's
  * null/NaN rule), `prune` where it has one, and `result` in the
  * family's one entry order.
  *
  * Every surface of a family calls its one object: the Catalyst
  * aggregate (through [[SketchAgg]]), the EH bucket merges of
  * [[graft.operators.SlidingSketches]] and the prefolds/folds of
  * [[graft.streaming.SlidingMonitor]]. SketchLawsSpec checks the laws
  * per family. */
trait Sketch[S] extends Serializable {
  def empty(): S
  def merge(a: S, b: S): S
  def encode(s: S): Array[Byte]
  def decode(bytes: Array[Byte]): S
}

/** A family with a Catalyst aggregate: the result's type and value. */
trait AggSketch[S] extends Sketch[S] {
  def dataType: DataType
  def value(s: S): Any
  def nullable: Boolean = false
}

/** The one TypedImperativeAggregate body over a family: buffer, merge,
  * result, wire format and nullability all come from `family`. A case
  * class over it keeps only its child wiring, its row-to-`insert`
  * `update` and its `withNew*` copies, so its name and fields — and
  * with them every formatted plan — stay its own.
  *
  * Planning contract (all of them): these run under
  * ObjectHashAggregateExec, whose sort-based fallback triggers after
  * 128 hash-map keys by default; sessions grouping widely raise
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
  * (SessionHygiene sets 65536). Serializable itself, so the Java
  * deserializer's no-arg constructor is TypedImperativeAggregate's. */
abstract class SketchAgg[S, F <: AggSketch[S]](protected val family: F)
  extends TypedImperativeAggregate[S] with Serializable {
  override def createAggregationBuffer(): S = family.empty()
  override def merge(buf: S, other: S): S = family.merge(buf, other)
  override def eval(buf: S): Any = family.value(buf)
  override def serialize(buf: S): Array[Byte] = family.encode(buf)
  override def deserialize(bytes: Array[Byte]): S = family.decode(bytes)
  override def dataType: DataType = family.dataType
  override def nullable: Boolean = family.nullable
}

object Sketch {

  /** A family aggregate as a Column. */
  def column(agg: TypedImperativeAggregate[_]): Column =
    GraftSqlBridge.toColumn(agg.toAggregateExpression())

  /** A Column as an aggregate's child expression. */
  def child(c: Column): Expression = GraftSqlBridge.toExpression(c)

  /** A string input column's value as the families take it: NULL stays
    * null (and drops in `insert`). */
  def string(raw: Any): String = if (raw == null) null else raw.toString

  /** The one entry order of the counter families (MG, decayed MG):
    * est descending, key ascending. */
  def ranked[V](counters: Iterable[(String, V)])(implicit num: Numeric[V]): Seq[(String, V)] =
    counters.toSeq.sortBy { case (key, est) => (num.negate(est), key) }

  /** The decayed families' rebasing factor 2^((from − to)/halfLife). */
  def decay(from: Long, to: Long, halfLifeSec: Long): Double =
    math.pow(2.0, (from - to).toDouble / halfLifeSec.toDouble)

  /** Catalyst array<struct<key, est>> of ranked entries. */
  def entriesValue(entries: Seq[(String, Any)]): GenericArrayData =
    new GenericArrayData(entries.map { case (key, est) =>
      InternalRow(UTF8String.fromString(key), est): Any
    }.toArray)

  /** Fixed-width wire format: the element count, then `put` writes
    * `bytesEach` bytes per element. */
  def encodeAll[T](xs: Iterable[T], bytesEach: Int)(
      put: (ByteBuffer, T) => ByteBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + bytesEach * xs.size).putInt(xs.size)
    xs.foreach(put(bb, _))
    bb.array()
  }

  /** Reads [[encodeAll]]'s elements into `s`, one `get` per element. */
  def decodeAll[S](bytes: Array[Byte], s: S)(get: (S, ByteBuffer) => Any): S = {
    val bb = ByteBuffer.wrap(bytes)
    var i = bb.getInt
    while (i > 0) { get(s, bb); i -= 1 }
    s
  }

  /** Wire format of a string-keyed map with 8-byte values: the entry
    * count, then (utf-8 length, bytes, value) per entry; `tail` spare
    * bytes follow for the family's own fields. */
  def encodeKeyed[V](m: Iterable[(String, V)], tail: Int)(
      put: (ByteBuffer, V) => ByteBuffer): ByteBuffer = {
    val es = m.toArray.map { case (key, v) => (key.getBytes(StandardCharsets.UTF_8), v) }
    val bb = ByteBuffer.allocate(4 + es.map(e => 4 + e._1.length + 8).sum + tail)
    bb.putInt(es.length)
    es.foreach { case (bytes, v) => put(bb.putInt(bytes.length).put(bytes), v) }
    bb
  }

  /** Reads [[encodeKeyed]]'s entries into `m`. */
  def decodeKeyed[V](bb: ByteBuffer, m: mutable.Map[String, V])(
      get: ByteBuffer => V): m.type = {
    var i = bb.getInt
    while (i > 0) {
      val arr = new Array[Byte](bb.getInt)
      bb.get(arr)
      m.update(new String(arr, StandardCharsets.UTF_8), get(bb))
      i -= 1
    }
    m
  }
}
