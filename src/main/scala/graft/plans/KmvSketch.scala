package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** K-minimum-values (KMV) distinct-count sketch as a custom Catalyst
  * aggregate — the third mergeable summary beside the frequent-items
  * sketch ([[MisraGriesSummary]]) and the bounded top-k heap
  * ([[TopKPairs]]): at most `k` distinct hash values whatever the input
  * size or key cardinality (Bar-Yossef et al., "Counting Distinct
  * Elements in a Data Stream"; Beyer et al., SIGMOD'07 for the
  * (k−1)/U(k) unbiased estimator).
  *
  * Why it earns its place at 100 TB: `approx_count_distinct` (q47)
  * answers ONE cardinality question; the KMV sketch is a mergeable
  * OBJECT — per-source sketches union into a corpus sketch by just
  * re-folding their values (k smallest of the union of per-part
  * k-smallest sets IS the union's k-smallest set), so a 1000-executor
  * scan publishes tiny per-partition summaries and any grouping of
  * sources can be estimated after the fact without rescanning.
  *
  * Unlike HLL (register race per merge order? no — but its estimate is
  * engine-private) and unlike Misra–Gries (kept set depends on merge
  * order inside its bounds), the KMV sketch of a fixed multiset is
  * UNIQUELY DETERMINED — the k smallest distinct values of a
  * deterministic hash — independent of partitioning, arrival order, or
  * duplication. Gates therefore hash-compare the raw sketch itself
  * against a DuckDB mirror (`row_number() OVER (ORDER BY h) <= k` over
  * the distinct md5-derived hashes), the strongest verdict any sketch
  * here gets.
  *
  * Input contract: the child expression IS the 60-bit hash (see
  * [[graft.core.Cross.hash64]]) — hashing stays outside so merge-style
  * callers can fold already-sketched values (union of exploded per-key
  * sketches) through the very same aggregate. Null hashes are dropped
  * (an agg ignoring nulls). Output: array<long> ascending.
  *
  * State is a bounded sorted set (≤ k longs): update is O(log k) with
  * an early reject of values above the current k-th minimum, merge
  * folds the other set with the same bound. Rides the ordinary
  * partial-aggregation path — the shuffle carries ≤ k longs per group
  * per map partition.
  */
case class KmvMinValues(
    hashExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[KmvSketch.Mins, KmvSketch](KmvSketch(k))
  with UnaryLike[Expression] {

  override def child: Expression = hashExpr

  override def update(buf: KmvSketch.Mins, input: InternalRow): KmvSketch.Mins =
    family.insert(buf, hashExpr.eval(input).asInstanceOf[java.lang.Long])

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvMinValues =
    copy(hashExpr = newChild)
}

/** The KMV family's algebra: the ≤ k smallest distinct hashes. */
final case class KmvSketch(k: Int) extends AggSketch[KmvSketch.Mins] {
  require(k > 0 && k <= 65536, s"k out of range: $k")

  import KmvSketch.Mins

  def empty(): Mins = new java.util.TreeSet[java.lang.Long]()

  /** One hash; NULL drops. Full at k, only a hash strictly below the
    * current k-th minimum gets in, displacing it (no-op if already
    * present — add() returns false, so evict only on a REAL insertion). */
  def insert(s: Mins, h: java.lang.Long): Mins = {
    if (h != null) {
      if (s.size < k) s.add(h)
      else if (h < s.last() && s.add(h)) s.pollLast()
    }
    s
  }

  def merge(a: Mins, b: Mins): Mins = {
    b.forEach(h => insert(a, h))
    a
  }

  /** Ascending. */
  def result(s: Mins): Array[Long] = s.asScala.iterator.map(_.longValue).toArray

  def encode(s: Mins): Array[Byte] = Sketch.encodeAll(result(s), 8)(_.putLong(_))
  def decode(bytes: Array[Byte]): Mins =
    Sketch.decodeAll(bytes, empty())((s, bb) => s.add(bb.getLong))

  def dataType: DataType = ArrayType(LongType, containsNull = false)
  def value(s: Mins): Any = new GenericArrayData(result(s).map(h => h: Any))
}

object KmvSketch {
  type Mins = java.util.TreeSet[java.lang.Long]
}
