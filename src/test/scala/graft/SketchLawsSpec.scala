package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.plans._

/** The laws of the sketch family algebras in `graft.plans`, one block
  * per family:
  *   - `merge` is commutative and associative: exactly for the
  *     canonical families (KMV, sliding KMV, top-k, count-min cells,
  *     whose merge also equals one build over the union), within the
  *     family's error bound against exact counts under random merge
  *     trees for the order-dependent ones (MG, decayed MG, GK), and up
  *     to rebasing ulps for the decayed sum;
  *   - `empty()` is the identity on either side;
  *   - `decode(encode(s))` is `s`;
  *   - through the Spark aggregate, a layout of empty and single-row
  *     partitions gives the one-partition answer.
  * Merge reuses its first argument, so every law builds fresh states. */
class SketchLawsSpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, minSuccessful: Int = 40): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString)
  }

  /** The exact laws of a canonical family: `build` folds inputs with
    * the family's insert, `view` is a state's comparable form. */
  private def exactLaws[I, S](f: Sketch[S], in: Gen[I])(build: Seq[I] => S)(
      view: S => Any): Unit =
    check(forAllNoShrink(Gen.listOf(in), Gen.listOf(in), Gen.listOf(in)) { (a, b, c) =>
      val ab = view(f.merge(build(a), build(b)))
      val one = view(build(a))
      Prop(ab == view(f.merge(build(b), build(a)))) :| "commutative" &&
        Prop(view(f.merge(f.merge(build(a), build(b)), build(c))) ==
          view(f.merge(build(a), f.merge(build(b), build(c))))) :| "associative" &&
        Prop(ab == view(build(a ++ b))) :| "merge equals one build" &&
        Prop(view(f.merge(f.empty(), build(a))) == one &&
          view(f.merge(build(a), f.empty())) == one) :| "empty is the identity" &&
        Prop(view(f.decode(f.encode(build(a)))) == one) :| "decode(encode(s)) == s"
    })

  /** Split `xs` into random chunks, build each, merge them in a random
    * tree (random pairs, random argument order). */
  private def mergeTree[I, S](f: Sketch[S], xs: Seq[I], seed: Long)(
      build: Seq[I] => S): S = {
    val rnd = new Random(seed)
    val cuts = (0 +: Seq.fill(rnd.nextInt(8))(rnd.nextInt(xs.size + 1)) :+ xs.size).sorted
    val parts = scala.collection.mutable.ArrayBuffer.from(
      cuts.zip(cuts.tail).map { case (lo, hi) => build(xs.slice(lo, hi)) })
    while (parts.size > 1) {
      val i = rnd.nextInt(parts.size)
      val j = (i + 1 + rnd.nextInt(parts.size - 1)) % parts.size
      parts(i) = f.merge(parts(i), parts(j))
      parts.remove(j)
    }
    parts.head
  }

  /** Identity and codec laws of an order-dependent family. */
  private def identityCodec[S](f: Sketch[S], s: () => S, view: S => Any): Prop = {
    val one = view(s())
    Prop(view(f.merge(f.empty(), s())) == one &&
      view(f.merge(s(), f.empty())) == one) :| "empty is the identity" &&
      Prop(view(f.decode(f.encode(s()))) == one) :| "decode(encode(s)) == s"
  }

  private val nullableLong: Gen[java.lang.Long] =
    Gen.frequency((9, Gen.choose(0L, 60L).map(t => java.lang.Long.valueOf(t))), (1, Gen.const(null)))

  test("KMV: exact laws") {
    val f = KmvSketch(5)
    exactLaws(f, nullableLong)(_.foldLeft(f.empty())(f.insert))(f.result(_).toSeq)
  }

  test("sliding KMV: exact laws") {
    val f = KmvSlidingSketch(3)
    val in = Gen.zip(nullableLong, nullableLong)
    exactLaws(f, in)(_.foldLeft(f.empty()) { case (s, (h, ts)) => f.insert(s, h, ts) })(
      f.result(_).toSeq)
  }

  test("top-k: exact laws (NaN weights ranked, NULLs dropped)") {
    val f = TopKSketch(4)
    val w: Gen[java.lang.Double] = Gen.frequency(
      (8, Gen.choose(0, 5).map(i => java.lang.Double.valueOf(i.toDouble))),
      (1, Gen.const(java.lang.Double.valueOf(Double.NaN))), (1, Gen.const(null)))
    exactLaws(f, Gen.zip(w, nullableLong))(
      _.foldLeft(f.empty()) { case (s, (wt, id)) => f.insert(s, wt, id) })(
      f.result(_).toSeq.map { case (wt, id) => (java.lang.Double.doubleToLongBits(wt), id) })
  }

  test("count-min cells: exact laws") {
    val f = CmSketch(3, 16)
    exactLaws(f, Gen.choose(0L, (1L << 31) - 1))(_.foldLeft(f.empty())(f.insert))(
      f.result(_))
  }

  test("count-min cells: the Scala insert lands on the DataFrame build's cells") {
    val items = Seq("a", "b", "a", null, "c", "a", "d")
    val ev = items.zipWithIndex.map { case (it, i) => (it, i.toLong) }.toDF("item", "sec")
    val f = CmSketch(3, 16)
    val hourly = operators.SlidingSketches.cmHourly(ev, col("item"), col("sec"), 3600L, 3, 16)
      .select(explode(col("entries")).as("e")).select("e.idx", "e.cnt")
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val xs = operators.SlidingSketches.cmKeyRows(ev, col("item"), col("sec"), 3600L)
      .select("x").as[Long].collect()
    assert(f.result(xs.foldLeft(f.empty())(f.insert)) == hourly)
  }

  test("decayed sum: n and t_ref exact, sum within rebasing ulps, identity, codec") {
    val f = DecayedSumSketch(3600L)
    val in = Gen.zip(nullableLong.map(t => if (t == null) t else java.lang.Long.valueOf(t * 500)),
      Gen.option(Gen.choose(-10.0, 10.0)).map(_.map(x => java.lang.Double.valueOf(x)).orNull))
    def build(xs: Seq[(java.lang.Long, java.lang.Double)]) =
      xs.foldLeft(f.empty()) { case (s, (t, x)) => f.insert(s, t, x) }
    def view(s: DecayedSumSketch.State) = (s.n, s.tMax, s.sum)
    check(forAllNoShrink(Gen.listOf(in), Gen.long) { (xs, seed) =>
      val whole = build(xs)
      val tree = mergeTree(f, xs, seed)(build)
      Prop(tree.n == whole.n && tree.tMax == whole.tMax &&
        math.abs(tree.sum - whole.sum) <= 1e-9 * (1.0 + xs.size)) :| "any merge tree" &&
        identityCodec(f, () => build(xs), view)
    })
  }

  test("Misra–Gries: bounds hold under random merge trees; identity, codec") {
    val k = 4
    val f = MgSketch(k)
    // runs of one key, so chunks hold few keys and most pruning
    // happens in merges
    val run = Gen.zip(Gen.frequency((6, Gen.choose(0, 6).map(i => s"u$i")),
      (3, Gen.const("heavy")), (1, Gen.const(null: String))), Gen.choose(1, 6))
      .map { case (kk, r) => Seq.fill(r)(kk) }
    def build(xs: Seq[String]) = xs.foldLeft(f.empty())(f.insert)
    check(forAllNoShrink(Gen.listOf(run).map(_.flatten), Gen.long) { (xs, seed) =>
      val exact = xs.filter(_ != null).groupBy(identity).map { case (kk, g) => kk -> g.size.toLong }
      val n = exact.values.sum
      val s = mergeTree(f, xs, seed)(build)
      // every decrement removes ≥ k+1 units of mass, so no key loses
      // more than (n − Σ est)/(k+1) — sharper than n/(k+1)
      val lost = n - s.values.sum
      Prop(s.size <= k) :| "≤ k counters" &&
        Prop(s.forall { case (kk, est) => est <= exact(kk) }) :| "never over" &&
        Prop(exact.forall { case (kk, c) =>
          (c - s.getOrElse(kk, 0L)) * (k + 1) <= lost }) :| "undercount bound" &&
        Prop(exact.forall { case (kk, c) => c * (k + 1) <= n || s.contains(kk) }) :| "heavy present" &&
        identityCodec(f, () => build(xs), f.result)
    }, minSuccessful = 300)
  }

  test("decayed Misra–Gries: weighted bounds hold under random merge trees; identity, codec") {
    val k = 3
    val h = 600L
    val f = DecayedMgSketch(h, k)
    val row = Gen.zip(Gen.choose(0L, 7200L).map(t => java.lang.Long.valueOf(t)),
      Gen.frequency((6, Gen.choose(0, 8).map(i => s"u$i")), (3, Gen.const("heavy")),
        (1, Gen.const(null: String))))
    def build(xs: Seq[(java.lang.Long, String)]) =
      xs.foldLeft(f.empty()) { case (s, (t, it)) => f.insert(s, t, it) }
    def view(s: DecayedMgSketch.State) = (s.tMax, s.w, f.result(s))
    check(forAllNoShrink(Gen.listOf(row), Gen.long) { (xs, seed) =>
      val live = xs.filter(_._2 != null)
      val tRef = if (live.isEmpty) 0L else live.map(_._1.longValue).max
      val mass = live.groupBy(_._2).map { case (it, rs) =>
        it -> rs.map(r => math.pow(2.0, (r._1 - tRef).toDouble / h)).sum }
      val w = mass.values.sum
      val tol = 1e-9 * (1.0 + xs.size)
      val s = mergeTree(f, xs, seed)(build)
      Prop(math.abs(s.w - w) <= tol && s.counters.size <= k) :| "mass and ≤ k counters" &&
        Prop(s.counters.forall { case (it, est) =>
          est <= mass(it) + tol && (mass(it) - est) * (k + 1) <= w + tol * (k + 1) }) :|
          "est bounds" &&
        Prop(mass.forall { case (it, c) => c * (k + 1) <= w + tol || s.counters.contains(it) }) :|
          "heavy present" &&
        identityCodec(f, () => build(xs), view)
    })
  }

  test("GK: sound intervals and the rank budget under random merge trees; identity, codec") {
    val m = 16
    val f = GkSketch(m, m) // smallest legal buffer: maximal prune pressure
    val v: Gen[java.lang.Double] = Gen.frequency(
      (3, Gen.choose(0, 6).map(i => java.lang.Double.valueOf(i.toDouble))),
      (6, Gen.choose(-1e3, 1e3).map(x => java.lang.Double.valueOf(x))),
      (1, Gen.oneOf(null, java.lang.Double.valueOf(Double.NaN))))
    def build(xs: Seq[java.lang.Double]) = xs.foldLeft(f.empty())(f.insert)
    def view(s: GkState) = {
      val r = f.result(s)
      (r.n, r.vs.toSeq, r.rmins.toSeq, r.rmaxs.toSeq)
    }
    check(forAllNoShrink(Gen.listOfN(200, v), Gen.long) { (xs, seed) =>
      val sorted = xs.filter(GkSketch.ranks).map(_.doubleValue).sorted
      val n = sorted.size
      val s = f.result(mergeTree(f, xs, seed)(build))
      def lt(x: Double) = sorted.count(_ < x).toLong
      def le(x: Double) = sorted.count(_ <= x).toLong
      val levels = 63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n.toLong / m))
      val bound = math.max(1L, (levels + 3).toLong * n / (m - 1))
      Prop(s.n == n && s.size <= m) :| "exact n, ≤ m tuples" &&
        Prop((0 until s.size).forall(i => s.rmins(i) <= le(s.vs(i)) &&
          lt(s.vs(i)) + 1 <= s.rmaxs(i))) :| "sound intervals" &&
        Prop(n == 0 || Seq(0.05, 0.25, 0.5, 0.75, 0.95).forall { phi =>
          val est = GkSummary.query(s, phi)
          val r = 1L + math.round(phi * (n - 1))
          lt(est) + 1 - r <= bound && r - le(est) <= bound
        }) :| "rank budget" &&
        identityCodec(f, () => build(xs), view)
    }, minSuccessful = 25)
  }

  /** One row of every sketch aggregate over `df`, global. */
  private def allAggregates(df: DataFrame): Row =
    df.agg(MisraGries.summary(col("key"), 8), TopKAgg.topK(col("x"), col("h"), 3),
      Kmv.minValues(col("h"), 4), KmvSliding.state(col("h"), col("t"), 2),
      GkQuantile.sketch(col("x"), 16), DecayedSum.of(col("t"), col("x"), 3600L),
      DecayedMg.of(col("t"), col("key"), 3600L, 8)).head()

  /** The rebased doubles of the decayed families compare within ulps. */
  private def sameAnswer(a: Row, b: Row): Boolean = {
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    val ds = (a.getStruct(5), b.getStruct(5)) match {
      case (null, null) => true
      case (p, q) => p != null && q != null && p.getLong(0) == q.getLong(0) &&
        p.getLong(1) == q.getLong(1) && close(p.getDouble(2), q.getDouble(2))
    }
    val dm = (a.getStruct(6), b.getStruct(6)) match {
      case (null, null) => true
      case (p, q) =>
        def es(r: Row) = r.getSeq[Row](2).map(e => e.getString(0) -> e.getDouble(1)).toMap
        p != null && q != null && p.getLong(0) == q.getLong(0) &&
          close(p.getDouble(1), q.getDouble(1)) && es(p).keySet == es(q).keySet &&
          es(p).forall { case (kk, e) => close(e, es(q)(kk)) }
    }
    (0 until 5).forall(i => a.get(i) == b.get(i)) && ds && dm
  }

  test("Spark aggregates: empty and single-row partitions give the one-partition answer") {
    val schema = StructType(Seq(StructField("key", StringType), StructField("t", LongType),
      StructField("x", DoubleType), StructField("h", LongType)))
    // below every prune threshold (≤ 8 keys, ≤ 16 values), so the one
    // answer is exact and any partitioning must reproduce it
    val rows = Seq(Row("a", 10L, 1.5, 7L), Row("b", 4000L, -2.0, 3L), Row(null, 20L, 0.5, 9L),
      Row("a", 7300L, null, 1L), Row("c", 30L, 4.0, 12L), Row("a", 100L, 4.0, 5L),
      Row("b", 50L, 2.5, 3L), Row("d", 8000L, -1.0, 20L))
    Seq(rows, Seq.empty[Row]).foreach { rs =>
      val one = allAggregates(spark.createDataFrame(
        spark.sparkContext.parallelize(rs, 1), schema))
      val spread = allAggregates(spark.createDataFrame(
        spark.sparkContext.parallelize(rs, 2 * rs.size + 3), schema))
      assert(sameAnswer(one, spread), s"one=$one spread=$spread")
    }
    // the roll-up aggregate over per-key sketches, spread the same way
    val sks = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .groupBy("key").agg(GkQuantile.sketch(col("x"), 16).as("sk")).collect().toSeq
    val skSchema = StructType(Seq(StructField("key", StringType),
      StructField("sk", GkSketch(16).dataType)))
    def rollUp(slices: Int) = spark.createDataFrame(
        spark.sparkContext.parallelize(sks, slices), skSchema)
      .agg(GkQuantile.mergeSketches(col("sk"), 16)).head()
    assert(rollUp(1) == rollUp(2 * sks.size + 3))
  }
}
