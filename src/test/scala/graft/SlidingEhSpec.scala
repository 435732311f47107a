package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.plans.{GkSketch, GkSummary, MgSketch, SlidingEh}
import graft.operators.SlidingSketches

/** Laws for the exponential-histogram sliding frame and its GK/MG
  * members: layout invariants for every prefix length, exact-suffix
  * coverage + staleness for every window start, and the member
  * sketches' own guarantees over the covered suffix (the properties
  * the q299–q302 gates check at gate scale). */
class SlidingEhSpec extends SparkSpec {

  private val C = SlidingSketches.C

  // count-summaries: the simplest mergeable summary (exact n) isolates
  // the EH layout laws from any sketch behavior
  private def buildCounts(quanta: Seq[Long]): Vector[SlidingEh.Bucket[Long]] =
    SlidingEh.build(quanta.map(_ -> 1L), C, (a: Long, b: Long) => a + b)

  private def layoutLaws(quanta: Seq[Long], tag: String): Unit = {
    val bs = buildCounts(quanta)
    // buckets partition the non-empty-quanta sequence in time order
    assert(bs.head.firstQ == quanta.head)
    assert(bs.last.lastQ == quanta.last)
    bs.sliding(2).foreach {
      case Vector(a, b) => assert(a.lastQ < b.firstQ, s"order break at $tag")
      case _ => ()
    }
    assert(bs.map(_.cnt).sum == quanta.length.toLong, s"lost quanta at $tag")
    // every bucket's summary counts exactly the quanta it merged
    bs.foreach(b => assert(b.s == b.cnt, s"cnt/count drift at $tag"))
    bs.foreach(b => assert(b.firstQ <= b.lastQ))
    // cnts: powers of two, non-increasing toward the present, ≤ C each
    bs.foreach(b => assert((b.cnt & (b.cnt - 1)) == 0L))
    bs.sliding(2).foreach {
      case Vector(a, b) => assert(a.cnt >= b.cnt)
      case _ => ()
    }
    bs.groupBy(_.cnt).foreach { case (cnt, g) =>
      assert(g.size <= C, s"${g.size} buckets of cnt $cnt at $tag")
    }
    // the newest bucket is always the newest quantum alone — the fact
    // that makes "no covered bucket ⟺ window empty" hold sparse
    assert(bs.last.cnt == 1L && bs.last.firstQ == quanta.last)
    // the staleness invariant's backbone: if a cnt-L bucket exists,
    // every smaller cnt has ≥ C−1 buckets
    val cnts = bs.groupBy(_.cnt).map { case (l, g) => l -> g.size }
    cnts.keys.foreach { l =>
      var s = 1L
      while (s < l) {
        assert(cnts.getOrElse(s, 0) >= C - 1,
          s"cnt $s has <${C - 1} buckets below a cnt-$l bucket at $tag")
        s *= 2
      }
    }
  }

  test("EH layout invariants hold for every prefix length (dense)") {
    (1 to 300).foreach(n => layoutLaws((0 until n).map(_.toLong), s"n=$n"))
  }

  test("EH layout invariants hold on sparse grids (random gaps)") {
    val rnd = new Random(3)
    (1 to 60).foreach { trial =>
      val n = 1 + rnd.nextInt(250)
      // strictly increasing quanta with gaps up to years-at-minutes scale
      val quanta = Iterator.iterate(rnd.nextInt(1000).toLong)(
        q => q + 1L + (if (rnd.nextInt(4) == 0) rnd.nextInt(1 << 20) else rnd.nextInt(3)))
        .take(n).toVector
      layoutLaws(quanta, s"trial=$trial")
    }
  }

  private def coverLaws(quanta: Seq[Long], starts: Seq[Long], tag: String): Unit = {
    val bs = buildCounts(quanta)
    starts.foreach { qs =>
      SlidingEh.cover(bs, qs, C) match {
        case None =>
          // None ⟺ the window holds no data at all
          assert(!quanta.exists(_ >= qs), s"missing cover qs=$qs $tag")
        case Some(cov) =>
          // tCovQ is the oldest covered non-empty quantum; the covered
          // summary counts exactly the quanta at-or-after it
          assert(quanta.contains(cov.tCovQ) && cov.tCovQ >= qs)
          assert(cov.covered.map(_.s).sum == quanta.count(_ >= cov.tCovQ).toLong,
            s"coverage drift qs=$qs $tag")
          assert(cov.staleOk, s"staleness violated qs=$qs $tag")
          // quantitative DATA bound: non-empty quanta the answer loses
          // (inside the window but older than tCovQ) ≤ covered/(C−1)
          val lost = quanta.count(q => q >= qs && q < cov.tCovQ).toLong
          val coveredCnt = cov.covered.map(_.cnt).sum
          assert((C - 1L) * lost <= coveredCnt,
            s"lost $lost vs covered $coveredCnt at qs=$qs $tag")
      }
    }
  }

  test("cover: exact suffix, staleness invariant, for every start (dense)") {
    (1 to 200).foreach { n =>
      val quanta = (0 until n).map(_.toLong)
      coverLaws(quanta, -2L to n.toLong + 2, s"n=$n")
    }
  }

  test("cover: exact suffix + data-staleness bound on sparse grids") {
    val rnd = new Random(17)
    (1 to 40).foreach { trial =>
      val n = 1 + rnd.nextInt(200)
      val quanta = Iterator.iterate(0L)(
        q => q + 1L + (if (rnd.nextInt(4) == 0) rnd.nextInt(1 << 20) else rnd.nextInt(3)))
        .take(n).toVector
      // probe starts: every quantum, gap interiors, and beyond both ends
      val starts = (quanta ++ quanta.map(_ + 1L) ++ quanta.map(_ - 1L) ++
        Seq(quanta.last + 5L, -5L)).distinct
      coverLaws(quanta, starts, s"trial=$trial")
    }
  }

  test("GK member: covered-suffix rank guarantee through the EH") {
    val rnd = new Random(7)
    val nQ = 130
    val perQ = 40
    val m = 64
    // heavy-tailed values so quantiles are non-trivial
    val quanta = Vector.tabulate(nQ) { _ =>
      Array.fill(perQ)(math.exp(rnd.nextGaussian() * 2))
    }
    val sks = quanta.map { vs =>
      val s = vs.sorted
      GkSummary.prune(GkSummary.exact(s, s.length), m)
    }
    val bs = SlidingEh.build(sks.zipWithIndex.map { case (s, i) => (i.toLong, s) }, C,
      GkSketch(m).mergeSummaries)
    Seq(0L, 7L, 31L, 64L, 100L, 128L).foreach { qs =>
      val cov = SlidingEh.cover(bs, qs, C).get
      val merged = SlidingEh.gkMergeAll(cov.covered.map(_.s))
      val suffix = quanta.drop(cov.tCovQ.toInt).flatten.sorted
      assert(merged.n == suffix.length.toLong)
      Seq(0.1, 0.5, 0.9).foreach { phi =>
        val r = 1L + math.round(phi * (merged.n - 1))
        val est = GkSummary.query(merged, phi)
        val cntLt = suffix.count(_ < est).toLong
        val cntLe = suffix.count(_ <= est).toLong
        // rank range within n·(levels+1)/(m−1); with nQ=130, perQ=40,
        // m=64 the budget is well under n/8 — assert n/8
        val eps = merged.n / 8 + 1
        assert(cntLt + 1 - r <= eps && r - cntLe <= eps,
          s"rank miss qs=$qs phi=$phi r=$r lt=$cntLt le=$cntLe n=${merged.n}")
      }
    }
  }

  test("GK member: deep EH over duplicate-heavy quanta keeps the rank budget") {
    // regression for the q311 sf1 failure: 10× copy scaling gives every
    // (quantum, value) multiplicity 10 — single-value quanta. The old
    // run-collapsed exact() made each quantum an ε ≈ 0.45 summary and
    // the merge tree inflated every interval to ~0.9·n (p10 answered
    // with the global min); positional width-0 tuples keep the
    // merge-and-reduce budget whatever the duplication.
    val nQ = 16384
    val m = 2048
    val dup = 10
    val vals = Array.tabulate(nQ)(i => ((i * 2654435761L) % 1000003L).toDouble)
    val quanta = vals.toIndexedSeq.map { v =>
      GkSummary.prune(GkSummary.exact(Array.fill(dup)(v), dup), m)
    }
    val bs = SlidingEh.build(quanta.zipWithIndex.map { case (s, i) => (i.toLong, s) },
      C, GkSketch(m).mergeSummaries)
    val merged = SlidingEh.gkMergeAll(SlidingEh.cover(bs, 0L, C).get.covered.map(_.s))
    assert(merged.n == nQ.toLong * dup)
    val sorted = vals.flatMap(v => Array.fill(dup)(v)).sorted
    Seq(0.1, 0.5, 0.9).foreach { phi =>
      val r = 1L + math.round(phi * (merged.n - 1))
      val est = GkSummary.query(merged, phi)
      val lt = sorted.count(_ < est).toLong
      val le = sorted.count(_ <= est).toLong
      val budget = merged.n / 40
      assert(lt + 1 - r <= budget && r - le <= budget,
        s"phi=$phi r=$r lt=$lt le=$le budget=$budget")
    }
  }

  test("MG member: merge-tree-free undercount bound through the EH") {
    val rnd = new Random(11)
    val nQ = 90
    val k = 8
    // one genuinely heavy item + zipf-ish noise
    val quanta = Vector.tabulate(nQ) { _ =>
      val items = Array.fill(30)(s"u${rnd.nextInt(40)}") ++ Array.fill(20)("heavy")
      val m = items.groupBy(identity).map { case (kk, g) => kk -> g.length.toLong }
      (items.length.toLong, m)
    }
    // the EH merge reuses its first argument: hand it its own copies
    val mg = MgSketch(k)
    val bs = SlidingEh.build(quanta.zipWithIndex.map { case ((n, m), i) =>
      (i.toLong, (n, scala.collection.mutable.HashMap.from(m))) }, C, mg.mergeCounted)
    Seq(0L, 13L, 40L, 77L).foreach { qs =>
      val cov = SlidingEh.cover(bs, qs, C).get
      val (n, summ) = cov.covered.map(_.s)
        .foldLeft((0L, mg.empty()))(mg.mergeCounted)
      val exact = quanta.drop(cov.tCovQ.toInt)
        .flatMap(_._2.toSeq).groupBy(_._1)
        .map { case (kk, g) => kk -> g.map(_._2).sum }
      assert(n == exact.values.sum)
      // never overestimates; undercount ≤ n/(k+1); heavy present
      summ.foreach { case (kk, est) =>
        val truth = exact.getOrElse(kk, 0L)
        assert(est <= truth, s"overestimate $kk at qs=$qs")
        assert((truth - est) * (k + 1) <= n, s"undercount bound $kk at qs=$qs")
      }
      exact.foreach { case (kk, c) =>
        if (c * (k + 1) > n) assert(summ.contains(kk), s"heavy $kk missing qs=$qs")
      }
    }
  }

  test("streaming monitor state obeys the batch error budget at any trigger cadence") {
    import graft.streaming.SlidingMonitor
    val rnd = new Random(23)
    val m = 64
    // one quantum's rows, arriving over k triggers for several k —
    // the level-carry discipline must keep the rank budget independent
    // of cadence (a naive merge-per-trigger would not)
    val vs = Array.fill(4000)(math.exp(rnd.nextGaussian()))
    Seq(1, 3, 8, 40).foreach { triggers =>
      val slices = vs.grouped(math.ceil(vs.length.toDouble / triggers).toInt).toSeq
      var st = SlidingMonitor.MonState(Map.empty, 0L, Long.MinValue)
      var lastSk: graft.operators.SlidingRows.GkSkR = null
      slices.foreach { slice =>
        val rows = slice.toIndexedSeq.map(v => SlidingMonitor.In("k", 7L, v))
        val (st2, outs) = SlidingMonitor.testFold(rows, st, m)
        st = st2
        lastSk = outs.last.sk
      }
      assert(st.ver == slices.length.toLong)
      val s = graft.operators.SlidingRows.GkSkR.summary(lastSk)
      assert(s.n == vs.length.toLong, s"n drift at triggers=$triggers")
      val sorted = vs.sorted
      Seq(0.1, 0.5, 0.9).foreach { phi =>
        val r = 1L + math.round(phi * (s.n - 1))
        val est = graft.plans.GkSummary.query(s, phi)
        val lt = sorted.count(_ < est).toLong
        val le = sorted.count(_ <= est).toLong
        val eps = s.n / 10 + 1
        assert(lt + 1 - r <= eps && r - le <= eps,
          s"rank budget broken at triggers=$triggers phi=$phi")
      }
    }
  }

  test("monitor horizon: state stays bounded and inside-horizon emissions are unchanged") {
    import graft.streaming.SlidingMonitor
    val rnd = new Random(31)
    val m = 64
    val horizon = 24L
    // a long replay: 400 triggers, each touching a fresh quantum plus
    // an occasional recent one — the always-on shape that round 9's
    // unbounded monitor grew O(stream lifetime) state on
    var bounded = SlidingMonitor.MonState(Map.empty, 0L, Long.MinValue)
    var free = SlidingMonitor.MonState(Map.empty, 0L, Long.MinValue)
    (0 until 400).foreach { t =>
      val q = t.toLong
      val rows = IndexedSeq.tabulate(20)(i =>
        SlidingMonitor.In("k", q, rnd.nextDouble() * 100)) ++
        (if (t > 2) IndexedSeq.tabulate(5)(_ =>
          SlidingMonitor.In("k", q - 2, rnd.nextDouble() * 100)) else Nil)
      val (b2, outsB) = SlidingMonitor.testFold(rows, bounded, m, horizon)
      val (f2, outsF) = SlidingMonitor.testFold(rows, free, m)
      bounded = b2; free = f2
      // the bound: never more quanta in state than the horizon
      assert(bounded.quanta.size <= horizon,
        s"state ${bounded.quanta.size} quanta > horizon at trigger $t")
      // inside-horizon emissions identical to the unbounded monitor's
      // (all touched quanta here are within the horizon of their trigger)
      assert(outsB == outsF, s"in-horizon emission drift at trigger $t")
    }
    assert(free.quanta.size == 400L, "unbounded baseline should hold all quanta")
    // the bounded cube equals the unbounded cube restricted to the horizon
    val cut = bounded.qMax - horizon + 1
    assert(bounded.quanta == free.quanta.filter(_._1 >= cut))
    // late rows beyond the horizon are dropped, not resurrected partial
    val late = IndexedSeq(SlidingMonitor.In("k", 0L, 1.0))
    val (b3, outs3) = SlidingMonitor.testFold(late, bounded, m, horizon)
    assert(outs3.isEmpty && !b3.quanta.contains(0L), "evicted quantum resurrected")
  }

  test("MG monitor: guarantees hold at any trigger cadence; CM monitor cube is cadence-exact") {
    import graft.streaming.SlidingMonitor
    val rnd = new Random(41)
    val k = 8
    val items = Array.fill(3000)(
      if (rnd.nextInt(3) == 0) "heavy" else s"u${rnd.nextInt(50)}")
    val exact = items.groupBy(identity).map { case (kk, g) => kk -> g.length.toLong }
    Seq(1, 4, 17).foreach { triggers =>
      val slices = items.grouped(math.ceil(items.length.toDouble / triggers).toInt).toSeq
      var st = SlidingMonitor.MgMonState(Map.empty, 0L, Long.MinValue)
      var cm = SlidingMonitor.CmMonState(0L, Long.MinValue)
      // the CM monitor emits DELTAS (state holds no cells): the reader's
      // additive fold is what must be cadence-exact
      val cube = scala.collection.mutable.HashMap.empty[Long, Long]
      slices.foreach { slice =>
        val rows = slice.toIndexedSeq.map(it => SlidingMonitor.MgIn("k", 5L, it))
        val (st2, _) = SlidingMonitor.testMgFold(rows, st, k)
        st = st2
        val xs = slice.toIndexedSeq.map(it =>
          SlidingMonitor.CmIn("k", 5L, (it.hashCode & 0x7fffffff).toLong))
        val (cm2, outs) = SlidingMonitor.testCmFold(xs, cm, depth = 3, width = 16)
        cm = cm2
        outs.foreach { o =>
          assert(o.q == 5L)
          o.entries.foreach(e =>
            cube.update(e.idx, cube.getOrElse(e.idx, 0L) + e.cnt))
        }
      }
      val MgQ = st.quanta(5L)
      assert(MgQ.n == items.length.toLong, s"n drift at triggers=$triggers")
      // never overestimates; undercount ≤ n/(k+1); heavy present
      MgQ.entries.foreach { case (kk, est) =>
        assert(est <= exact(kk), s"overestimate $kk at triggers=$triggers")
        assert((exact(kk) - est) * (k + 1) <= MgQ.n)
      }
      exact.foreach { case (kk, c) =>
        if (c * (k + 1) > MgQ.n)
          assert(MgQ.entries.contains(kk), s"heavy $kk missing at triggers=$triggers")
      }
      // count-min state is EXACT per cell whatever the cadence — the
      // in-fold explosion must land on the same cells as a direct build
      // with the shared coefficient family
      val params = graft.functions.HashFns.minhashParams(3)
      val direct = items
        .flatMap { it =>
          val x = (it.hashCode & 0x7fffffff).toLong
          params.map { case (row, a, b) =>
            row.toLong * 16 + ((a * x + b) % graft.functions.HashFns.P) % 16 }
        }
        .groupBy(identity).map { case (idx, g) => idx -> g.length.toLong }
      assert(cube.toMap == direct, s"CM cell drift at triggers=$triggers")
      // delta emissions carry exactly the input mass: depth cells/event
      assert(cube.valuesIterator.sum == items.length.toLong * 3,
        s"delta mass drift at triggers=$triggers")
    }
  }

  test("monitor pre-fold: guarantees are partition-count independent") {
    import graft.streaming.SlidingMonitor
    val rnd = new Random(53)
    val vs = Array.fill(4000)(rnd.nextDouble() * 1000)
    val items = Array.fill(4000)(
      if (rnd.nextInt(3) == 0) "heavy" else s"u${rnd.nextInt(60)}")
    val exact = items.groupBy(identity).map { case (kk, g) => kk -> g.length.toLong }
    val m = 64; val k = 8
    // one trigger split into P per-partition partials — the streaming
    // pre-fold's shape; guarantees must not depend on P
    Seq(1, 3, 8, 31).foreach { parts =>
      val gkParts = vs.grouped(math.ceil(vs.length.toDouble / parts).toInt)
        .flatMap(chunk => SlidingMonitor.gkPrefold(
          chunk.iterator.map(v => SlidingMonitor.In("k", 7L, v)), m)).toSeq
      val (gst, gouts) = SlidingMonitor.foldKey(gkParts,
        SlidingMonitor.MonState(Map.empty, 0L, Long.MinValue), m)
      assert(gst.ver == 1L && gouts.size == 1)
      val s = graft.operators.SlidingRows.GkSkR.summary(gouts.head.sk)
      assert(s.n == vs.length.toLong, s"n drift at parts=$parts")
      val sorted = vs.sorted
      Seq(0.1, 0.5, 0.9).foreach { phi =>
        val r = 1L + math.round(phi * (s.n - 1))
        val est = graft.plans.GkSummary.query(s, phi)
        val lt = sorted.count(_ < est).toLong
        val le = sorted.count(_ <= est).toLong
        val eps = s.n / 10 + 1
        assert(lt + 1 - r <= eps && r - le <= eps,
          s"rank budget broken at parts=$parts phi=$phi")
      }
      val mgParts = items.grouped(math.ceil(items.length.toDouble / parts).toInt)
        .flatMap(chunk => SlidingMonitor.mgPrefold(
          chunk.iterator.map(it => SlidingMonitor.MgIn("k", 5L, it)), k)).toSeq
      val (mst, _) = SlidingMonitor.mgFoldKey(mgParts,
        SlidingMonitor.MgMonState(Map.empty, 0L, Long.MinValue), k)
      val mq = mst.quanta(5L)
      assert(mq.n == items.length.toLong && mq.entries.size <= k)
      mq.entries.foreach { case (kk, est) =>
        assert(est <= exact(kk) && (exact(kk) - est) * (k + 1) <= mq.n,
          s"MG bound broken at parts=$parts for $kk")
      }
      exact.foreach { case (kk, c) =>
        if (c * (k + 1) > mq.n)
          assert(mq.entries.contains(kk), s"heavy $kk missing at parts=$parts")
      }
    }
  }

  test("eviction admission floor: a quantum behind the floor can never enter state") {
    import graft.streaming.SlidingMonitor
    val m = 64
    val horizon = 10L
    // a re-created key (fresh state) receiving one late partial below
    // the watermark floor plus one live partial: the late quantum must
    // neither enter state nor emit — the no-resurrection law that makes
    // state.remove() sound under key eviction
    val fresh = SlidingMonitor.MonState(Map.empty, 0L, Long.MinValue)
    val late = SlidingMonitor.gkPrefold(
      Iterator(SlidingMonitor.In("k", 80L, 1.0)), m).toSeq
    val live = SlidingMonitor.gkPrefold(
      Iterator(SlidingMonitor.In("k", 100L, 2.0)), m).toSeq
    // watermark quantum 100 → floor = 100 − 10 + 1 = 91
    val (st, outs) = SlidingMonitor.foldKey(late ++ live, fresh, m,
      horizonQuanta = horizon, floorQ = 91L)
    assert(!st.quanta.contains(80L), "floor-dropped quantum resurrected")
    assert(st.quanta.contains(100L))
    assert(outs.map(_.q) == Seq(100L), outs.toString)
    // all-late batch: state stays empty, qMax still advances (monotone)
    val (st2, outs2) = SlidingMonitor.foldKey(late, fresh, m,
      horizonQuanta = horizon, floorQ = 91L)
    assert(st2.quanta.isEmpty && outs2.isEmpty && st2.qMax == 80L)
  }

  test("decayed-MG monitor: streamed state matches one-pass guarantees at any cadence") {
    import graft.streaming.SlidingMonitor
    val rnd = new Random(61)
    val k = 8
    val rows = IndexedSeq.tabulate(3000) { i =>
      val item = if (rnd.nextInt(3) == 0) "heavy" else s"u${rnd.nextInt(50)}"
      SlidingMonitor.DmIn("k", i.toLong * 10, item) // time-ordered replay
    }
    val exactMass = {
      val tRef = rows.map(_.t).max
      rows.groupBy(_.item).map { case (it, rs) =>
        it -> rs.map(r => math.pow(2.0, (r.t - tRef).toDouble / 3600.0)).sum
      }
    }
    val wTot = exactMass.values.sum
    Seq(1, 4, 17).foreach { triggers =>
      val slices = rows.grouped(
        math.ceil(rows.length.toDouble / triggers).toInt).toSeq
      var st = SlidingMonitor.DmMonState(Long.MinValue, 0.0, Map.empty, 0L)
      var last: SlidingMonitor.DmOut = null
      slices.foreach { slice =>
        val (st2, out) = SlidingMonitor.testDmFold(slice, st, 3600L, k)
        st = st2; last = out
      }
      assert(st.ver == slices.length.toLong)
      assert(last.t_ref == rows.map(_.t).max && last.entries.size <= k)
      val tol = rows.length * 1e-6
      assert(math.abs(last.w - wTot) <= tol, s"mass drift at triggers=$triggers")
      val est = last.entries.map(e => e.item -> e.est).toMap
      exactMass.foreach { case (it, mass) =>
        est.get(it).foreach(e => assert(e <= mass + tol,
          s"overestimate $it at triggers=$triggers"))
        if (mass * (k + 1) > wTot) {
          assert(est.contains(it), s"heavy $it missing at triggers=$triggers")
          assert((mass - est(it)) * (k + 1) <= wTot + tol * (k + 1),
            s"undercount bound broken for $it at triggers=$triggers")
        }
      }
    }
  }

  test("decayed MG monitor: the k state bound survives random multi-partial merges") {
    // Regression for the iterate-while-mutate evict bug (round 13): the
    // old evict updated counter values through the map's own
    // keysIterator, which silently SKIPS keys after an update — merged
    // states kept 9-11 counters at k=8 whenever a merge landed on the
    // hazard, flakily breaking the CLI dm panel's k-bound and the O(k)
    // state claim. Hammer the pure fold across random trigger/partition
    // splits; the bound must hold at every step.
    import graft.streaming.SlidingMonitor
    val k = 8
    for (seed <- 0 until 300) {
      val rnd = new Random(seed)
      val n = 200 + rnd.nextInt(600)
      val rows = IndexedSeq.tabulate(n)(i =>
        SlidingMonitor.DmIn("x", i.toLong * (1 + rnd.nextInt(5000)),
          s"u${rnd.nextInt(40)}")).sortBy(_.t)
      val slices = rows.grouped(math.max(1, n / (1 + rnd.nextInt(10)))).toSeq
      var st = SlidingMonitor.DmMonState(Long.MinValue, 0.0, Map.empty, 0L)
      slices.foreach { slice =>
        val parts = slice.groupBy(_ => rnd.nextInt(6)).values.toSeq.flatMap(
          ss => SlidingMonitor.dmPrefold(ss.iterator, 86400L, k))
        val (st2, out) = SlidingMonitor.dmFoldKey(parts, st, 86400L, k)
        st = st2
        assert(out.entries.size <= k && st.entries.size <= k,
          s"k bound broken at seed=$seed: out=${out.entries.size} " +
            s"state=${st.entries.size}")
      }
    }
  }

  test("decayed sum: rebasing fold matches direct weights at any partitioning") {
    val ev = core.Tables.events(spark, sf())
    def run(parts: Int): Map[String, (Long, Long, Double)] = ev.repartition(parts)
      .select(col("event_type").cast("string").as("key"),
        col("sec").cast("long").as("t"), col("value").cast("double").as("x"))
      .groupBy("key")
      .agg(graft.plans.DecayedSum.of(col("t"), col("x"), 3600L).as("d"))
      .select(col("key"), col("d.n"), col("d.t_ref"), col("d.sum")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val folds = Seq(run(1), run(7), run(32))
    val rows = ev.select(col("event_type").cast("string"),
        col("sec").cast("long"), col("value").cast("double")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val tRef = rs.map(_._2).max
      val direct = rs.map { case (_, t, x) =>
        math.pow(2.0, (t - tRef).toDouble / 3600.0) * x }.sum
      folds.foreach { m =>
        val (n, tr, s) = m(k)
        assert(n == rs.length.toLong && tr == tRef, s"exact anchors drift for $k")
        assert(math.abs(s - direct) <= 1e-6 * rs.length,
          s"$k: fold $s vs direct $direct at n=${rs.length}")
      }
    }
  }

  test("decayed MG: weighted bounds hold at any partitioning, with eviction active") {
    val ev = core.Tables.events(spark, sf())
    val item = when(pmod(col("event_id"), lit(4)) === 0,
      concat(lit("u"), col("user_id"))).otherwise(col("event_type"))
    val k = 8
    Seq(1, 7, 32).foreach { parts =>
      val df = ev.repartition(parts)
      // eviction must actually run: far more distinct items than k,
      // yet the sketch stays k-bounded
      val sk = df.agg(graft.plans.DecayedMg.of(col("sec"), item, 3600L, k).as("s"))
        .select(col("s.w").as("w"), col("s.entries").as("entries")).head
      assert(sk.getSeq[Any](1).size <= k)
      val distinctItems = df.select(item.as("i")).distinct().count()
      assert(distinctItems > k, "test premise: more items than k")
      val flags = graft.operators.Analytics.decayedMgHeavy(df, item, col("sec"),
        halfLifeSec = 3600L, k = k).collect()
      assert(flags.nonEmpty, "no heavy items — test premise broken")
      flags.foreach { r =>
        assert(r.getAs[Long]("present") == 1L &&
          r.getAs[Long]("bounds_ok") == 1L && r.getAs[Long]("w_ok") == 1L,
          s"decayed MG flags at parts=$parts: $r")
      }
    }
  }

  test("sliding gate operators emit all-green flags on real data") {
    val dir = sf("sf0.001")
    val ev = core.Tables.events(spark, dir)
    val mm = ev.agg(min(col("sec")).cast("long").as("a"),
      max(col("sec")).cast("long").as("b")).head
    val starts = (0 until 4)
      .map(kk => ((mm.getLong(0) + kk.toLong * (mm.getLong(1) - mm.getLong(0)) / 4) / 3600L) * 3600L)
      .distinct
    val hourly = SlidingSketches.gkHourly(ev, lit(""), col("value"), col("sec"), 3600L, 256)
    val est = SlidingSketches.gkSlidingEstimates(hourly, 3600L, 256, starts, Seq(0.5))
    val gk = SlidingSketches.gkSlidingCheck(
      ev.select(col("sec").cast("long").as("sec"),
        col("value").cast("double").as("v")),
      est, keyed = false, epsDen = 40).collect()
    assert(gk.nonEmpty)
    gk.foreach { r =>
      assert(r.getAs[Long]("rank_ok") == 1L && r.getAs[Long]("coverage_ok") == 1L
        && r.getAs[Long]("stale_ok") == 1L, s"gk flags: $r")
    }
    val mgH = SlidingSketches.mgHourly(ev, lit(""), col("user_id"), col("sec"), 3600L, 16)
    val cov = SlidingSketches.mgSlidingSummaries(mgH, 3600L, 16, starts)
    val mg = SlidingSketches.mgSlidingCheck(
      ev.select(col("sec").cast("long").as("sec"),
        col("user_id").cast("string").as("item")),
      cov, keyed = false, k = 16).collect()
    assert(mg.nonEmpty)
    mg.foreach { r =>
      assert(r.getAs[Long]("heavy_ok") == 1L && r.getAs[Long]("bounds_ok") == 1L
        && r.getAs[Long]("coverage_ok") == 1L && r.getAs[Long]("stale_ok") == 1L,
        s"mg flags: $r")
    }
  }

  test("cm sliding check: single-pass legs keep flags green and counts exact") {
    // pins the round-15 restructure (direct cells derived from the
    // per-item pass instead of a second pass over the raw × starts
    // join): cells_match == 1 IS the equivalence proof — the derived
    // direct build must still equal the EH-merged cells cell for cell —
    // and n_window is re-checked against an independent raw count.
    // Starts span the whole range so items with data only BEFORE the
    // covered suffix exist (c_cov = 0 rows, which the derived direct
    // leg must NOT turn into spurious zero cells).
    val dir = sf("sf0.001")
    val ev = core.Tables.events(spark, dir)
    val mm = ev.agg(min(col("sec")).cast("long").as("a"),
      max(col("sec")).cast("long").as("b")).head
    val starts = (0 until 4)
      .map(kk => ((mm.getLong(0) + kk.toLong * (mm.getLong(1) - mm.getLong(0)) / 4) / 3600L) * 3600L)
      .distinct
    for (keyed <- Seq(false, true)) {
      val keyCol = if (keyed) col("event_type") else lit("")
      val hourly = SlidingSketches.cmHourly(ev, col("user_id"), col("sec"), 3600L,
        depth = 4, width = 32, key = keyCol)
      val cells = SlidingSketches.cmSlidingCells(hourly, 3600L, depth = 4,
        width = 32, starts)
      val raw = ev.select(keyCol.cast("string").as("key"),
        col("sec").cast("long").as("sec"),
        col("user_id").cast("string").as("item"))
      val out = SlidingSketches.cmSlidingCheck(raw, cells, depth = 4,
        width = 32, keyed = keyed)
      val rows = out.collect()
      assert(rows.nonEmpty, s"keyed=$keyed produced no rows")
      rows.foreach { r =>
        assert(r.getAs[Long]("never_under") == 1L &&
          r.getAs[Long]("cells_match") == 1L &&
          r.getAs[Long]("coverage_ok") == 1L &&
          r.getAs[Long]("stale_ok") == 1L, s"cm flags (keyed=$keyed): $r")
      }
      // independent n_window oracle straight off the raw events
      val kc = if (keyed) Seq("key") else Nil
      val expect = starts.map { s =>
        raw.filter(col("sec") >= s)
          .groupBy((kc.map(col) :+ col("item")): _*)
          .agg(count(lit(1)).as("n"))
          .withColumn("start", lit(s))
      }.reduce(_ unionByName _)
        .collect()
        .map(r => (kc.map(r.getAs[String]).mkString,
          r.getAs[Long]("start"), r.getAs[String]("item")) -> r.getAs[Long]("n"))
        .toMap
      val got = rows.map(r => (kc.map(r.getAs[String]).mkString,
        r.getAs[Long]("start"), r.getAs[String]("item")) -> r.getAs[Long]("n_window"))
      assert(got.toMap.size == got.length, "duplicate (key, start, item) rows")
      got.foreach { case (k, n) =>
        assert(expect.get(k).contains(n), s"n_window mismatch at $k: got $n, want ${expect.get(k)}")
      }
      assert(got.length == expect.size,
        s"row count ${got.length} != expected ${expect.size} (keyed=$keyed)")
    }
  }

  test("monitors: NULL key, time, item and value rows and NaN values match the batch builds") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.streaming.{Replay, SlidingMonitor}
    val spark0 = spark
    import spark0.implicits._
    val nan = Double.NaN
    // hour 10 and 11 of keys a and b, plus one row with a NULL in each
    // input column, a NaN value, and a NULL value alone in its quantum
    val ev = Seq[(String, java.lang.Long, String, java.lang.Double)](
      ("a", 36000L, "u1", 1.0), ("a", 36010L, "u2", 3.0), ("a", 36020L, "u1", 2.0),
      ("b", 39600L, "u3", 5.0), ("b", 39700L, "u1", 4.0), ("a", 39650L, "u2", 6.0),
      (null, 36030L, "u1", 7.0), ("a", null, "u1", 8.0), ("a", 36040L, null, 9.0),
      ("b", 39800L, "u3", null), ("b", 39900L, "u2", nan), ("b", 43200L, "u9", null))
      .toDF("event_type", "sec", "user_id", "value")
    val stream = Replay.of(ev.select(col("event_type").as("key"),
      expr("sec div 3600").as("q"), col("sec").as("t"), col("user_id").as("item"),
      col("value").as("v")), "monitor_nulls", 3).stream()
    def drain(ds: DataFrame): Seq[Row] = {
      val chk = core.TempPaths.registered(
        java.nio.file.Files.createTempDirectory("graft_nullmon")).toString
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      val q = ds.writeStream.outputMode("update").option("checkpointLocation", chk)
        .foreachBatch { (df: DataFrame, _: Long) => out ++= df.collect(); () }.start()
      try q.processAllAvailable() finally q.stop()
      out.toSeq
    }
    def latest(rows: Seq[Row]): Map[(String, Long), Row] =
      rows.groupBy(r => (r.getString(0), r.getLong(1))).map { case (kq, rs) =>
        kq -> rs.maxBy(_.getLong(2)) }
    def batch(df: DataFrame): Map[(String, Long), Row] =
      df.filter(col("key").isNotNull && col("q").isNotNull).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r).toMap
    // GK: (n, tuples) per quantum
    val gk = latest(drain(SlidingMonitor.gkQuantumMonitor(stream.select("key", "q", "v"), 16).toDF()))
    val gkBatch = batch(SlidingSketches.gkHourly(ev, col("event_type"), col("value"),
      col("sec"), 3600L, 16))
    assert(gk.keySet == gkBatch.keySet)
    gkBatch.foreach { case (kq, r) => assert(gk(kq).getStruct(3) == r.getStruct(2), s"gk $kq") }
    assert(gk(("b", 12L)).getStruct(3).getLong(0) == 0L)
    // MG: n (every row) and entries (non-NULL items)
    val mg = latest(drain(SlidingMonitor.mgQuantumMonitor(stream.select("key", "q", "item"), 8).toDF()))
    val mgBatch = batch(SlidingSketches.mgHourly(ev, col("event_type"), col("user_id"),
      col("sec"), 3600L, 8))
    assert(mg.keySet == mgBatch.keySet)
    mgBatch.foreach { case (kq, r) =>
      assert(mg(kq).getLong(3) == r.getLong(2) && mg(kq).get(4) == r.get(3), s"mg $kq") }
    // CM: summed delta cells per quantum
    val cmRows = SlidingSketches.cmKeyRows(stream.select("key", "q", "item"), col("item"),
      col("q") * 3600L, 3600L, key = col("key"))
    val cmLog = drain(SlidingMonitor.cmQuantumMonitor(cmRows, 3, 16).toDF())
    val cm = SlidingMonitor.cmCubeFromDeltas(spark.createDataFrame(
      spark.sparkContext.parallelize(cmLog), cmLog.head.schema)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getSeq[Row](2)).toMap
    val cmBatch = batch(SlidingSketches.cmHourly(ev, col("user_id"), col("sec"), 3600L, 3, 16,
      key = col("event_type"))).map { case (kq, r) =>
      kq -> r.getSeq[Row](2).sortBy(_.getLong(0)) }
    assert(cm == cmBatch)
    // decayed MG: the latest sketch per key against the one-pass aggregate
    val dm = drain(SlidingMonitor.decayedMgMonitor(stream.select("key", "t", "item"), 3600L, 8)
      .toDF()).groupBy(_.getString(0)).map { case (kk, rs) => kk -> rs.maxBy(_.getLong(1)) }
    val dmBatch = ev.filter(col("event_type").isNotNull).groupBy("event_type")
      .agg(plans.DecayedMg.of(col("sec"), col("user_id"), 3600L, 8).as("d")).collect()
      .map(r => r.getString(0) -> r.getStruct(1)).toMap
    assert(dm.keySet == dmBatch.keySet)
    dmBatch.foreach { case (kk, d) =>
      val got = dm(kk)
      def entries(es: Seq[Row]) = es.map(e => e.getString(0) -> e.getDouble(1)).toMap
      val (ge, be) = (entries(got.getSeq[Row](4)), entries(d.getSeq[Row](2)))
      assert(got.getLong(2) == d.getLong(0) && math.abs(got.getDouble(3) - d.getDouble(1)) < 1e-9 &&
        ge.keySet == be.keySet && ge.forall { case (it, e) => math.abs(e - be(it)) < 1e-9 },
        s"dm $kk: $got vs $d")
    }
  }
}
