package graft.plans

import scala.collection.mutable.ArrayBuffer

/** Exponential-histogram (EH) decomposition of a time axis into
  * O(c·log W) buckets of MERGEABLE summaries — the construction that
  * gives the remaining sketch-family members (GK quantiles, Misra–
  * Gries heavy hitters, count-min cells) their sliding/time-decayed
  * leg, completing what the suffix-minima KMV state
  * ([[KmvSlidingState]], q294–q297) started. KMV got an EXACT sliding
  * form because bottom-k membership is a pure suffix property; rank
  * and frequency summaries have no such structure, so the standard
  * answer (Datar–Gionis–Indyk–Motwani SODA'02 exponential histograms,
  * carried over to arbitrary mergeable summaries per Agarwal et al.
  * PODS'12) is kept here: per-quantum summaries (one per hour/minute —
  * built DISTRIBUTED by an ordinary groupBy) decompose into dyadic
  * buckets whose sizes double with age, and a window query answers
  * from the O(log) buckets newer than the window start.
  *
  * Buckets are TIMESTAMPED and SPARSE: only quanta that actually hold
  * data enter the structure, each bucket records the first/last
  * quantum it covers plus how many non-empty quanta it merged. A key
  * with two events a year apart at minute quanta costs two buckets,
  * not a year of empty grid positions — there is no dense fill and no
  * grid-span guard anywhere (the round-9 dense build materialized
  * every quantum from min to max and `require`-guarded the span at
  * 2^22; both are gone).
  *
  * Construction (non-empty quanta fed oldest → newest):
  *   - each quantum enters as a cnt-1 bucket at the new end;
  *   - whenever more than `c` buckets share a cnt, the two OLDEST of
  *     that cnt (adjacent in the non-empty-quanta sequence by
  *     construction) merge into one bucket of twice the cnt.
  * Invariants (SlidingEhSpec property-tests them, dense and sparse):
  *   - buckets partition the non-empty-quanta sequence in time order,
  *     cnts are powers of two and non-increasing toward the present,
  *     ≤ c buckets per cnt;
  *   - if a cnt-2^i bucket exists, every cnt 2^j (j < i) has ≥ c−1
  *     buckets — so the buckets NEWER than any cnt-L straddler cover
  *     ≥ (c−1)·(L−1) non-empty quanta. That is the quantitative
  *     staleness guarantee a query checks: the DATA the uncovered head
  *     of a window can lose is at most L−1 non-empty quanta ≤
  *     ~2/(c−1) of the covered (answered) quanta — a relative-data
  *     bound, which for sparse grids is strictly more meaningful than
  *     the dense build's relative-time bound (an empty year between
  *     two quanta is staleness-free: no data lives in it).
  *
  * Query semantics ([[cover]]): for window start qs the answer is the
  * merge of all buckets with firstQ ≥ qs — an EXACT TIME SUFFIX
  * [tCov, now] whose boundary tCov is the oldest covered non-empty
  * quantum. Exact-suffix coverage is what makes the construction
  * gateable at q285/q270 strength: a verifier can join the answered
  * summary back to the raw rows of {ts ≥ tCov} and check the summary's
  * own guarantees (GK rank intervals, MG undercount bounds, count-min
  * cell equality) against exact counts, because the covered multiset
  * is a deterministic pure function of (data, grid), not of
  * partitioning (the per-quantum summaries ARE partitioning-
  * independent in their guarantees, and the EH layout depends only on
  * the key's non-empty-quantum sequence).
  *
  * Scale shape: the heavy lift (per-quantum summaries over raw rows)
  * is an ordinary distributed aggregation; the EH fold is
  * O(#non-empty quanta) driver-free work per key inside mapGroups — a
  * year of hourly quanta is ≤ ~10^4 summary objects per key, each
  * m-bounded, and a sparse key costs only what it holds. Nothing here
  * rescans raw data at query time.
  */
object SlidingEh {

  /** A bucket covering the non-empty quanta in [firstQ, lastQ] with
    * the merged summary of those quanta; `cnt` is how many non-empty
    * quanta it merged (the DGIM size — powers of two). */
  final case class Bucket[S](firstQ: Long, lastQ: Long, cnt: Long, s: S)

  /** Fold an oldest→newest sequence of (quantum, summary) pairs —
    * NON-EMPTY quanta only, strictly increasing q — into the EH bucket
    * list (oldest first). `merge` is the summary family's own merge
    * ([[MgSketch.mergeCounted]], [[GkSketch.mergeSummaries]],
    * [[CmSketch.merge]]); it may reuse its first argument, the older
    * bucket's summary, which the merged bucket replaces. It may prune:
    * per-element prune count is bounded by the dyadic depth
    * log2(#quanta), which is what keeps GK's rank-error budget bounded
    * — see the q285 bound; MG's undercount bound is merge-tree-free. */
  def build[S](quanta: Seq[(Long, S)], c: Int,
      merge: (S, S) => S): Vector[Bucket[S]] = {
    require(c >= 2, s"EH branching out of range: $c")
    val buf = ArrayBuffer.empty[Bucket[S]]
    var prevQ = Long.MinValue
    quanta.foreach { case (q, s) =>
      require(q > prevQ, s"quanta not strictly increasing at $q")
      prevQ = q
      buf += Bucket(q, q, 1L, s)
      var cnt = 1L
      var cascading = true
      while (cascading) {
        cascading = false
        // buckets of one cnt are contiguous (cnts non-increasing with
        // index), so scan for the first index at this cnt
        var i = 0
        while (i < buf.length && buf(i).cnt > cnt) i += 1
        var k = 0
        var j = i
        while (j < buf.length && buf(j).cnt == cnt) { k += 1; j += 1 }
        if (k > c) {
          // merge the two OLDEST at this cnt (adjacent in sequence)
          val a = buf(i); val b = buf(i + 1)
          buf(i) = Bucket(a.firstQ, b.lastQ, a.cnt + b.cnt, merge(a.s, b.s))
          buf.remove(i + 1)
          cnt *= 2
          cascading = true
        }
      }
    }
    buf.toVector
  }

  /** Result of a window query at quantum start `qs`: the covered
    * buckets (an exact time suffix from `tCovQ`), the straddling
    * bucket's non-empty-quanta count (0 if none), and the verdict of
    * the staleness invariant check. */
  final case class Cover[S](tCovQ: Long, covered: Vector[Bucket[S]],
      stradCnt: Long, staleOk: Boolean)

  /** Covered suffix for a window starting at quantum `qs`. Returns
    * None when no bucket starts at-or-after qs — and because the
    * newest bucket is always the cnt-1 bucket of the newest non-empty
    * quantum, None ⟺ the window holds no data at all (with
    * quantum-aligned starts). `staleOk` asserts the EH guarantee this
    * layout promises: a cnt-L straddler (L ≥ 2; a cnt-1 bucket cannot
    * straddle) can hide at most L−1 non-empty quanta that belong to
    * the window, and the covered suffix holds ≥ (c−1)·(L−1) non-empty
    * quanta — so the answered data misses at most ~2/(c−1) of itself,
    * whatever the time gaps look like; a window reaching at-or-before
    * the oldest bucket is fully covered (no staleness at all). */
  def cover[S](buckets: Vector[Bucket[S]], qs: Long, c: Int): Option[Cover[S]] = {
    val covered = buckets.filter(_.firstQ >= qs)
    if (covered.isEmpty) None
    else {
      val tCovQ = covered.head.firstQ
      val strad = buckets.find(b => b.firstQ < qs && b.lastQ >= qs)
      val coveredCnt = covered.map(_.cnt).sum
      val staleOk = strad match {
        case None => true // all window data covered: gap quanta are empty
        case Some(b) =>
          tCovQ > b.lastQ && (c - 1L) * (b.cnt - 1L) <= coveredCnt
      }
      Some(Cover(tCovQ, covered, strad.map(_.cnt).getOrElse(0L), staleOk))
    }
  }

  /** Query-side merge of covered GK buckets WITHOUT pruning: the
    * answer summary may hold Σ bucket sizes (≤ c·log W · m) tuples —
    * fine for a query result — and pays ZERO extra rank error, where
    * pruning each fold step would add a per-bucket error term. */
  def gkMergeAll(covered: Seq[GkSummary]): GkSummary =
    covered.foldLeft(GkSummary.empty)(GkSummary.merge)
}
