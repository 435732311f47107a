package graft.plans

import org.apache.spark.sql.Column

/* The Column surface of the sketch families: one builder per
 * aggregate (graft.functions.GraftFunctions registers them as the
 * graft_* SQL functions), each a SketchAgg over its family's algebra,
 * plus GK's scalar quantile read. */

object MisraGries {
  /** `misra_gries(key, k)` aggregate column: array<struct<key, est>> —
    * at most k counters, (est desc, key asc) ordered. */
  def summary(key: Column, k: Int): Column =
    Sketch.column(MisraGriesSummary(Sketch.child(key.cast("string")), k))
}

object TopKAgg {
  /** `top_k(w, id, k)` aggregate column: array<struct<w,id>> of the k
    * best (w desc, id asc) entries of the group. */
  def topK(w: Column, id: Column, k: Int): Column =
    Sketch.column(TopKPairs(Sketch.child(w.cast("double")),
      Sketch.child(id.cast("long")), k))
}

object Kmv {
  /** `kmv_min_values(h, k)` aggregate column over an ALREADY-HASHED
    * long column: ascending array<long> of the k smallest distinct
    * values. */
  def minValues(h: Column, k: Int): Column =
    Sketch.column(KmvMinValues(Sketch.child(h.cast("long")), k))
}

object KmvSliding {
  /** `kmv_sliding(hash, ts, k)` aggregate column over an
    * ALREADY-HASHED long column plus its event time: the suffix-minima
    * state array<struct<h, ts>> ascending by hash. */
  def state(h: Column, ts: Column, k: Int): Column =
    Sketch.column(KmvSlidingState(Sketch.child(h.cast("long")),
      Sketch.child(ts.cast("long")), k))
}

object GkQuantile {
  /** `graft_gk(value, m)` aggregate column: the mergeable quantile
    * summary struct<n, tuples> over a numeric column. The raw buffer
    * auto-sizes to max(2048, m) so every documented-legal m works. */
  def sketch(value: Column, m: Int): Column =
    Sketch.column(GkQuantileAgg(Sketch.child(value.cast("double")), m,
      bufCap = GkSketch(m).bufCap))

  /** `graft_gk_merge(sketch, m)` aggregate column: fold already-built
    * summaries into one (hour→day roll-up; no raw-value rescan). */
  def mergeSketches(sketch: Column, m: Int): Column =
    Sketch.column(GkMergeAgg(Sketch.child(sketch), m, bufCap = GkSketch(m).bufCap))

  /** `graft_gk_q(sketch, phi)` SCALAR: extract the φ-quantile estimate
    * from a summary struct — value of the tuple whose midpoint is
    * nearest the target rank 2r in integer score, first tuple on ties
    * (the array is (v, rmin)-sorted, so "first" ≡ GkSummary.query's
    * lowest-index rule and gkQuantiles' min_by tie-break: ONE rule,
    * three surfaces). Pure array fold — usable per row in SQL over a
    * published sketch column, no re-aggregation. */
  def quantileCol(sk: Column, phi: Double): Column = {
    import org.apache.spark.sql.functions._
    val n = sk.getField("n")
    val r = lit(1L) + round(lit(phi) * (n.cast("double") - 1.0)).cast("long")
    val folded = aggregate(sk.getField("tuples"),
      struct(lit(Long.MaxValue).as("score"), lit(Double.NaN).as("v")),
      (acc, t) => {
        val score = abs(t.getField("rmin") + t.getField("rmax") - lit(2L) * r)
        when(score < acc.getField("score"),
          struct(score.as("score"), t.getField("v").as("v")))
          .otherwise(acc)
      })
    folded.getField("v")
  }
}

object DecayedSum {
  /** `graft_decayed(t, x, halfLifeSec)` aggregate column:
    * struct<n, t_ref, sum> with sum = Σ 2^((t − t_ref)/h)·x and
    * t_ref = max(t) of the group. */
  def of(t: Column, x: Column, halfLifeSec: Long): Column =
    Sketch.column(DecayedSumAgg(Sketch.child(t.cast("long")),
      Sketch.child(x.cast("double")), halfLifeSec))
}

object DecayedMg {
  /** `graft_decayed_mg(t, key, halfLifeSec, k)` aggregate column:
    * struct<t_ref, w, entries> — ≤ k recency-weighted counters with
    * t_ref = max(t) of the group and w = total decayed mass. */
  def of(t: Column, key: Column, halfLifeSec: Long, k: Int): Column =
    Sketch.column(DecayedMgAgg(Sketch.child(t.cast("long")),
      Sketch.child(key.cast("string")), halfLifeSec, k))
}
