package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{CmSketch, GkSketch, GkSummary, MgSketch, SlidingEh}

/** Row shapes for the typed (Dataset) legs of the sliding sketches.
  * Top-level case classes so implicit Encoders derive. Field names
  * match the sketch structs they decode (GkQuantileAgg's
  * struct<n, tuples<v, rmin, rmax>>, MisraGriesSummary's
  * array<struct<key, est>>). */
object SlidingRows {
  final case class GkTupleR(v: Double, rmin: Long, rmax: Long)
  final case class GkSkR(n: Long, tuples: Seq[GkTupleR])
  object GkSkR {
    def of(s: GkSummary): GkSkR = GkSkR(s.n,
      (0 until s.size).map(i => GkTupleR(s.vs(i), s.rmins(i), s.rmaxs(i))))
    def summary(r: GkSkR): GkSummary =
      GkSummary(r.n, r.tuples.map(_.v).toArray, r.tuples.map(_.rmin).toArray,
        r.tuples.map(_.rmax).toArray)
  }
  final case class GkHourRow(key: String, q: Long, sk: GkSkR)
  final case class GkEstRow(key: String, start: Long, t_cov_sec: Long,
      phi: Double, n_cov: Long, r_cov: Long, est: Double, stale_ok: Long)
  final case class MgEntry(key: String, est: Long)
  final case class MgHourRow(key: String, q: Long, n: Long, entries: Seq[MgEntry])
  final case class MgCovRow(key: String, start: Long, t_cov_sec: Long,
      n_cov: Long, stale_ok: Long, entries: Seq[MgEntry])
  final case class CmCell(idx: Long, cnt: Long)
  final case class CmHourRow(key: String, q: Long, entries: Seq[CmCell])
  final case class CmCovRow(key: String, start: Long, t_cov_sec: Long,
      n_cov: Long, stale_ok: Long, cells: Seq[Long])
}

/** SLIDING-WINDOW legs for the order-dependent sketch-family members —
  * GK quantiles ("last-day p99 latency") and Misra–Gries heavy hitters
  * ("last-day top talkers") — via [[graft.plans.SlidingEh]] exponential
  * histograms of per-quantum summaries. Completes the sliding family
  * the suffix-minima KMV state started (q294–q297): KMV's kept set is
  * a pure suffix property so its sliding form is EXACT; rank and
  * frequency summaries are not, so their sliding form answers an exact
  * time SUFFIX [tCov, now] whose data misses at most the EH staleness
  * bound (~2/(C−1)) of the requested window's non-empty quanta — and
  * the gates check exactly that split:
  * coverage exactness + staleness bound + the summary's own guarantees
  * over the covered suffix (q285/q270 discipline, because neither kept
  * set is canonical).
  *
  * Pipeline shape (both members):
  *   1. per-(key, quantum) summaries — ORDINARY DISTRIBUTED groupBy
  *      over raw rows (the 100 TB-heavy step; partial aggregation,
  *      m/k-bounded state per group);
  *   2. per-key EH fold over the NON-EMPTY quanta's summary OBJECTS
  *      inside mapGroups (sparse timestamped buckets — a key costs
  *      only what it holds) — no driver collect, no raw-data rescan,
  *      O(c·log W) buckets of state per key;
  *   3. window queries per start answered from the buckets, verified
  *      by one distributed join back to raw rows.
  * Window starts must be QUANTUM-ALIGNED (require'd): that makes
  * "window nonempty ⟺ covered suffix nonempty" exact, so the emitted
  * row set is a pure function of the data and an oracle can mirror it.
  */
object SlidingSketches {
  import SlidingRows._

  /** EH branching: ≤ C buckets per size; a cnt-L straddler is backed
    * by ≥ (C−1)·(L−1) covered non-empty quanta — the answered data
    * misses at most ~2/(C−1) of itself (a relative-DATA bound; time
    * gaps between sparse quanta are staleness-free). */
  val C = 4

  /** Per-(key, quantum) GK summaries: the distributed step. `key`
    * null-safe string (use lit("") for a global sketch). */
  def gkHourly(df: DataFrame, key: Column, value: Column, sec: Column,
      u: Long, m: Int): DataFrame =
    df.select(key.cast("string").as("key"),
        (sec.cast("long") - pmod(sec.cast("long"), lit(u))).divide(u)
          .cast("long").as("q"),
        value.cast("double").as("v"))
      .groupBy("key", "q")
      .agg(graft.plans.GkQuantile.sketch(col("v"), m).as("sk"))

  /** Per-key EH fold + window-quantile answers. For each key and each
    * quantum-aligned window start with data at-or-after it, emits one
    * row per φ: the covered suffix's exact boundary t_cov_sec, its
    * exact size n_cov (from the summaries' exact n), the 1-based
    * target rank over the covered suffix, the estimate from the
    * UNPRUNED merge of covered buckets (zero extra rank error at query
    * time), and the staleness verdict. Deterministic given (data,
    * grid): the EH layout depends only on the key's non-empty-quantum
    * sequence. */
  def gkSlidingEstimates(hourly: DataFrame, u: Long, m: Int,
      starts: Seq[Long], phis: Seq[Double]): DataFrame = {
    require(starts.nonEmpty && phis.nonEmpty, "empty starts/phis")
    starts.foreach(s => require(s % u == 0,
      s"window start $s not aligned to quantum $u — alignment is what " +
        "makes the emitted row set oracle-mirrorable"))
    val spark = hourly.sparkSession
    import spark.implicits._
    val startsV = starts.toVector
    val phisV = phis.toVector
    val gk = GkSketch(m)
    hourly.select(col("key"), col("q"), col("sk")).as[GkHourRow]
      .groupByKey(_.key)
      .flatMapGroups { (key: String, it: Iterator[GkHourRow]) =>
        // SPARSE grid: only quanta with data enter the EH (timestamped
        // buckets) — a key with two events a year apart at minute
        // quanta costs two buckets, no dense fill, no span guard
        val quanta = it.map(r => r.q -> GkSkR.summary(r.sk)).toVector.sortBy(_._1)
        val buckets = SlidingEh.build(quanta, C, gk.mergeSummaries)
        startsV.iterator.flatMap { s =>
          SlidingEh.cover(buckets, s / u, C) match {
            case None => Iterator.empty // window past newest data ⇒ empty
            case Some(cov) =>
              val merged = SlidingEh.gkMergeAll(cov.covered.map(_.s))
              // covered buckets hold only non-empty quanta, so n > 0;
              // kept as a defensive guard against an all-null value column
              if (merged.n == 0) Iterator.empty
              else phisV.iterator.map { phi =>
                GkEstRow(key, s, cov.tCovQ * u, phi, merged.n,
                  1L + math.round(phi * (merged.n - 1)),
                  GkSummary.query(merged, phi),
                  if (cov.staleOk) 1L else 0L)
              }
          }
        }
      }
      .toDF()
  }

  /** The verification frame (gkRankCheck's sliding twin): one
    * distributed pass joins raw rows to the per-(key, start) answers
    * and checks, per (key, start, φ):
    *   rank_ok     — the estimate's exact rank range over the COVERED
    *                 suffix {sec ≥ t_cov_sec} is within n_cov/epsDen
    *                 of the target rank (the GK merge-and-reduce
    *                 guarantee; EH query-side merging is unpruned so
    *                 it adds nothing);
    *   coverage_ok — n_cov equals the exact raw count of the covered
    *                 suffix (the sketch's n is exact AND the suffix
    *                 boundary is real);
    *   stale_ok    — the EH layout invariant held (computed at answer
    *                 time, carried through).
    * n_window (exact raw count of the REQUESTED window) rides along to
    * anchor every row to oracle-computable data. All three flags are
    * guaranteed 1 by construction; an oracle emits the literals. */
  def gkSlidingCheck(raw: DataFrame, estimates: DataFrame,
      keyed: Boolean, epsDen: Int): DataFrame = {
    val est = broadcast(estimates)
    val joined =
      if (keyed) raw.join(est, "key")
      else raw.drop("key").crossJoin(est.drop("key"))
    val keyCols = if (keyed) Seq(col("key")) else Nil
    val inSuffix = col("sec") >= col("t_cov_sec")
    joined
      .groupBy(keyCols ++ Seq(col("start"), col("phi"), col("n_cov"),
        col("r_cov"), col("est"), col("stale_ok")): _*)
      .agg(
        sum(when(col("sec") >= col("start"), 1L).otherwise(0L)).as("n_window"),
        sum(when(inSuffix, 1L).otherwise(0L)).as("n_suffix"),
        sum(when(inSuffix && col("v") < col("est"), 1L).otherwise(0L)).as("cnt_lt"),
        sum(when(inSuffix && col("v") <= col("est"), 1L).otherwise(0L)).as("cnt_le"))
      .select(keyCols ++ Seq(col("start"), col("phi"), col("n_window"),
        (((col("cnt_lt") + 1 - col("r_cov")) * epsDen <= col("n_cov")) &&
          ((col("r_cov") - col("cnt_le")) * epsDen <= col("n_cov")))
          .cast("long").as("rank_ok"),
        (col("n_suffix") === col("n_cov")).cast("long").as("coverage_ok"),
        col("stale_ok")): _*)
  }

  /** Per-quantum COUNT-MIN cells (global; sparse (idx, cnt) entries,
    * idx = row·width + bucket on the shared md5/FNV hash family of
    * [[Sketches.countMinBuild]]) — the fourth sketch family member's
    * sliding input. Cells are ADDITIVE and canonical (a pure function
    * of the quantum's multiset), so unlike GK/MG the EH-merged covered
    * sketch must EQUAL a direct build of the covered suffix cell for
    * cell — the strongest gating this family allows, and q306 checks
    * exactly that. */
  /** Per-row (key, quantum, 31-bit item hash) on the shared md5 hash —
    * a pure projection (streaming-safe), ONE row per event. The
    * streaming monitor ([[graft.streaming.SlidingMonitor
    * .cmQuantumMonitor]]) consumes this directly and explodes to the
    * ×depth cells INSIDE its stateful fold with the same pure-Scala
    * coefficient family, so the shuffle into the stateful operator
    * carries 1/depth of the cell rows while landing on exactly the
    * cells a batch build lands on. */
  def cmKeyRows(df: DataFrame, item: Column, sec: Column, u: Long,
      key: Column = lit("")): DataFrame =
    df.select(key.cast("string").as("key"),
        (sec.cast("long") - pmod(sec.cast("long"), lit(u))).divide(u)
          .cast("long").as("q"),
        Sketches.keyHash(item).as("x"))

  /** [[cmKeyRows]] exploded to `depth` (key, q, idx) cell rows with
    * idx = row·width + bucket — the batch build's input shape. */
  def cmCellRows(df: DataFrame, item: Column, sec: Column, u: Long,
      depth: Int, width: Int, key: Column = lit("")): DataFrame =
    cmKeyRows(df, item, sec, u, key)
      .select(col("key"), col("q"), col("x"),
        Sketches.paramsExplode(depth).as("p"))
      .select(col("key"), col("q"),
        (col("p.row") * width +
          pmod(graft.functions.HashFns.happly(col("p.a"), col("p.b"), col("x")),
            lit(width.toLong))).as("idx"))

  def cmHourly(df: DataFrame, item: Column, sec: Column, u: Long,
      depth: Int, width: Int, key: Column = lit("")): DataFrame =
    cmCellRows(df, item, sec, u, depth, width, key)
      .groupBy("key", "q", "idx")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("key", "q")
      .agg(collect_list(struct(col("idx"), col("cnt"))).as("entries"))

  /** EH fold + covered-suffix count-min cells per window start: the
    * merged cells of all covered buckets (elementwise addition — the
    * canonical sketch of the exact suffix). n_cov = row-0 total (every
    * row of a count-min sums to n). */
  def cmSlidingCells(hourly: DataFrame, u: Long, depth: Int, width: Int,
      starts: Seq[Long]): DataFrame = {
    require(starts.nonEmpty, "empty starts")
    starts.foreach(s => require(s % u == 0,
      s"window start $s not aligned to quantum $u"))
    val spark = hourly.sparkSession
    import spark.implicits._
    val startsV = starts.toVector
    val cm = CmSketch(depth, width)
    hourly.select(col("key"), col("q"), col("entries")).as[CmHourRow]
      .groupByKey(_.key)
      .flatMapGroups { (key: String, it: Iterator[CmHourRow]) =>
        // SPARSE grid: only quanta with data enter (cells are additive,
        // an absent quantum contributes nothing)
        val quanta = it.map(r => r.q ->
            r.entries.foldLeft(cm.empty())((s, e) => cm.add(s, e.idx, e.cnt)))
          .toVector.sortBy(_._1)
        val buckets = SlidingEh.build(quanta, C, cm.merge)
        startsV.iterator.flatMap { s =>
          SlidingEh.cover(buckets, s / u, C) match {
            case None => Iterator.empty
            case Some(cov) =>
              val cells = cm.dense(cov.covered.map(_.s).foldLeft(cm.empty())(cm.merge))
              val nCov = cells.take(width).sum
              if (nCov == 0) Iterator.empty
              else Iterator.single(CmCovRow(key, s, cov.tCovQ * u, nCov,
                if (cov.staleOk) 1L else 0L, cells.toSeq))
          }
        }
      }
      .toDF()
  }

  /** The count-min sliding verification frame — STRONGER than the
    * GK/MG ones because the sketch is canonical: per window start,
    *   cells_match  — the EH-merged covered cells EQUAL a direct
    *                  count-min build over the raw covered suffix,
    *                  cell for cell (null-safe compare over the full
    *                  outer sparse join);
    *   never_under  — per probe item, min-over-rows estimate ≥ the
    *                  exact covered count (the count-min guarantee);
    *   coverage_ok  — Σ exact per-item suffix counts == n_cov;
    *   stale_ok     — the EH layout invariant.
    * Output one row per (start, item with data in the window), with
    * the oracle-computable exact n_window anchor. */
  def cmSlidingCheck(raw: DataFrame, covered: DataFrame,
      depth: Int, width: Int, keyed: Boolean = false): DataFrame = {
    // keyed mode: `key` is the sketch partition (one EH per key) and
    // rides every group/join below; global mode drops it from both
    // sides. `gcols(...)` prefixes key when keyed.
    def gcols(cs: Column*): Seq[Column] =
      (if (keyed) Seq(col("key")) else Nil) ++ cs
    val kcols = (if (keyed) Seq("key") else Nil)
    val cov = broadcast(if (keyed) covered else covered.drop("key"))
    // item hash hoisted ABOVE the ×|starts| join (round 14, guide §2.3
    // "project before the exchange" applied to an expensive expression):
    // keyHash is the md5-backed shared hash, and evaluating it on the
    // joined frame re-hashed every event once PER WINDOW START; the
    // (row, bucket) cells of an item do not depend on the start.
    val rawx = raw.withColumn("x", Sketches.keyHash(col("item")))
    val joined =
      if (keyed) rawx.join(cov, "key")
      else rawx.crossJoin(cov)
    val inSuffix = col("sec") >= col("t_cov_sec")
    // direct covered-suffix cells from raw rows
    val direct = joined.filter(inSuffix)
      .select(gcols(col("start"), col("x"),
        Sketches.paramsExplode(depth).as("p")): _*)
      .groupBy(gcols(col("start"), col("p.row").as("row"),
        pmod(graft.functions.HashFns.happly(col("p.a"), col("p.b"), col("x")),
          lit(width.toLong)).as("bucket")): _*)
      .agg(count(lit(1)).as("dcnt"))
    // emitted (EH-merged) cells, sparse
    val emitted = cov.select(gcols(col("start"),
        posexplode(col("cells")).as(Seq("idx", "cnt"))): _*)
      .filter(col("cnt") > 0)
      .select(gcols(col("start"), (col("idx") / width).cast("long").as("row"),
        pmod(col("idx").cast("long"), lit(width.toLong)).as("bucket"),
        col("cnt")): _*)
    val cellKeys = kcols ++ Seq("start", "row", "bucket")
    val cellsOk = direct.join(emitted, cellKeys, "full_outer")
      .groupBy(gcols(col("start")): _*)
      .agg(min((col("dcnt") <=> col("cnt")).cast("long")).as("cells_match"))
    // per-(start, item) exact suffix + window counts; x rides the
    // grouping (functionally dependent on item) so the probe side
    // below never re-hashes
    val perItem = joined
      .groupBy(gcols(col("start"), col("n_cov"), col("stale_ok"),
        col("item"), col("x")): _*)
      .agg(sum(when(inSuffix, 1L).otherwise(0L)).as("c_cov"),
        sum(when(col("sec") >= col("start"), 1L).otherwise(0L)).as("n_window"))
    // probe estimates off the emitted cells
    val est = perItem.select(gcols(col("start"), col("item"), col("x"),
        Sketches.paramsExplode(depth).as("p")): _*)
      .select(gcols(col("start"), col("item"), col("p.row").as("row"),
        pmod(graft.functions.HashFns.happly(col("p.a"), col("p.b"), col("x")),
          lit(width.toLong)).as("bucket")): _*)
      .join(emitted, cellKeys, "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy(gcols(col("start"), col("item")): _*)
      .agg(min("cnt").as("est"))
    val covOk = perItem.groupBy(gcols(col("start"), col("n_cov")): _*)
      .agg((sum("c_cov") === first("n_cov")).cast("long").as("coverage_ok"))
      .select(gcols(col("start"), col("coverage_ok")): _*)
    perItem
      .join(est, kcols ++ Seq("start", "item"))
      .join(broadcast(cellsOk), kcols :+ "start")
      .join(broadcast(covOk), kcols :+ "start")
      .filter(col("n_window") > 0)
      .select(gcols(col("start"), col("item"), col("n_window"),
        (col("est") >= col("c_cov")).cast("long").as("never_under"),
        col("cells_match"), col("coverage_ok"), col("stale_ok")): _*)
  }

  /** Per-(key, quantum) Misra–Gries summaries + exact quantum counts
    * (n rides along because the MG array does not carry it and the
    * coverage/bound checks need exact covered-suffix size). */
  def mgHourly(df: DataFrame, key: Column, item: Column, sec: Column,
      u: Long, k: Int): DataFrame =
    df.select(key.cast("string").as("key"),
        (sec.cast("long") - pmod(sec.cast("long"), lit(u))).divide(u)
          .cast("long").as("q"),
        item.cast("string").as("item"))
      .groupBy("key", "q")
      .agg(count(lit(1)).as("n"),
        graft.plans.MisraGries.summary(col("item"), k).as("entries"))

  /** Per-key EH fold + window heavy-hitter answers: one row per
    * (key, quantum-aligned start) with the covered suffix boundary,
    * its exact size, the staleness verdict, and the k-bounded MG
    * summary of the covered suffix (query-side merges use the same
    * mergeable reduce, whose undercount bound is merge-tree-free). */
  def mgSlidingSummaries(hourlyMg: DataFrame, u: Long, k: Int,
      starts: Seq[Long]): DataFrame = {
    require(starts.nonEmpty, "empty starts")
    starts.foreach(s => require(s % u == 0,
      s"window start $s not aligned to quantum $u"))
    val spark = hourlyMg.sparkSession
    import spark.implicits._
    val startsV = starts.toVector
    val mg = MgSketch(k)
    hourlyMg.select(col("key"), col("q"), col("n"), col("entries"))
      .as[MgHourRow]
      .groupByKey(_.key)
      .flatMapGroups { (key: String, it: Iterator[MgHourRow]) =>
        // SPARSE grid: only quanta with data enter the EH
        val quanta = it.map(r => r.q -> ((r.n,
            r.entries.foldLeft(mg.empty())((s, e) => mg.add(s, e.key, e.est)))))
          .toVector.sortBy(_._1)
        val buckets = SlidingEh.build(quanta, C, mg.mergeCounted)
        startsV.iterator.flatMap { s =>
          SlidingEh.cover(buckets, s / u, C) match {
            case None => Iterator.empty
            case Some(cov) =>
              val (n, merged) = cov.covered.map(_.s)
                .foldLeft((0L, mg.empty()))(mg.mergeCounted)
              if (n == 0) Iterator.empty
              else Iterator.single(MgCovRow(key, s, cov.tCovQ * u, n,
                if (cov.staleOk) 1L else 0L,
                mg.result(merged).map { case (kk, c) => MgEntry(kk, c) }))
          }
        }
      }
      .toDF()
  }

  /** The MG verification frame over the covered suffix (q270's
    * discipline made sliding): per (key, start),
    *   heavy_ok    — every item whose EXACT covered-suffix count c has
    *                 c·(k+1) > n_cov is present in the summary with
    *                 c − n_cov/(k+1) ≤ est ≤ c;
    *   bounds_ok   — every summary entry matched by a suffix item has
    *                 est ≤ exact count (never overestimates), and the
    *                 summary's total mass ≤ n_cov (catches phantom
    *                 entries no raw row backs);
    *   coverage_ok — Σ exact per-item suffix counts == n_cov;
    *   stale_ok    — carried from the EH layout check.
    * n_window anchors rows to oracle-computable data; flags are
    * guaranteed 1 by the mergeable-summaries bound (merge-tree-free,
    * so EH depth is free for MG). */
  def mgSlidingCheck(raw: DataFrame, covered: DataFrame,
      keyed: Boolean, k: Int): DataFrame = {
    // emap built ONCE per broadcast cov row (round 14): evaluating
    // map_from_entries on the joined frame rebuilt the O(k) map per
    // (event × start) row — the lookup below is per row, the build
    // belongs on the tiny broadcast side
    val cov = broadcast(covered
      .withColumn("mass", coalesce(aggregate(col("entries"), lit(0L),
        (acc, e) => acc + e.getField("est")), lit(0L)))
      .withColumn("emap", map_from_entries(col("entries"))))
    val joined =
      if (keyed) raw.join(cov, "key")
      else raw.drop("key").crossJoin(cov.drop("key"))
    val keyCols = if (keyed) Seq(col("key")) else Nil
    val inSuffix = col("sec") >= col("t_cov_sec")
    val perItem = joined
      .withColumn("est_i", element_at(col("emap"), col("item")))
      .groupBy(keyCols ++ Seq(col("start"), col("n_cov"), col("stale_ok"),
        col("mass"), col("item"), col("est_i")): _*)
      .agg(sum(when(inSuffix, 1L).otherwise(0L)).as("c_cov"),
        sum(when(col("sec") >= col("start"), 1L).otherwise(0L)).as("c_win"))
    val heavy = col("c_cov") * (k + 1) > col("n_cov")
    val presentAndBounded = col("est_i").isNotNull &&
      col("est_i") <= col("c_cov") &&
      (col("c_cov") - col("est_i")) * (k + 1) <= col("n_cov")
    perItem
      .groupBy(keyCols ++ Seq(col("start"), col("n_cov"), col("stale_ok"),
        col("mass")): _*)
      .agg(sum(col("c_win")).as("n_window"),
        sum(col("c_cov")).as("n_suffix"),
        min(when(heavy, presentAndBounded.cast("long")).otherwise(1L))
          .as("heavy_ok"),
        min(when(col("est_i").isNotNull && col("c_cov") > 0,
          (col("est_i") <= col("c_cov")).cast("long")).otherwise(1L))
          .as("over_ok"))
      .select(keyCols ++ Seq(col("start"), col("n_window"), col("heavy_ok"),
        (col("over_ok") === 1L && col("mass") <= col("n_cov"))
          .cast("long").as("bounds_ok"),
        (col("n_suffix") === col("n_cov")).cast("long").as("coverage_ok"),
        col("stale_ok")): _*)
  }
}
