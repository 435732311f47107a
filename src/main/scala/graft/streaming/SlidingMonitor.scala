package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_seconds}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.SlidingRows.{CmCell, GkSkR, MgEntry}
import graft.plans.{CmSketch, DecayedMgSketch, GkSketch, GkSummary, MgSketch}

/** STREAMING-NATIVE sliding-sketch monitors — the always-on form of
  * the EH sliding family for all three order-dependent members:
  * where the batch gates fold per-quantum summaries AFTER the stream
  * completes, these operators maintain the per-(key, quantum) summary
  * CUBE as typed streaming state (`flatMapGroupsWithState`), so at any
  * trigger the published state answers "pXX / top talkers / item count
  * since ANY t" without waiting for completion — the production shape
  * of a per-source telemetry panel.
  *
  * TWO-STAGE SHAPE (the 100 TB plan contract): each micro-batch first
  * PRE-FOLDS inside `mapPartitions` — per partition, per (key,
  * quantum), the raw rows collapse to one exact m/k-bounded batch
  * summary — and only those summary rows shuffle into the stateful
  * stage, which merges mergeable summaries. The earlier shape shuffled
  * RAW event rows to one task per key (`groupByKey` straight off the
  * stream), which at a handful of keys is the textbook hot-key funnel:
  * every trigger, all of a key's rows land on one task. With the
  * pre-fold the per-key stateful task receives O(#partitions ×
  * #touched-quanta) bounded summaries per trigger, independent of the
  * row count — the same division of labor as the batch sliding legs
  * (distributed groupBy builds per-quantum summaries; the per-key fold
  * only ever sees summary objects). PlanSpec pins the shape: the
  * exchange into the stateful operator carries summary rows, never
  * event rows.
  *
  * Member-specific state discipline (unchanged by the pre-fold — each
  * partition's partial is EXACT for its rows, so the budget arguments
  * carry over with "trigger batch" replaced by "partition batch"):
  *   - GK quantiles: quantum → the GK LEVEL STRUCTURE (the same
  *     merge-and-reduce level-carry [[GkState]] uses), not a flat
  *     summary. Load-bearing: a quantum's rows arrive across
  *     arbitrarily many triggers and partitions, and naive merge+prune
  *     into one summary costs one prune per partial — unbounded error
  *     growth. Carrying each partial (exact for its rows, pruned once
  *     to m) into the level structure at its size-matched level keeps
  *     prunes-per-element at O(log(n/buf)) whatever the cadence or
  *     partitioning, so the streamed state obeys the SAME rank-error
  *     budget as a batch build (q305 gates it with the batch oracle
  *     verbatim).
  *   - Misra–Gries: quantum → one k-bounded (n, counters) summary.
  *     The partials' exact count maps SUM first (commutative — no
  *     order sensitivity), then ONE mergeable reduce folds them into
  *     the stored summary: the merge-TREE-free undercount bound
  *     (≤ n/(k+1)) holds under any such tree, so nothing is lost at
  *     any cadence/partitioning (q312 gates it with the batch oracle).
  *   - Count-min: NO cell state at all — cells are ADDITIVE and
  *     canonical, so the monitor emits each trigger's per-quantum
  *     DELTA cells (≤ depth·width per partial, the ×depth explosion
  *     happens in the pre-fold, still executor-side) and the reader's
  *     additive fold ([[cmCubeFromDeltas]]) reconstructs a cube
  *     BIT-IDENTICAL to a batch build at any cadence (q313 gates
  *     cell-for-cell equality via q306's oracle). State per key is
  *     O(1): (version, high-water quantum).
  *
  * RETENTION HORIZON (the always-on part): state per key is bounded by
  * `horizonQuanta` — after each trigger, quanta older than
  * qMax − horizon + 1 (qMax = the key's high-watermark quantum, which
  * only advances) are EVICTED, and late rows for already-evicted
  * quanta are DROPPED (resurrecting a partial quantum would publish a
  * wrong summary — the same contract as a watermark discarding
  * too-late data). Every window start inside the horizon answers
  * exactly as it would without eviction: eviction is data-driven (the
  * key's own event-time high-watermark), not processing-time, so an
  * idle stream never loses state it still needs. State per key is
  * O(horizon × summary size), independent of stream lifetime —
  * SlidingEhSpec asserts the bound and the inside-horizon equivalence
  * across a long replay.
  *
  * KEY EVICTION (optional, all four monitors — the three quantum
  * monitors share one implementation and cutoff law; the decayed
  * monitor's analog is documented at [[decayedMgMonitor]]): by default
  * keys stay live
  * (`GroupStateTimeout.NoTimeout`) — an always-on monitor keyed by
  * event TYPE answers for every source it has ever seen inside the
  * horizon, and quantum eviction alone bounds state. Keyed by a
  * HIGH-CARDINALITY column (user_id — per-source telemetry), total
  * state is O(#keys ever seen); `evictKeys = true` switches to
  * `EventTimeTimeout` and drops a key once the GLOBAL event-time
  * watermark passes a full horizon beyond the key's own high-water
  * quantum — at which point every quantum the key holds is already
  * outside its horizon, so nothing in-horizon is lost. Eviction emits
  * a TOMBSTONE row (q = −1) carrying the key's next version, and the
  * watermark itself becomes a monotone admission floor: rows whose
  * quantum lies a full horizon behind the watermark drop BEFORE
  * touching state (a re-created key cannot resurrect a
  * partially-evicted quantum — the floor proves any such quantum was
  * already evicted, because eviction implies wm > (qMaxOld + horizon)
  * ≥ (q + horizon) for every quantum q the key ever held). The
  * watermark derives from the quantum column itself (the global
  * high-water quantum's start, zero delay), so no timestamp column is
  * required; a finite horizon is.
  *
  * Emission (Update mode): per trigger, each UPDATED quantum emits one
  * row with a per-key monotone version — O(touched quanta) rows per
  * trigger, never the full cube. GK/MG emit the quantum's collapsed
  * SUMMARY (replacement semantics): a reader takes the latest version
  * per (key, quantum) for the current cube
  * ([[graft.queries.SqlApiQueries.monitorLatestSql]] is that read as
  * one SQL view; the gates use the same idiom, then run the identical
  * EH + guarantee verification as the batch gates). COUNT-MIN emits
  * the trigger's DELTA cells (additive semantics): a reader dedups to
  * one row per (key, quantum, version) and SUMS
  * ([[cmCubeFromDeltas]]), and the serving fold sums instead of
  * latest-wins — emission bytes track CHANGED cells, not
  * cells-ever-touched. VERSION CONTRACT (both semantics): `ver`
  * increments per key per trigger, so reads assume an exactly-once
  * sink (each trigger's emissions delivered once — what the
  * file-replay harness and any idempotent sink provide). Under an
  * at-least-once sink a retried trigger re-emits the SAME rows:
  * latest-version reads and the delta fold both stay correct iff the
  * sink (or read) keys on (key, q, ver) — q331 drives the MG serving
  * fold through a redelivered trigger and asserts the served cube is
  * unchanged; a sink that cannot key on the triple should pack
  * (batchId, ver) the way q277's packedVersion does. No raw row is
  * ever retained in state.
  */
object SlidingMonitor {

  /** Eviction boundary for a key whose high-watermark quantum is
    * `qMax`: quanta < cutoff leave state, rows < cutoff are dropped.
    * Long.MaxValue horizon = unbounded (and underflow-safe). */
  private def cutoffQ(qMax: Long, horizonQuanta: Long): Long = {
    require(horizonQuanta >= 1, s"horizonQuanta out of range: $horizonQuanta")
    if (horizonQuanta == Long.MaxValue) Long.MinValue
    else qMax - horizonQuanta + 1
  }

  /** Key-eviction precondition, overflow-safe: the timeout arithmetic
    * multiplies (quantum-or-second counts) by 1000, so the guard must
    * bound the factors BEFORE any multiplication — `horizon *
    * (quantumSec * 1000)` as a guard would itself overflow on a huge
    * quantumSec and misfire confusingly. Division-form comparison
    * never overflows. */
  private def requireEvictableHorizon(evictKeys: Boolean, horizonQuanta: Long,
      quantumSec: Long): Unit = {
    require(quantumSec >= 1, s"quantumSec out of range: $quantumSec")
    require(!evictKeys || (quantumSec <= Long.MaxValue / 1000L &&
      horizonQuanta < Long.MaxValue / 1000L / quantumSec),
      "key eviction requires a finite horizon")
  }

  /** A quantum monitor's pre-shuffle partial: one (partition, key,
    * quantum) summary. */
  sealed trait QuantumPart { def key: String; def q: Long }

  /** A quantum monitor's per-key state: its emission version and its
    * high-water quantum. */
  sealed trait QuantumState { def ver: Long; def qMax: Long }

  /** A monitor's typed read of `cols` from the stream: rows whose key
    * or quantum/time (the first two columns) is NULL have no place in
    * the state and drop first; a NULL in the value column reaches the
    * family's `insert`, which owns the family's null rule. */
  private def typedRead[I: Encoder](stream: DataFrame, cols: Seq[String]): Dataset[I] =
    stream.select(cols.map(col): _*)
      .filter(col(cols(0)).isNotNull && col(cols(1)).isNotNull).as[I]

  /** The one stateful skeleton of the GK, MG and count-min monitors:
    * `cols` of the stream read as `I` rows ([[typedRead]]), pre-folded per partition
    * into `P` partials, then folded per key into `S` state with
    * Update-mode `O` emissions. `fold` is one key's one-trigger fold
    * given the admission floor, `tombstone(key, ver)` the eviction
    * emission. With `evictKeys` the skeleton owns the key-eviction
    * plumbing the three share:
    *   - the watermark: EventTimeTimeout needs a watermarked attribute
    *     in the stateful operator's child, derived from the partial's
    *     quantum (its start, zero delay); the extra column rides beside
    *     the typed partials and never enters the fold;
    *   - the tombstone on timeout: the key's newest quantum is a full
    *     horizon behind the watermark, so every quantum it holds is out
    *     of horizon;
    *   - the admission floor: a quantum a full horizon behind the
    *     watermark drops on arrival. It was already evicted if its key
    *     ever held it (eviction implies the watermark passed every held
    *     quantum + horizon), so admitting it would resurrect a partial
    *     quantum under a re-created key;
    *   - the re-armed timeout at (high-water quantum + horizon)'s
    *     start: admitted data always lands it strictly past the current
    *     watermark (the floor guarantees q ≥ wmQ − horizon + 1), and
    *     the max() guards the degenerate boundary. */
  private def quantumMonitor[I: Encoder, P <: QuantumPart: Encoder,
      S <: QuantumState: Encoder, O: Encoder](stream: DataFrame, cols: Seq[String],
      horizonQuanta: Long, evictKeys: Boolean, quantumSec: Long, empty: S,
      tombstone: (String, Long) => O)(prefold: Iterator[I] => Iterator[P])(
      fold: (Seq[P], S, Long) => (S, Seq[O])): Dataset[O] = {
    requireEvictableHorizon(evictKeys, horizonQuanta, quantumSec)
    val timeout =
      if (evictKeys) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val parts0 = typedRead[I](stream, cols).mapPartitions(prefold)
    val parts = if (!evictKeys) parts0 else parts0.toDF()
      .withColumn("ets", timestamp_seconds(col("q") * quantumSec))
      .withWatermark("ets", "0 seconds").as[P]
    parts
      .groupByKey((p: P) => p.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update, timeout) {
        (key: String, parts: Iterator[P], state: GroupState[S]) =>
          if (evictKeys && state.hasTimedOut) {
            val ver = state.getOption.map(_.ver).getOrElse(0L) + 1
            state.remove()
            Iterator.single(tombstone(key, ver))
          } else {
            val ps = parts.toSeq
            if (ps.isEmpty) Iterator.empty
            else {
              val floorQ =
                if (!evictKeys) Long.MinValue
                else state.getCurrentWatermarkMs() / (quantumSec * 1000L) - horizonQuanta + 1
              val (st2, outs) = fold(ps, state.getOption.getOrElse(empty), floorQ)
              state.update(st2)
              if (evictKeys) state.setTimeoutTimestamp(math.max(
                (st2.qMax + horizonQuanta) * quantumSec * 1000L,
                state.getCurrentWatermarkMs() + 1L))
              outs.iterator
            }
          }
      }
  }

  /** The head of every quantum fold: the key's new high-water quantum,
    * the eviction boundary (the horizon cut, no lower than the admission
    * floor `floorQ`; quanta below it leave state) and the partials at
    * or past it grouped by quantum, oldest first. */
  private def horizonCut[P <: QuantumPart](parts: Seq[P], qMax0: Long,
      horizonQuanta: Long, floorQ: Long): (Long, Long, Seq[(Long, Seq[P])]) = {
    val qMax = math.max(qMax0, parts.iterator.map(_.q).max)
    val cut = math.max(cutoffQ(qMax, horizonQuanta), floorQ)
    (qMax, cut, parts.filter(_.q >= cut).groupBy(_.q).toSeq.sortBy(_._1))
  }

  // ------------------------------------------------------------------
  // GK quantile monitor
  // ------------------------------------------------------------------

  final case class In(key: String, q: Long, v: java.lang.Double)
  final case class MonState(quanta: Map[Long, Seq[GkSkR]], ver: Long, qMax: Long)
    extends QuantumState
  final case class Out(key: String, q: Long, ver: Long, sk: GkSkR)

  /** Pre-shuffle partial: one exact, once-pruned batch summary per
    * (partition, key, quantum) — the only row shape that crosses the
    * exchange into the stateful stage. */
  final case class GkPart(key: String, q: Long, sk: GkSkR) extends QuantumPart

  /** Stage 1 (stateless, per partition): collapse raw rows to exact
    * per-(key, quantum) batch summaries, pruned once to m. A NULL or
    * NaN value has no rank ([[GkSketch.ranks]]): its row still opens
    * its quantum, as in the batch per-quantum build. */
  private[graft] def gkPrefold(rows: Iterator[In], m: Int): Iterator[GkPart] = {
    val groups = mutable.HashMap.empty[(String, Long), mutable.ArrayBuffer[Double]]
    rows.foreach { r =>
      val vs = groups.getOrElseUpdate((r.key, r.q), mutable.ArrayBuffer.empty)
      if (GkSketch.ranks(r.v)) vs += r.v
    }
    groups.iterator.map { case ((k, q), vs) =>
      GkPart(k, q, GkSkR.of(GkSummary.once(vs.toArray, m)))
    }
  }

  /** Stage 2 (stateful), one key's one-trigger fold: carry each live
    * partial into its quantum's stored level structure at its
    * size-matched level, then apply the retention horizon. `floorQ` is
    * the additional watermark-derived admission floor key eviction
    * imposes (Long.MinValue when unused). */
  private[graft] def foldKey(parts: Seq[GkPart], st: MonState, m: Int,
      horizonQuanta: Long = Long.MaxValue,
      floorQ: Long = Long.MinValue): (MonState, Seq[Out]) = {
    val gk = GkSketch(m)
    val (qMax, cut, live) = horizonCut(parts, st.qMax, horizonQuanta, floorQ)
    var quanta = st.quanta.filter { case (q, _) => q >= cut }
    if (live.isEmpty) (MonState(quanta, st.ver, qMax), Nil)
    else {
      val ver = st.ver + 1
      val outs = live.map { case (q, ps) =>
        val gst = gk.empty()
        quanta.getOrElse(q, Nil).zipWithIndex.foreach { case (lv, i) =>
          if (lv.n > 0) gst.place(i, GkSkR.summary(lv))
        }
        // deterministic carry order (shuffle arrival order is not):
        // content within the guarantee bounds is order-dependent,
        // guarantees themselves are not
        ps.sortBy(p => (p.sk.n, p.sk.tuples.hashCode)).foreach(p =>
          gk.carry(gst, GkSkR.summary(p.sk)))
        quanta = quanta.updated(q, gst.levels.toSeq.map(s => GkSkR.of(s)))
        (q, GkSkR.of(gk.result(gst)))
      }
      (MonState(quanta, ver, qMax),
        outs.map { case (q, sk) => Out(parts.head.key, q, ver, sk) })
    }
  }

  /** Test seam: the pure per-trigger fold (SlidingEhSpec drives the
    * cadence-independence law and the horizon bound through it without
    * a streaming query). Routes through the same prefold + fold as the
    * streaming operator, one partial per quantum. */
  private[graft] def testFold(rows: Seq[In], st: MonState, m: Int,
      horizonQuanta: Long = Long.MaxValue): (MonState, Seq[Out]) =
    foldKey(gkPrefold(rows.iterator, m).toSeq.sortBy(_.q), st, m, horizonQuanta)

  /** The monitor as a streaming transform: input (key, q, v) rows →
    * Update-mode (key, q, ver, sk) emissions.
    *
    * `evictKeys = true` (requires a finite horizon and `quantumSec`
    * matching the q grid): the monitor derives its own event-time
    * watermark from the quantum column (watermark = the global
    * high-water quantum's start, zero delay — no timestamp column
    * needed from the caller); keys whose high-water quantum falls a
    * full horizon behind it are dropped from state with a q = −1
    * tombstone emission, and rows a full horizon behind it are dropped
    * on arrival (see the scaladoc's key-eviction contract). */
  def gkQuantumMonitor(stream: DataFrame, m: Int,
      horizonQuanta: Long = Long.MaxValue,
      evictKeys: Boolean = false, quantumSec: Long = 3600L): Dataset[Out] = {
    val spark = stream.sparkSession
    import spark.implicits._
    quantumMonitor[In, GkPart, MonState, Out](stream, Seq("key", "q", "v"),
      horizonQuanta, evictKeys, quantumSec, MonState(Map.empty, 0L, Long.MinValue),
      (key, ver) => Out(key, -1L, ver, GkSkR(0L, Nil)))(
      rows => gkPrefold(rows, m))(
      (ps, st, floorQ) => foldKey(ps, st, m, horizonQuanta, floorQ))
  }

  // ------------------------------------------------------------------
  // Misra–Gries heavy-hitter monitor
  // ------------------------------------------------------------------

  final case class MgIn(key: String, q: Long, item: String)
  final case class MgQuantum(n: Long, entries: Map[String, Long])
  final case class MgMonState(quanta: Map[Long, MgQuantum], ver: Long, qMax: Long)
    extends QuantumState
  final case class MgOut(key: String, q: Long, ver: Long, n: Long,
      entries: Seq[MgEntry])

  /** Pre-shuffle partial: exact count n and a once-pruned k-bounded
    * counter map for one (partition, key, quantum). */
  final case class MgPart(key: String, q: Long, n: Long, entries: Seq[MgEntry])
    extends QuantumPart

  private final class MgCount(var n: Long, val counts: MgSketch.Counters)

  private def mgEntries(mg: MgSketch, s: MgSketch.Counters): Seq[MgEntry] =
    mg.result(s).map { case (it, c) => MgEntry(it, c) }

  /** Stage 1 (stateless, per partition): exact per-(key, quantum)
    * counts, pruned once to k (the mergeable-summaries bound makes
    * that prune free under any downstream merge tree). n counts every
    * row, as the batch per-quantum build does; a NULL item counts in n
    * only ([[MgSketch.add]] drops it). */
  private[graft] def mgPrefold(rows: Iterator[MgIn], k: Int): Iterator[MgPart] = {
    val mg = MgSketch(k)
    val groups = mutable.HashMap.empty[(String, Long), MgCount]
    rows.foreach { r =>
      val g = groups.getOrElseUpdate((r.key, r.q), new MgCount(0L, mg.empty()))
      g.n += 1L
      mg.add(g.counts, r.item, 1L)
    }
    groups.iterator.map { case ((kk, q), g) =>
      MgPart(kk, q, g.n, mgEntries(mg, mg.prune(g.counts)))
    }
  }

  private[graft] def mgFoldKey(parts: Seq[MgPart], st: MgMonState, k: Int,
      horizonQuanta: Long = Long.MaxValue,
      floorQ: Long = Long.MinValue): (MgMonState, Seq[MgOut]) = {
    val mg = MgSketch(k)
    val (qMax, cut, live) = horizonCut(parts, st.qMax, horizonQuanta, floorQ)
    var quanta = st.quanta.filter { case (q, _) => q >= cut }
    if (live.isEmpty) (MgMonState(quanta, st.ver, qMax), Nil)
    else {
      val ver = st.ver + 1
      val outs = live.map { case (q, ps) =>
        // SUM the partials' counter maps first (commutative — immune to
        // shuffle arrival order), then ONE mergeable reduce into the
        // stored summary: a valid weighted-MG merge tree, so the
        // n/(k+1) undercount bound survives any cadence/partitioning
        val summed = mg.empty()
        ps.foreach(_.entries.foreach(e => mg.add(summed, e.key, e.est)))
        val prev = quanta.get(q).map(s => (s.n, mutable.HashMap.from(s.entries)))
          .getOrElse((0L, mg.empty()))
        val (n, merged) = mg.mergeCounted(prev, (ps.map(_.n).sum, summed))
        quanta = quanta.updated(q, MgQuantum(n, merged.toMap))
        MgOut(parts.head.key, q, ver, n, mgEntries(mg, merged))
      }
      (MgMonState(quanta, ver, qMax), outs)
    }
  }

  private[graft] def testMgFold(rows: Seq[MgIn], st: MgMonState, k: Int,
      horizonQuanta: Long = Long.MaxValue): (MgMonState, Seq[MgOut]) =
    mgFoldKey(mgPrefold(rows.iterator, k).toSeq.sortBy(_.q), st, k, horizonQuanta)

  /** The MG monitor as a streaming transform: input (key, q, item)
    * rows → Update-mode (key, q, ver, n, entries) emissions.
    * `evictKeys` follows the GK monitor's key-eviction contract
    * verbatim (derived quantum watermark, tombstone q = −1 with n = 0,
    * admission floor). */
  def mgQuantumMonitor(stream: DataFrame, k: Int,
      horizonQuanta: Long = Long.MaxValue,
      evictKeys: Boolean = false, quantumSec: Long = 3600L): Dataset[MgOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    quantumMonitor[MgIn, MgPart, MgMonState, MgOut](stream, Seq("key", "q", "item"),
      horizonQuanta, evictKeys, quantumSec, MgMonState(Map.empty, 0L, Long.MinValue),
      (key, ver) => MgOut(key, -1L, ver, 0L, Nil))(
      rows => mgPrefold(rows, k))(
      (ps, st, floorQ) => mgFoldKey(ps, st, k, horizonQuanta, floorQ))
  }

  // ------------------------------------------------------------------
  // Count-min monitor
  // ------------------------------------------------------------------

  /** Input is ONE row per event carrying the shared 31-bit item hash x
    * ([[graft.operators.SlidingSketches.cmKeyRows]] — a pure
    * projection, streaming-safe); the ×depth cell explosion happens in
    * the PRE-FOLD (still executor-side, before the shuffle) with the
    * same pure-Scala hash family (HashFns.minhashParams coefficients,
    * exact integer arithmetic), so the exchange into the stateful
    * stage carries ≤ depth·width cells per (partition, key, quantum)
    * while the streamed cube lands on exactly the cells a batch build
    * lands on. */
  final case class CmIn(key: String, q: Long, x: Long)

  /** CM monitor state is O(1) PER KEY — (version, high-water quantum)
    * only, no cells. Cells are ADDITIVE and canonical, so the monitor
    * emits each trigger's per-quantum DELTA cells and the reader SUMS
    * them ([[cmCubeFromDeltas]]): the emission log (or the serving
    * table's additive fold) IS the cube, and neither the state nor a
    * trigger's emission volume scales with cells-ever-touched. The
    * high-water quantum alone enforces the horizon contract (rows for
    * quanta behind the horizon drop, so an aged-off quantum can never
    * receive a late delta and read back partial). */
  final case class CmMonState(ver: Long, qMax: Long) extends QuantumState
  final case class CmOut(key: String, q: Long, ver: Long, entries: Seq[CmCell])

  /** Pre-shuffle partial: exact sparse cell counts for one
    * (partition, key, quantum) — additive, canonical, ≤ depth·width
    * entries. */
  final case class CmPart(key: String, q: Long, entries: Seq[CmCell])
    extends QuantumPart

  /** Stage 1 (stateless, per partition): hash-explode each event to
    * its `depth` cells and sum exactly per (key, quantum). */
  private[graft] def cmPrefold(rows: Iterator[CmIn], cm: CmSketch): Iterator[CmPart] = {
    val groups = mutable.HashMap.empty[(String, Long), CmSketch.Cells]
    rows.foreach(r => cm.insert(groups.getOrElseUpdate((r.key, r.q), cm.empty()), r.x))
    groups.iterator.map { case ((kk, q), cells) => CmPart(kk, q, cmCells(cm, cells)) }
  }

  private def cmCells(cm: CmSketch, s: CmSketch.Cells): Seq[CmCell] =
    cm.result(s).map { case (i, c) => CmCell(i, c) }

  private def cmFoldKey(parts: Seq[CmPart], st: CmMonState, cm: CmSketch,
      horizonQuanta: Long, floorQ: Long = Long.MinValue): (CmMonState, Seq[CmOut]) = {
    val (qMax, _, live) = horizonCut(parts, st.qMax, horizonQuanta, floorQ)
    if (live.isEmpty) (CmMonState(st.ver, qMax), Nil)
    else {
      val ver = st.ver + 1
      val outs = live.map { case (q, ps) =>
        // DELTA emission: this trigger's summed partials only — the
        // round-11 shape re-emitted the cumulative cell list (≤
        // depth·width rows) for every touched quantum every trigger,
        // which made emission bytes scale with touched-quanta ×
        // triggers × cells (q317's α-0.53 scale leg, the suite's
        // steepest); deltas make it scale with CHANGED cells
        val sums = cm.empty()
        ps.foreach(_.entries.foreach(e => cm.add(sums, e.idx, e.cnt)))
        CmOut(parts.head.key, q, ver, cmCells(cm, sums))
      }
      (CmMonState(ver, qMax), outs)
    }
  }

  /** The CM monitor's READ: per-(key, quantum) cell totals from the
    * DELTA emission log — dedup to one row per (key, quantum, version)
    * first (an at-least-once sink can hold a redelivered trigger's
    * identical rows; versions are per-key monotone so the triple is a
    * natural idempotency key), then SUM cells across versions. Cells
    * are additive, so the summed cube is bit-identical to a batch
    * build over the admitted rows — the same distributed
    * explode-groupBy shape as the batch per-quantum build, never a
    * per-key collect. Tombstones (q = −1) drop here. */
  def cmCubeFromDeltas(emissions: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    cmAdditiveReduce(emissions
      .filter(col("q") >= 0L)
      .dropDuplicates("key", "q", "ver")
      .select("key", "q", "entries"))
  }

  /** The ONE additive CM cell reduce — (key, q, entries) rows fold to
    * one row per (key, quantum) with per-idx summed, idx-sorted cells.
    * Shared by [[cmCubeFromDeltas]] (after its (key, q, ver) dedup),
    * the log-structured serving fold (q331 — there the MANIFEST's
    * live/consumed no-ops provide redelivery idempotency, so no dedup
    * precedes the sum), and the CLI cm panel's serve path: three call
    * sites, one definition, no drift on the idempotency-key subtlety.
    * A valid one-shot associative fold (reduce(reduce(A) ∪ B) =
    * reduce(A ∪ B)) — the contract foldLog requires. */
  def cmAdditiveReduce(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col("key"), col("q"), explode(col("entries")).as("e"))
      .groupBy(col("key"), col("q"), col("e.idx").as("idx"))
      .agg(sum(col("e.cnt")).as("cnt"))
      .groupBy("key", "q")
      .agg(sort_array(collect_list(struct(col("idx"), col("cnt"))))
        .as("entries"))
  }

  private[graft] def testCmFold(rows: Seq[CmIn], st: CmMonState, depth: Int,
      width: Int, horizonQuanta: Long = Long.MaxValue): (CmMonState, Seq[CmOut]) = {
    val cm = CmSketch(depth, width)
    cmFoldKey(cmPrefold(rows.iterator, cm).toSeq.sortBy(_.q), st, cm, horizonQuanta)
  }

  /** The count-min monitor as a streaming transform: input (key, q, x)
    * hashed-item rows → Update-mode (key, q, ver, entries) DELTA
    * emissions (this trigger's cell increments only — see
    * [[CmMonState]]); read the cube back with [[cmCubeFromDeltas]]
    * (dedup by (key, q, ver), then additive fold). `evictKeys` follows
    * the GK monitor's key-eviction contract verbatim (derived quantum
    * watermark, tombstone q = −1 with empty cells, admission floor). */
  def cmQuantumMonitor(stream: DataFrame, depth: Int, width: Int,
      horizonQuanta: Long = Long.MaxValue,
      evictKeys: Boolean = false, quantumSec: Long = 3600L): Dataset[CmOut] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val cm = CmSketch(depth, width)
    quantumMonitor[CmIn, CmPart, CmMonState, CmOut](stream, Seq("key", "q", "x"),
      horizonQuanta, evictKeys, quantumSec, CmMonState(0L, Long.MinValue),
      (key, ver) => CmOut(key, -1L, ver, Nil))(
      rows => cmPrefold(rows, cm))(
      (ps, st, floorQ) => cmFoldKey(ps, st, cm, horizonQuanta, floorQ))
  }

  // ------------------------------------------------------------------
  // Decayed Misra–Gries monitor ("top talkers, recency-weighted, NOW")
  // ------------------------------------------------------------------

  /** The decayed family's always-on leg: [[graft.plans.DecayedMgAgg]]'s
    * (tMax, W, ≤ k counters) state carried as streaming state per key —
    * per trigger, each partition pre-folds its rows into one partial
    * decayed sketch (same update arithmetic, rebasing to the
    * partition's own max t), the stateful stage merges partials into
    * the stored state via the O(1)-rebasing merge, and the trigger
    * emits (key, ver, t_ref, w, entries). Weighted-MG guarantees are
    * merge-tree-free, so the streamed state obeys the same bounds as
    * the one-pass batch aggregate (q321 gates it against q315's exact
    * decayed masses at two cadences). State per key is O(k) whatever
    * the stream length. */
  final case class DmIn(key: String, t: Long, item: String)
  final case class DmEntry(item: String, est: Double)
  final case class DmPart(key: String, tMax: Long, w: Double,
      entries: Seq[DmEntry])
  final case class DmMonState(tMax: Long, w: Double, entries: Map[String, Double],
      ver: Long)
  final case class DmOut(key: String, ver: Long, t_ref: Long, w: Double,
      entries: Seq[DmEntry])

  private def dmEntries(dm: DecayedMgSketch, s: DecayedMgSketch.State): Seq[DmEntry] =
    dm.result(s).map { case (it, c) => DmEntry(it, c) }

  /** Stage 1 (stateless, per partition): one partial decayed sketch
    * per (partition, key); a NULL item drops in
    * [[DecayedMgSketch.insert]]. */
  private[graft] def dmPrefold(rows: Iterator[DmIn], halfLifeSec: Long,
      k: Int): Iterator[DmPart] = {
    val dm = DecayedMgSketch(halfLifeSec, k)
    val groups = mutable.HashMap.empty[String, DecayedMgSketch.State]
    rows.foreach(r => dm.insert(groups.getOrElseUpdate(r.key, dm.empty()), r.t, r.item))
    groups.iterator.map { case (kk, s) => DmPart(kk, s.tMax, s.w, dmEntries(dm, s)) }
  }

  private[graft] def dmFoldKey(parts: Seq[DmPart], st: DmMonState, halfLifeSec: Long,
      k: Int): (DmMonState, DmOut) = {
    val dm = DecayedMgSketch(halfLifeSec, k)
    val acc = new DecayedMgSketch.State(st.tMax, st.w, mutable.HashMap.from(st.entries))
    // merge partials in a deterministic order (the double arithmetic's
    // last ulps are merge-order-sensitive; guarantees are not)
    parts.sortBy(p => (p.tMax, p.w)).foreach(p => dm.merge(acc,
      new DecayedMgSketch.State(p.tMax, p.w,
        mutable.HashMap.from(p.entries.map(e => e.item -> e.est)))))
    val ver = st.ver + 1
    (DmMonState(acc.tMax, acc.w, acc.counters.toMap, ver),
      DmOut(parts.head.key, ver, acc.tMax, acc.w, dmEntries(dm, acc)))
  }

  private[graft] def testDmFold(rows: Seq[DmIn], st: DmMonState,
      halfLifeSec: Long, k: Int): (DmMonState, DmOut) =
    dmFoldKey(dmPrefold(rows.iterator, halfLifeSec, k).toSeq, st, halfLifeSec, k)

  /** The decayed-MG monitor as a streaming transform: input
    * (key, t, item) rows → Update-mode (key, ver, t_ref, w, entries)
    * emissions; a reader takes the latest version per key for the live
    * "top talkers now" panel.
    *
    * KEY EVICTION (`evictKeys = true`): per-key state is O(k), but
    * keyed by a high-cardinality column (user_id — per-source
    * telemetry) TOTAL state is O(#keys ever seen); eviction drops a
    * key once the self-derived event-time watermark (the global max t,
    * zero delay — no extra column needed) passes a full retention
    * (`retentionHalfLives × halfLifeSec`) beyond the key's own tMax,
    * with a tombstone emission carrying the EVICTED state's t_ref and
    * w = 0 with no entries (w = 0 ⇔ tombstone — a live emission's w is
    * ≥ 1, the newest event's own weight). Rows a full
    * retention behind the watermark drop on arrival (the admission
    * floor). Unlike the quantum monitors — where the floor makes
    * resurrection IMPOSSIBLE because evicted quanta are discrete
    * identities — the decayed sketch's identity is the key's whole
    * mass, so the guarantee is a BOUND: a re-created key misses only
    * mass that had already decayed by ≥ 2^−(gap/halfLife) where gap is
    * the key's event-time idle gap, and with per-key in-event-time-
    * order arrival (what the ordered-replay gates provide; eviction
    * can only fire in a trigger where the key has no data, so the next
    * admitted row postdates the watermark that evicted it) gap ≥
    * retention — at the default 64 half-lives the lost mass is below
    * one double ulp of the total, i.e. answers are numerically
    * identical to the unbounded monitor's. READ CONTRACT under
    * eviction: versions restart at 1 on re-admission, so readers order
    * by (t_ref, ver) — event time first — NEVER by bare ver (a
    * ver-keyed latest-wins fold would serve stale pre-eviction rows
    * whose restarted successors carry smaller versions). Because the
    * tombstone carries its lifetime's t_ref, (t_ref, ver) totally
    * orders the emission log: the one max_by read yields the current
    * sketch for a live key and a w = 0 row for an evicted one —
    * [[graft.queries.SqlApiQueries.monitorDecayedLatestSql]] is that
    * read as one SQL view (q335 gates it); serving folds key the same
    * way (the CLI dm family compacts on a struct(t_ref, ver) version
    * column). q330 gates the full contract: predicted live-state
    * count, tombstone coverage, and the q315 guarantee reduction on
    * live keys. */
  def decayedMgMonitor(stream: DataFrame, halfLifeSec: Long, k: Int,
      evictKeys: Boolean = false,
      retentionHalfLives: Long = 64L): Dataset[DmOut] = {
    require(halfLifeSec > 0, s"halfLifeSec out of range: $halfLifeSec")
    require(!evictKeys || (retentionHalfLives >= 1 &&
      retentionHalfLives < Long.MaxValue / (halfLifeSec * 1000L)),
      "key eviction requires a finite positive retention")
    val retentionSec = retentionHalfLives * halfLifeSec
    val spark = stream.sparkSession
    import spark.implicits._
    val timeout =
      if (evictKeys) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val parts0 = typedRead[DmIn](stream, Seq("key", "t", "item"))
      .mapPartitions(rows => dmPrefold(rows, halfLifeSec, k))
    val parts =
      if (evictKeys) parts0.toDF()
        .withColumn("ets", timestamp_seconds(col("tMax")))
        .withWatermark("ets", "0 seconds")
        .as[DmPart]
      else parts0
    parts
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, timeout) {
        (key: String, partsIt: Iterator[DmPart], state: GroupState[DmMonState]) =>
          if (evictKeys && state.hasTimedOut) {
            // the tombstone carries the EVICTED state's t_ref (not a
            // sentinel) with w = 0 and no entries: that makes
            // (t_ref, ver) a total order matching emission order —
            // the tombstone sorts after its own lifetime's rows
            // (same t_ref, ver + 1) and before any re-admission (the
            // admission floor forces a strictly larger t_ref there) —
            // so one max_by read answers both "current sketch" and
            // "is this key evicted" (w = 0 ⇔ tombstone; a live
            // emission always has w ≥ 1, its newest event's weight)
            val st = state.getOption
            val ver = st.map(_.ver).getOrElse(0L) + 1
            val tRef = st.map(_.tMax).getOrElse(Long.MinValue)
            state.remove()
            Iterator.single(DmOut(key, ver, tRef, 0.0, Nil))
          } else {
            // admission floor: a partial whose newest row is a full
            // retention behind the watermark is dropped whole — if its
            // key was ever evicted, everything this old was already
            // (numerically) gone, and admitting it would rebuild a key
            // from its stalest fragment
            val floorT =
              if (evictKeys)
                state.getCurrentWatermarkMs() / 1000L - retentionSec
              else Long.MinValue
            val ps = partsIt.filter(_.tMax >= floorT).toSeq
            if (ps.isEmpty) Iterator.empty
            else {
              val st = state.getOption.getOrElse(
                DmMonState(Long.MinValue, 0.0, Map.empty, 0L))
              val (st2, out) = dmFoldKey(ps, st, halfLifeSec, k)
              state.update(st2)
              if (evictKeys)
                state.setTimeoutTimestamp(math.max(
                  (st2.tMax + retentionSec) * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
              Iterator.single(out)
            }
          }
      }
  }
}
