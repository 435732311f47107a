package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.streaming.{EventStreams, Replay}

/** The replay-and-verify harness of the streaming monitor gates
  * (streaming.SlidingMonitor's GK, MG, count-min and decayed-MG
  * monitors). A monitor gate replays a projection of `events` as a
  * micro-batched file stream, runs the monitor to completion, reads
  * the live cube back out of the emission log and hands it to the
  * batch sliding reduction and check its family already has. A gate
  * declares only what differs: the projection, the monitor, the
  * live-cube read and the check; everything below is shared.
  *
  * REPLAY ([[graft.streaming.Replay]]). An unordered replay is
  * `repartition(n)`, so trigger order is arbitrary. A time-ordered
  * replay cuts the event range into 4 disjoint slices appended
  * oldest-first, which retention needs.
  *
  * HORIZON CONTRACT. With a retention horizon of H quanta over the
  * time-ordered replay, the window starts are the grid
  * `qMax − k·step` (k = 0..3), all inside the final horizon. The live
  * cube is the emission log restricted to each key's own horizon,
  * `q > q_max_k − H` with q_max_k the key's high-water quantum (the
  * global qMax when the monitor is unkeyed): state for older quanta
  * was evicted, so their earlier emissions are out of the contract.
  * Inside it, answers must be exactly the unbounded monitor's.
  *
  * EVICTION CONTRACT. With `evictKeys`, a key is dropped (with a
  * tombstone emission) once the self-derived watermark passes a full
  * horizon beyond the key's own high-water mark; the time-ordered
  * replay makes that exactly predictable from raw data, since a key is
  * live iff `watermark ≤ hw_k + H`. The gate asserts
  *   (a) live keys' answers pass the family's unbounded check;
  *   (b) STATE_OK: the final stateful-operator row count equals the
  *       predicted live-key count (state is bounded by live keys, not
  *       keys ever seen);
  *   (c) EVICT_OK: every predictably evicted key was tombstoned (a
  *       live key MAY also carry a mid-stream tombstone from an
  *       activity gap: it was evicted then and re-admitted).
  * Quantum monitors count in hours (unit 3600 s, watermark qMax,
  * tombstone `q = −1`); the decayed-MG monitor counts in seconds
  * (unit 1 s, watermark smax, tombstone `w ≤ 0`). (b) and (c) come
  * from one aggregate over the per-key high-water marks left-joined to
  * the tombstoned keys. */
private[queries] object MonitorGate {

  /** Event-time bounds, in seconds, from one scan. */
  final case class Bounds(smin: Long, smax: Long) {
    def qMax: Long = smax / 3600L
  }

  def bounds(ev: DataFrame): Bounds = {
    val mm = ev.agg(min(col("sec")).cast("long"), max(col("sec")).cast("long")).head
    Bounds(mm.getLong(0), mm.getLong(1))
  }

  /** The sliding gates' window grid: `n` evenly spaced starts over
    * [smin, smax], floored to the hour (the oracle's integer grid). */
  def slidingStarts(b: Bounds, grid: Int, n: Int): Seq[Long] =
    (0 until n)
      .map(k => ((b.smin + k.toLong * (b.smax - b.smin) / grid) / 3600L) * 3600L)
      .distinct

  def slidingStarts(ev: DataFrame, grid: Int, n: Int): Seq[Long] =
    slidingStarts(bounds(ev), grid, n)

  /** Emissions in Update mode to completion: (emission log, final
    * state row count). */
  def run(emissions: DataFrame, name: String): (DataFrame, Long) =
    EventStreams.runToCompletionStateRows(emissions.sparkSession, emissions,
      name, mode = "update")

  /** A check frame and the columns it is sorted by. */
  final case class Check(frame: DataFrame, order: Seq[String]) {
    def sorted: DataFrame = frame.orderBy(order.map(col): _*)
  }

  /** What a quantum monitor retains, and so which windows it answers. */
  sealed trait Retention
  /** Everything: an unordered replay and the sliding grid of `n` starts. */
  final case class Unbounded(grid: Int, n: Int) extends Retention
  /** `quanta` of history per key (`key = None`: the unkeyed monitor). */
  final case class Horizon(quanta: Long, step: Long, key: Option[Column])
    extends Retention
  /** A `quanta` horizon plus key eviction over `key`. */
  final case class Evict(quanta: Long, step: Long, key: Column) extends Retention

  /** A quantum-monitor gate: replay `project(events)` under
    * `retention`, run `monitor` over the stream as `name`, and pass the
    * events, the in-contract emission log and the window starts to
    * `verify`. */
  def apply(spark: SparkSession, dir: String, name: String,
      retention: Retention, project: DataFrame => DataFrame,
      monitor: DataFrame => DataFrame)(
      verify: (DataFrame, DataFrame, Seq[Long]) => Check): DataFrame = {
    val ev = Tables.events(spark, dir)
    val b = bounds(ev)
    retention match {
      case Unbounded(grid, n) =>
        val starts = slidingStarts(b, grid, n)
        val (log, _) = run(monitor(Replay.of(project(ev), name, 4).stream()), name)
        verify(ev, log, starts).sorted
      case Horizon(h, step, key) =>
        val (log, _) = run(monitor(
          Replay.ordered(ev, project, name, b.smin, b.smax, Quanta.unit).stream()),
          name)
        val live = key match {
          case None => log.filter(col("q") > b.qMax - h)
          case Some(k) =>
            val keyQMax = ev.groupBy(k.as("key")).agg(Quanta.hw.as(Quanta.hwName))
            log.join(broadcast(keyQMax), "key")
              .filter(col("q") > col(Quanta.hwName) - h)
        }
        verify(ev, live, horizonStarts(b, step)).sorted
      case Evict(h, step, key) =>
        val (log, perKey, flags) =
          evicting(ev, b, name, Quanta, key, h, project, monitor)
        // a re-admitted key's pre-gap emissions are all a full horizon
        // older than its final high-water quantum, so the per-key
        // filter also screens out stale-version collisions
        val live = log.filter(col("q") >= 0L)
          .join(broadcast(perKey), "key")
          .filter(col("q") > col(Quanta.hwName) - h)
        val c = verify(ev, live, horizonStarts(b, step))
        c.copy(frame = flags(c.frame)).sorted
    }
  }

  /** Window starts inside the final horizon: qMax − k·step, k = 0..3. */
  private def horizonStarts(b: Bounds, step: Long): Seq[Long] =
    (0 until 4).map(k => (b.qMax - k.toLong * step) * 3600L).distinct

  /** How an evicting monitor keeps time: steps of `unit` seconds, the
    * per-key high-water mark `hw` (named `hwName`) over events, and the
    * predicate marking tombstone emissions. */
  final case class Clock(unit: Long, hwName: String, hw: Column, tombstone: Column) {
    /** A key is live iff the watermark is within `horizon` units of
      * its high-water mark. */
    def live(b: Bounds, horizon: Long): Column =
      lit(b.smax / unit) <= col(hwName) + horizon
  }
  val Quanta = Clock(3600L, "q_max_k", expr("cast(max(sec) as long) div 3600"),
    col("q") === -1L)
  val Seconds = Clock(1L, "t_max_k", max("sec"), col("w") <= 0.0)

  /** Run an evicting monitor over a time-ordered replay of
    * `project(ev)`: the checkpointed emission log, the checkpointed
    * per-key high-water marks over `key`, and the transform appending
    * the contract's `state_ok` and `evict_ok`. `horizon` is in clock
    * units. */
  def evicting(ev: DataFrame, b: Bounds, name: String, clock: Clock, key: Column,
      horizon: Long, project: DataFrame => DataFrame,
      monitor: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val (log0, stateRows) = run(monitor(
      Replay.ordered(ev, project, name, b.smin, b.smax, clock.unit).stream()), name)
    val log = log0.localCheckpoint(true)
    val perKey = ev.select(key.as("key"), col("sec").cast("long").as("sec"))
      .groupBy("key").agg(clock.hw.as(clock.hwName))
      .localCheckpoint(true)
    val (live, missed) = evictionCounts(perKey, log, clock, b, horizon)
    (log, perKey, _.withColumn("state_ok", lit(if (stateRows == live) 1L else 0L))
      .withColumn("evict_ok", lit(if (missed == 0L) 1L else 0L)))
  }

  /** The eviction contract's two counts from ONE action: (predicted
    * live keys, predictably evicted keys with no tombstone in `log`),
    * one aggregate over `perKey` left-joined null-safely to the
    * distinct tombstoned keys. */
  def evictionCounts(perKey: DataFrame, log: DataFrame, clock: Clock, b: Bounds,
      horizon: Long): (Long, Long) = {
    val tombstoned = log.filter(clock.tombstone).select(col("key").as("t_key"))
      .distinct().withColumn("tombstoned", lit(true))
    val live = clock.live(b, horizon)
    val r = perKey.join(tombstoned, perKey("key") <=> col("t_key"), "left")
      .agg(count_if(live), count_if(!live && col("tombstoned").isNull))
      .head
    (r.getLong(0), r.getLong(1))
  }

  /** Whether the single columns of `a` and `b` hold the same distinct
    * values (NULL included), from ONE action: one aggregate over a
    * null-safe full join of the two distinct sets, counting rows that
    * miss a side. */
  def sameKeys(a: DataFrame, b: DataFrame): Boolean = {
    val l = a.toDF("k_a").distinct().withColumn("in_a", lit(true))
    val r = b.toDF("k_b").distinct().withColumn("in_b", lit(true))
    l.join(r, col("k_a") <=> col("k_b"), "full")
      .agg(count_if(col("in_a").isNull || col("in_b").isNull))
      .head.getLong(0) == 0L
  }
}
