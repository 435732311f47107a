package graft
package queries

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** The monitor gates' replay helper (MonitorGate): the time-ordered
  * replay's slice files and their pinned order, trigger-by-trigger
  * delivery, the stream schema, and the one-action eviction counts. */
class ReplaySpec extends SparkSpec {
  import MonitorGate.{Bounds, Replay}

  /** (sec, x) rows, `n` per hour over `hours` hours from an hour-aligned
    * epoch second. */
  private def hourly(hours: Int, n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val t0 = 1700000000L / 3600L * 3600L
    (for (h <- 0 until hours; i <- 0 until n)
      yield (t0 + h * 3600L + i * 7L, s"h$h-$i")).toDF("sec", "x")
  }

  private def partFiles(r: Replay): Seq[java.io.File] =
    new java.io.File(r.dir).listFiles.toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Each trigger's rows, by batch id, from a maxFilesPerTrigger = 1 read. */
  private def triggers(r: Replay, name: String): Seq[Seq[Row]] = {
    val got = new ConcurrentHashMap[Long, Seq[Row]]()
    val q = r.stream(1).writeStream.queryName(name)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        got.put(id, batch.collect().toSeq); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    got.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("ordered replay: one file per slice, mod-times strictly increasing oldest-first") {
    val ev = hourly(hours = 12, n = 5)
    val b = MonitorGate.bounds(ev)
    val r = MonitorGate.orderedReplay(ev, identity, "spec_files", b, 3600L)
    val files = partFiles(r).sortBy(_.lastModified)
    assert(files.size == MonitorGate.Slices)
    assert(files.map(_.lastModified).sliding(2).forall { case Seq(a, c) => a < c })
    // ordered by mod-time, the files hold consecutive 3-hour slices
    val ranges = files.map { f =>
      val secs = spark.read.parquet(f.getPath).collect().map(_.getLong(0))
      (secs.min, secs.max)
    }
    assert(ranges.map(_._1) == (0 until 4).map(i => b.smin + i * 3L * 3600L))
    assert(ranges.sliding(2).forall { case Seq(a, c) => a._2 < c._1 })
  }

  test("ordered replay at maxFilesPerTrigger = 1: trigger i carries slice i") {
    val ev = hourly(hours = 10, n = 3)
    val b = MonitorGate.bounds(ev)
    val r = MonitorGate.orderedReplay(ev, identity, "spec_triggers", b, 3600L)
    val got = triggers(r, "replay_spec_triggers")
    assert(got.size == MonitorGate.Slices)
    // 10 quanta in 4 slices: [0,2) [2,5) [5,7) [7,10)
    val bounds = Seq(0, 2, 5, 7, 10).map(q => b.smin + q * 3600L)
    got.zipWithIndex.foreach { case (batch, i) =>
      val want = ev.filter(col("sec") >= bounds(i) && col("sec") < bounds(i + 1))
      assert(batch.map(_.toString).sorted == rows(want), s"trigger $i")
    }
  }

  test("ordered replay: the triggers' union is the input, also with empty slices") {
    for ((hours, unit) <- Seq((10, 3600L), (2, 3600L), (1, 3600L), (3, 1L))) {
      val ev = hourly(hours, n = 4).unionByName(hourly(hours, n = 2)) // duplicates
      val b = MonitorGate.bounds(ev)
      val r = MonitorGate.orderedReplay(ev, identity, "spec_union", b, unit)
      val got = triggers(r, s"replay_spec_union_${hours}_$unit")
      assert(got.flatten.map(_.toString).sorted == rows(ev), s"$hours h, unit $unit")
    }
  }

  test("replay stream schemas equal the monitor gates' hand-written schemas") {
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    val ev = Tables.events(spark, sf())
    val b = MonitorGate.bounds(ev)
    val key = col("event_type").cast("string").as("key")
    val userType = concat(col("user_id").cast("string"), lit("_"),
      col("event_type").cast("string"))
    val bucket = floor(col("value")).cast("long").cast("string")
    val q = expr("sec div 3600").as("q")
    val cases: Seq[(DataFrame => DataFrame, StructType)] = Seq(
      (_.select(key, q, col("value").cast("double").as("v")),
        st("key" -> StringType, "q" -> LongType, "v" -> DoubleType)),
      (_.select(lit("").as("key"), q, col("user_id").cast("string").as("item")),
        st("key" -> StringType, "q" -> LongType, "item" -> StringType)),
      (_.select(col("user_id"), col("sec")),
        st("user_id" -> LongType, "sec" -> LongType)),
      (_.select(col("user_id"), col("event_type"), col("sec")),
        st("user_id" -> LongType, "event_type" -> StringType, "sec" -> LongType)),
      (_.select(userType.as("key2"), col("value"), col("sec").cast("long").as("sec")),
        st("key2" -> StringType, "value" -> DoubleType, "sec" -> LongType)),
      (_.select(userType.as("key"), col("sec").cast("long").as("t"), bucket.as("item")),
        st("key" -> StringType, "t" -> LongType, "item" -> StringType)),
      (_.select(col("user_id"), col("event_id"), col("event_type"), col("sec"),
          graft.operators.Cdc.packedVersion(col("sec"), col("event_id"), "spec")
            .as("ver")),
        st("user_id" -> LongType, "event_id" -> LongType, "event_type" -> StringType,
          "sec" -> LongType, "ver" -> LongType)))
    cases.zipWithIndex.foreach { case ((project, want), i) =>
      val unordered = MonitorGate.replay(project(ev), s"spec_schema$i", 2)
      val ordered = MonitorGate.orderedReplay(ev, project, s"spec_schema$i", b, 3600L)
      assert(unordered.schema == want, s"case $i")
      assert(ordered.schema == want, s"case $i")
      assert(unordered.stream().schema == want, s"case $i")
    }
  }

  test("eviction counts from one action match the two-action formulation") {
    val s = spark
    import s.implicits._
    val b = Bounds(0L, 100L * 3600L) // watermark quantum 100
    // (key, q_max_k): horizon 10 makes keys with q_max_k >= 90 live
    val perKey = Seq[(String, java.lang.Long)](("a", 95L), ("b", 80L), ("c", 50L),
      ("d", 99L), (null, 10L), ("e", null), ("f", 70L))
      .toDF("key", "q_max_k")
    // tombstones (q = -1) for b twice, the null key, live key d (a gap)
    val log = Seq[(String, Long)](("a", 3L), ("b", -1L), ("b", -1L), (null, -1L),
      ("d", -1L), ("d", 99L), ("c", 4L), ("f", 60L))
      .toDF("key", "q")
    val clock = MonitorGate.Quanta
    val live = perKey.filter(lit(b.qMax) <= col("q_max_k") + 10L)
    val tomb = log.filter(col("q") === -1L).select("key").distinct()
    val missed = perKey.filter(lit(b.qMax) > col("q_max_k") + 10L)
      .select("key").except(tomb)
    val want = (live.count(), missed.count())
    assert(want == (2L, 2L)) // live a, d; c and f never tombstoned
    assert(MonitorGate.evictionCounts(perKey, log, clock, b, 10L) == want)
    // every evicted key tombstoned
    val all = log.unionByName(Seq[(String, Long)](("c", -1L), ("f", -1L)).toDF("key", "q"))
    assert(MonitorGate.evictionCounts(perKey, all, clock, b, 10L) == ((2L, 0L)))
    // the decayed clock: seconds, tombstone w <= 0
    val dmKeys = Seq(("x", 1000L), ("y", 10L)).toDF("key", "t_max_k")
    val dmLog = Seq(("x", 1.0), ("y", 0.0)).toDF("key", "w")
    assert(MonitorGate.evictionCounts(dmKeys, dmLog, MonitorGate.Seconds,
      Bounds(0L, 1000L), 100L) == ((1L, 0L)))
  }

  test("same key set from one action matches the two-except formulation") {
    val s = spark
    import s.implicits._
    def keys(ks: String*) = ks.toDF("key")
    def twoExcept(a: DataFrame, b: DataFrame) =
      a.except(b).count() == 0L && b.except(a).count() == 0L
    val cases = Seq(
      (keys("a", "b", null, "b"), keys(null, "b", "a")), // null key, duplicates
      (keys("a", "b"), keys("a", "b", null)), // a null only on one side
      (keys("a", null, null), keys("a")),
      (keys("a", "a"), keys("a", "c")),
      (keys(), keys()),
      (keys(), keys("a")))
    assert(cases.map { case (a, b) => twoExcept(a, b) } ==
      Seq(true, false, false, false, true, false))
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(MonitorGate.sameKeys(a, b) == twoExcept(a, b), s"case $i")
      assert(MonitorGate.sameKeys(b, a) == twoExcept(b, a), s"case $i swapped")
    }
  }
}
