package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The monitor gates' one-action verification helpers (MonitorGate):
  * the eviction counts and the same-key-set check. */
class MonitorGateSpec extends SparkSpec {
  import MonitorGate.Bounds

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
