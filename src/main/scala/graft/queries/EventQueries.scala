package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Cross, Tables}
import graft.functions.HashFns
import graft.operators.{Skew, TemporalJoins}
import graft.operators.{SlidingSketches => SS}
import graft.queries.MonitorGate.{Evict, Horizon, Unbounded}
import graft.streaming.{Replay, SlidingMonitor}

/** Event-stream operators in their batch form over `events`: tumbling and
  * sliding window aggregation, sessionization, keyed dedup, JSON
  * extraction. The streaming counterparts (withWatermark + window,
  * dropDuplicatesWithinWatermark, flatMapGroupsWithState sessionization)
  * live in graft.streaming and share these semantics; the reference has no
  * streaming surface at all (SURVEY.md §2.11), so this is the
  * beyond-reference design space.
  *
  * Timestamps: the parquet ts column's physical type has varied across
  * testdata generations (int64 nanos, timestamp[us]); Tables.events
  * dispatches on the actual type. All queries reduce time to whole epoch
  * seconds (floor) *before* any arithmetic or comparison so both engines
  * agree; outputs carry epoch seconds or formatted strings, never raw
  * timestamps.
  */
object EventQueries {

  /** Tumbling 1-hour window per event type (streaming `window()` analog). */
  val q50 = QueryDef(
    "q50_window_tumbling",
    s"""SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
       |  COUNT(*) AS n, ${Cross.dsumSql("value", 4)} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY hour, event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy(from_unixtime(col("sec") - pmod(col("sec"), lit(3600)), "yyyy-MM-dd HH:00:00").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Cross.dsum(col("value"), 4).as("sum_value"))
      .orderBy("hour", "event_type")
  }

  /** Gap-based sessionization (30-min inactivity): lag + flag + running
    * sum, all integer arithmetic on floored epoch seconds. */
  val q51 = QueryDef(
    "q51_sessionize",
    """WITH e AS (
      |  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN sec - lag(sec) OVER w > 1800 OR lag(sec) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, sec,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |       MIN(sec) AS start_sec, MAX(sec) AS end_sec
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val flagged = e.withColumn("prev", lag("sec", 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1).otherwise(0))
    flagged
      .withColumn("session_id", sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("sec").as("start_sec"), max("sec").as("end_sec"))
      .orderBy("user_id", "session_id")
  }

  /** Native session_window sessionization pinned against q51's oracle:
    * Spark's built-in gap-session operator must produce the IDENTICAL
    * session partition as the hand-rolled lag+flag+running-sum form
    * (and q92's stateful streaming fold) — same gap rule at the exact
    * boundary (a 1800-second gap continues the session, 1801 starts a
    * new one), same per-session aggregates. The ordinal session_id the
    * oracle carries is reconstructed from the window starts. */
  val q186 = QueryDef(
    "q186_session_window",
    """WITH e AS (
      |  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN sec - lag(sec) OVER w > 1800 OR lag(sec) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, sec,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |       MIN(sec) AS start_sec, MAX(sec) AS end_sec
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("sec"), col("sec").cast("timestamp").as("etime"))
    e.groupBy(col("user_id"), session_window(col("etime"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min("sec").as("start_sec"), max("sec").as("end_sec"))
      .withColumn("session_id", row_number().over(
        Window.partitionBy("user_id").orderBy(col("sw.start"))).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_sec"), col("end_sec"))
      .orderBy("user_id", "session_id")
  }

  /** Semi-structured JSON extraction from the props column. */
  val q52 = QueryDef(
    "q52_json_extract",
    s"""SELECT event_type,
       |  ${Cross.dsumSql("json_extract_string(props, '" + "$" + ".k')::BIGINT", 0)} AS sum_k,
       |  MAX(json_extract_string(props, '$$.k')::BIGINT) AS max_k
       |FROM events
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(Cross.dsum(col("k").cast("double"), 0).as("sum_k"), max("k").as("max_k"))
      .orderBy("event_type")
  }

  /** Keyed dedup keeping the first event per (user, type) by time —
    * batch analog of dropDuplicatesWithinWatermark. */
  val q53 = QueryDef(
    "q53_keyed_dedup",
    """SELECT user_id, event_type, event_id AS first_event, sec AS first_sec FROM (
      |  SELECT user_id, event_type, event_id, floor(epoch(ts))::BIGINT AS sec,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY sec, event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("user_id", "event_type").orderBy("sec", "event_id")
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event"),
        col("sec").as("first_sec"))
      .orderBy("user_id", "event_type")
  }

  /** Daily counts + 3-day moving sum (sliding-window analog) via a
    * RANGE frame over the integer day number. */
  val q54 = QueryDef(
    "q54_window_sliding",
    """WITH daily AS (
      |  SELECT event_type, (floor(epoch(ts))::BIGINT // 86400) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, day, n,
      |  SUM(n) OVER (PARTITION BY event_type ORDER BY day
      |               RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)::BIGINT AS n_3day
      |FROM daily
      |ORDER BY event_type, day""".stripMargin) { (spark, dir) =>
    val daily = Tables.events(spark, dir)
      .select(col("event_type"), expr("sec div 86400").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-2, 0)
    daily
      .withColumn("n_3day", sum("n").over(w))
      .orderBy("event_type", "day")
  }

  /** S1-analog at scale: day-partitioned parquet write + partition-pruned
    * read-back. The Spark side writes events partitioned by day, reads
    * back only three day-partitions (the filter prunes at the directory
    * level — pinned by PlanSpec), and must hash-match the oracle computing
    * the same slice from the ORIGINAL table: a lossy partition layout,
    * dropped rows, or broken pruning all fail the gate. */
  val q55 = QueryDef(
    "q55_partitioned_roundtrip",
    """SELECT (floor(epoch(ts))::BIGINT // 86400) AS day, event_type, COUNT(*) AS n
      |FROM events
      |WHERE (floor(epoch(ts))::BIGINT // 86400) % 10 = 3
      |GROUP BY day, event_type
      |ORDER BY day, event_type""".stripMargin) { (spark, dir) =>
    // pid-keyed path + overwrite (TempPaths): stable within a run, safe
    // across concurrent runs, deleted at exit
    val tmp = graft.core.TempPaths.gatePath("part_gate")
    Tables.events(spark, dir)
      .withColumn("day", expr("sec div 86400"))
      .write.mode("overwrite").partitionBy("day").parquet(s"$tmp/events_by_day")
    spark.read.parquet(s"$tmp/events_by_day")
      .filter(pmod(col("day"), lit(10)) === 3)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("day", "event_type")
  }

  /** Deterministic per-key cap (≤ 3 events per user, selected by content
    * hash): the curation "max N per domain" constraint. The oracle ranks
    * by the identical folded hash, so WHICH rows survive — not just how
    * many — is hash-verified cross-engine. */
  val q56 = QueryDef(
    "q56_cap_per_key",
    s"""WITH ranked AS (
       |  SELECT user_id, event_id,
       |         row_number() OVER (
       |           PARTITION BY user_id
       |           ORDER BY ${Cross.hash64Sql("event_id::VARCHAR")} % 1125899906842624, event_id
       |         ) AS rk
       |  FROM events)
       |SELECT user_id AS key, event_id AS id FROM ranked WHERE rk <= 3
       |ORDER BY key, id""".stripMargin) { (spark, dir) =>
    graft.operators.Sampling.capPerKey(
        Tables.events(spark, dir), col("user_id"), col("event_id"), 3)
      .orderBy("key", "id")
  }

  /** As-of join (TemporalJoins.asofJoin): each click picks up the user's
    * latest view at or before it — the single-pass union+running-window
    * shape, never a per-row rescan. The oracle replays the same ANSI
    * union+window algebra (DuckDB's ASOF JOIN keyword has unspecified
    * tie-breaks; the window mirror is deterministic on both engines). */
  val q57 = QueryDef(
    "q57_asof_join",
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, floor(epoch(ts))::BIGINT AS sec FROM events),
      |u AS (
      |  SELECT user_id, sec, 0 AS side, event_id AS tid,
      |         event_id AS view_event, sec AS view_sec
      |  FROM e WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT user_id, sec, 1, event_id, NULL, NULL
      |  FROM e WHERE event_type = 'click'),
      |f AS (
      |  SELECT user_id, sec, side, tid,
      |    last_value(view_event IGNORE NULLS) OVER w AS view_event,
      |    last_value(view_sec IGNORE NULLS) OVER w AS view_sec
      |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY sec, side, tid
      |                      ROWS UNBOUNDED PRECEDING))
      |SELECT user_id, tid AS click_event, sec AS click_sec, view_event, view_sec
      |FROM f WHERE side = 1
      |ORDER BY user_id, click_event""".stripMargin) { (spark, dir) =>
    val e = Tables.events(spark, dir)
    TemporalJoins.asofJoin(
        e.filter(col("event_type") === "click").select("user_id", "event_id", "sec"),
        e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("sec"),
            col("event_id").as("view_event"), col("sec").as("view_sec")),
        key = "user_id", leftTime = "sec", rightTime = "sec",
        leftId = "event_id", rightId = "event_id",
        rightPayload = Seq("view_event", "view_sec"))
      .withColumnRenamed("event_id", "click_event")
      .withColumnRenamed("sec", "click_sec")
      .orderBy("user_id", "click_event")
  }

  /** Range-containment join (TemporalJoins.rangeJoinBucketed): global
    * event activity inside each of a user slice's sessions. The bucketed
    * equi-join shape replaces the cartesian a BETWEEN theta-join would
    * plan (PlanSpec pins the absence of a nested-loop); sessions come
    * from the secondary-sort sessionizer, exercising operator reuse. */
  val q58 = QueryDef(
    "q58_range_join",
    """WITH e AS (
      |  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, sec,
      |    CASE WHEN sec - lag(sec) OVER w > 1800 OR lag(sec) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, sec,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |                           ROWS UNBOUNDED PRECEDING)::BIGINT AS session_id
      |  FROM flagged),
      |sessions AS (
      |  SELECT user_id AS s_user, session_id,
      |         MIN(sec) AS start_sec, MAX(sec) AS end_sec
      |  FROM sess GROUP BY user_id, session_id),
      |small AS (SELECT * FROM sessions WHERE s_user < 8)
      |SELECT s_user, session_id, COUNT(*) AS n
      |FROM small JOIN e ON e.sec BETWEEN start_sec AND end_sec
      |GROUP BY s_user, session_id
      |ORDER BY s_user, session_id""".stripMargin) { (spark, dir) =>
    val sessions = graft.streaming.Sessionize.sessionizeBatch(
        graft.streaming.Sessionize.eventsDataset(spark, dir))
      .filter(col("user_id") < 8)
      .select(col("user_id").as("s_user"), col("session_id"),
        col("start_sec"), col("end_sec"))
    val points = Tables.events(spark, dir).select(col("event_id"), col("sec"))
    TemporalJoins.rangeJoinBucketed(points, sessions, "sec", "start_sec", "end_sec", 3600L)
      .groupBy("s_user", "session_id").agg(count(lit(1)).as("n"))
      .orderBy("s_user", "session_id")
  }

  /** Salted equi-join (Skew.saltedEquiJoin): output must be EXACTLY the
    * plain equi-join — the oracle is the unsalted SQL join, so the gate
    * proves the salt never leaks into results at any factor. */
  val q59 = QueryDef(
    "q59_salted_join",
    s"""SELECT c_nationkey, event_type, COUNT(*) AS n,
       |  ${Cross.dsumSql("value", 4)} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val big = Tables.events(spark, dir).select(col("user_id").as("c_custkey"),
      col("event_id"), col("event_type"), col("value"))
    val small = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    Skew.saltedEquiJoin(big, small, Seq("c_custkey"), 8, Seq(col("event_id")))
      .groupBy("c_nationkey", "event_type")
      .agg(count(lit(1)).as("n"), Cross.dsum(col("value"), 4).as("sum_value"))
      .orderBy("c_nationkey", "event_type")
  }

  /** HyperLogLog approx-distinct: the sketch is merge-commutative, so the
    * estimate is deterministic for a dataset regardless of partitioning —
    * but its value is engine-specific, so the gate pins the EXACT count
    * plus a boolean accuracy contract (within 5% at rsd=2%): a sketch
    * regression flips the boolean and hash-fails. */
  val q47 = QueryDef(
    "q47_approx_distinct",
    """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_5pct
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        approx_count_distinct("user_id", 0.02).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("within_5pct"))
      .orderBy("event_type")
  }

  /** Quantiles: the exact interpolated median hash-matches DuckDB's
    * quantile_cont; the approximate leg is served from the repo's own
    * mergeable GK summary ([[graft.plans.GkQuantileAgg]] +
    * `graft_gk_q`), value-checked against the exact p40..p60 band
    * (same boolean-contract pattern as q47). This used to call
    * engine-private `approx_percentile` — the exact one-shot the GK
    * scaladoc argues against (state can't be published, rolled up, or
    * re-queried at a new φ); serving it from the sketch makes every
    * quantile in the repo mergeable, and the band is 10% of rank where
    * the m = 2048 summary guarantees <1%. */
  val q48 = QueryDef(
    "q48_quantile_sketch",
    """SELECT event_type,
      |  (round((quantile_cont(value, 0.5)) + 1e-9, 6) + 0.0) AS p50,
      |  TRUE AS approx_in_band
      |FROM events GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(Cross.r6(expr("percentile(value, 0.5D)")).as("p50"),
        graft.plans.GkQuantile.sketch(col("value"), 2048).as("sk"),
        expr("percentile(value, 0.4D)").as("p40"),
        expr("percentile(value, 0.6D)").as("p60"))
      .select(col("event_type"), col("p50"),
        (graft.plans.GkQuantile.quantileCol(col("sk"), 0.5) >= col("p40") &&
          graft.plans.GkQuantile.quantileCol(col("sk"), 0.5) <= col("p60"))
          .as("approx_in_band"))
      .orderBy("event_type")
  }

  /** Bloom-prefiltered join (Skew.bloomPrefilterJoin): the filter only
    * PRUNES — false positives die in the exact join — so the unfiltered
    * join is the oracle and any dropped true match hash-fails. */
  val q100 = QueryDef(
    "q100_bloom_join",
    """SELECT c_nationkey, COUNT(*) AS n
      |FROM events JOIN (SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 7 = 0) d
      |  ON user_id = c_custkey
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin) { (spark, dir) =>
    val build = Tables.customer(spark, dir).filter(pmod(col("c_custkey"), lit(7)) === 0)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
    val probe = Tables.events(spark, dir).select("user_id")
    Skew.bloomPrefilterJoin(probe, build, "user_id", expectedItems = 10000)
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .orderBy("c_nationkey")
  }

  /** Ordered conversion funnel view→click→purchase within 2 h: one
    * conditional-MIN aggregate + user-keyed join per step — never a
    * per-user ordered event collect. The oracle replays the identical
    * chained-CTE algebra. */
  val q104 = QueryDef(
    "q104_funnel",
    """WITH e AS (
      |  SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS sec FROM events),
      |s1 AS (
      |  SELECT user_id, MIN(sec) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(e.sec) AS t2, MIN(s1.t1) AS t1
      |  FROM e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.sec >= s1.t1 AND e.sec <= s1.t1 + 7200
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(e.sec) AS t3
      |  FROM e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.sec >= s2.t2 AND e.sec <= s2.t1 + 7200
      |  GROUP BY e.user_id)
      |SELECT 1 AS step_idx, 'view' AS step_name, (SELECT COUNT(*) FROM s1) AS n_users
      |UNION ALL
      |SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
      |UNION ALL
      |SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
      |ORDER BY step_idx""".stripMargin) { (spark, dir) =>
    graft.operators.Analytics.funnel(Tables.events(spark, dir),
        Seq("view", "click", "purchase"), windowSeconds = 7200)
      .orderBy("step_idx")
  }

  /** Weekly cohort retention matrix: cohort = first-touch epoch-week,
    * cell = distinct users of that cohort active at each week offset. */
  val q105 = QueryDef(
    "q105_cohort_retention",
    """WITH e AS (
      |  SELECT user_id, floor(epoch(ts))::BIGINT AS sec FROM events),
      |first AS (
      |  SELECT user_id, MIN(sec) // 604800 AS cohort_week FROM e GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, sec // 604800 AS week FROM e)
      |SELECT cohort_week, week - cohort_week AS week_offset, COUNT(*) AS n_users
      |FROM active JOIN first USING (user_id)
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin) { (spark, dir) =>
    graft.operators.Analytics.cohortRetention(Tables.events(spark, dir))
      .orderBy("cohort_week", "week_offset")
  }

  /** Domain-mixture resampling (Sampling.mixtureSample): clicks kept at
    * 1/4, views at 1/10, errors dropped, everything else at 1/2 — decided
    * per row by the event_id content hash. The oracle recomputes each
    * domain's keep predicate, so WHICH rows survive (not just how many)
    * is verified; the dropped domain must vanish on both engines. */
  val q108 = QueryDef(
    "q108_mixture_sample",
    s"""WITH b AS (
       |  SELECT event_type, event_id,
       |    CASE WHEN event_type = 'click' THEN ${Cross.hash64Sql("event_id::VARCHAR")} % 4 < 1
       |         WHEN event_type = 'error' THEN FALSE
       |         WHEN event_type = 'view'  THEN ${Cross.hash64Sql("event_id::VARCHAR")} % 10 < 1
       |         ELSE ${Cross.hash64Sql("event_id::VARCHAR")} % 2 < 1 END AS keep
       |  FROM events)
       |SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
       |FROM b WHERE keep GROUP BY event_type
       |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    graft.operators.Sampling.mixtureSample(Tables.events(spark, dir),
        col("event_type"), col("event_id"),
        Map("click" -> (1, 4), "error" -> (0, 1), "view" -> (1, 10)), default = (1, 2))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  /** Count-min sketch (Sketches): build a 4×32 sketch over the user_id
    * stream, then estimate every distinct user's frequency from it. The
    * construction is pure integer arithmetic on the shared md5/FNV hash
    * family, so the oracle rebuilds the identical sketch and the ESTIMATES
    * hash-match exactly; `never_under` additionally pins the count-min
    * guarantee (est >= exact) against the true counts. Width 32 << the
    * ~1000 distinct users forces real collision mass, so the gate
    * exercises the min-over-rows logic, not a collision-free identity. */
  /** Shared by q110 (batch build) and q119 (stream build): the estimates
    * depend only on the sketch cells, which must be identical however the
    * sketch was folded. */
  val countMinOracleSql: String =
    s"""WITH keys AS (SELECT user_id::VARCHAR AS k FROM events),
       |hx AS (SELECT ${Cross.hash31Sql("k")} AS x FROM keys),
       |cells AS (
       |  SELECT h_idx AS row, ${HashFns.happlySql} % 32 AS bucket, COUNT(*) AS cnt
       |  FROM hx CROSS JOIN ${HashFns.minhashParamsSql(4)}
       |  GROUP BY 1, 2),
       |probes AS (SELECT k AS key, COUNT(*) AS exact FROM keys GROUP BY k),
       |ph AS (SELECT key, exact, ${Cross.hash31Sql("key")} AS x FROM probes),
       |pc AS (
       |  SELECT key, exact, h_idx AS row, ${HashFns.happlySql} % 32 AS bucket
       |  FROM ph CROSS JOIN ${HashFns.minhashParamsSql(4)}),
       |est AS (
       |  SELECT key, MIN(exact) AS exact, MIN(COALESCE(cnt, 0)) AS est
       |  FROM pc LEFT JOIN cells USING (row, bucket)
       |  GROUP BY key)
       |SELECT key, exact, est, est >= exact AS never_under
       |FROM est ORDER BY key""".stripMargin

  val q110 = QueryDef(
    "q110_count_min",
    countMinOracleSql) { (spark, dir) =>
    import graft.operators.Sketches
    val keys = Tables.events(spark, dir).select(col("user_id").cast("string").as("k"))
    val sketch = Sketches.countMinBuild(keys, depth = 4, width = 32)
    val probes = keys.groupBy(col("k").as("key")).agg(count(lit(1)).as("exact"))
    Sketches.countMinEstimate(sketch, probes.select("key"), depth = 4, width = 32)
      .join(probes, "key")
      .select(col("key"), col("exact"), col("est"),
        (col("est") >= col("exact")).as("never_under"))
      .orderBy("key")
  }

  /** Per-row weighted sampling (Sampling.weightedSample): keep
    * probability = least(value/100, 1) per event, decided by the
    * event_id content hash — the oracle recomputes the same threshold
    * comparison, so WHICH rows survive is verified. */
  val q120 = QueryDef(
    "q120_weighted_sample",
    s"""WITH b AS (
       |  SELECT event_type, event_id,
       |    (${Cross.hash64Sql("event_id::VARCHAR")} % 1000000) <
       |      round(least(value / 100, 1.0) * 1000000.0)::BIGINT AS keep
       |  FROM events)
       |SELECT event_type, COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
       |FROM b WHERE keep GROUP BY event_type
       |ORDER BY event_type""".stripMargin) { (spark, dir) =>
    graft.operators.Sampling.weightedSample(Tables.events(spark, dir),
        col("event_id"), least(col("value") / 100, lit(1.0)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("event_id").as("min_id"), max("event_id").as("max_id"))
      .orderBy("event_type")
  }

  /** Incremental aggregate maintenance (Incremental.partials/merge):
    * per-(type, day) partial states merged to per-type totals. The
    * oracle aggregates the raw rows DIRECTLY in one pass — hash-equality
    * is the partial-then-merge ≡ direct contract that makes incremental
    * maintenance sound (decimal partial sums are exact and commutative). */
  /** Shared by q123 (batch partials) and q127 (stream partials): the
    * merged totals must equal the direct one-pass aggregation however
    * the partial states were produced. */
  val incrementalOracleSql: String =
    s"""WITH e AS (
       |  SELECT event_type, value FROM events)
       |SELECT event_type AS key, COUNT(*) AS n,
       |  ${Cross.dsumSql("value", 2)} AS sum,
       |  (round((${Cross.dsumSql("value", 2)} / COUNT(*)) + 1e-9, 6) + 0.0) AS avg,
       |  MIN(value) AS mn, MAX(value) AS mx
       |FROM e GROUP BY event_type
       |ORDER BY key""".stripMargin

  val q123 = QueryDef(
    "q123_incremental_merge",
    incrementalOracleSql) { (spark, dir) =>
    import graft.operators.Incremental
    val e = Tables.events(spark, dir)
    val p = Incremental.partials(e, col("event_type"), expr("sec div 86400"),
      col("value"), scale = 2)
    Incremental.merge(p).orderBy("key")
  }

  /** Key-skew diagnosis (Skew.keySkewReport): the hottest join keys
    * with row share and multiple-of-average — the measurement that
    * picks between a plain join, AQE, and an explicit salt BEFORE the
    * straggler appears. Oracle recomputes counts, totals, and both
    * ratios with the same rounding. */
  val q141 = QueryDef(
    "q141_skew_report",
    s"""WITH c AS (SELECT user_id AS key, COUNT(*) AS n FROM events GROUP BY user_id),
       |t AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM c)
       |SELECT key, n,
       |  ${graft.core.Cross.r6Sql("n::DOUBLE / total::DOUBLE")} AS share,
       |  ${graft.core.Cross.r6Sql("n::DOUBLE * n_keys::DOUBLE / total::DOUBLE")} AS skew_vs_avg
       |FROM c CROSS JOIN t
       |ORDER BY n DESC, key LIMIT 20""".stripMargin) { (spark, dir) =>
    graft.operators.Skew.keySkewReport(
        Tables.events(spark, dir), col("user_id"), topK = 20)
      .orderBy(col("n").desc, col("key"))
  }

  /** Next-event training examples (Examples.nextEventExamples): each
    * user's event stream becomes (3-event history → next event) pairs,
    * ramp-up rows dropped — sequence-model example generation. Ordered
    * by event_id (the engine-stable sequence key; raw timestamps
    * differ in precision across engines). The bounded window frame is
    * the point: per-entity state is 3 rows, not the whole history. */
  val q172 = QueryDef(
    "q172_next_event_examples",
    """WITH h AS (
      |  SELECT user_id, event_id, event_type,
      |    list(event_type) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS hist
      |  FROM events)
      |SELECT user_id, event_id, array_to_string(hist, ' ') AS history,
      |  event_type AS label
      |FROM h WHERE len(hist) = 3
      |ORDER BY user_id, event_id""".stripMargin) { (spark, dir) =>
    graft.operators.Examples.nextEventExamples(Tables.events(spark, dir),
        col("user_id"), col("event_id"), col("event_type"), histLen = 3)
      .withColumnRenamed("entity", "user_id")
      .withColumnRenamed("seq", "event_id")
      .orderBy("user_id", "event_id")
  }

  /** Population Stability Index (Analytics.psi): value-distribution
    * drift between two event populations (even vs odd event ids — a
    * deterministic split with mild real drift), 10 fixed-width bins
    * over [0, 500) with edge clamping and add-one smoothing; per-bin
    * table plus the bin −1 total. The oracle recomputes the binning,
    * the smoothed shares, and the micro-rounded (p−q)·log2(p/q) fold. */
  val q211 = QueryDef(
    "q211_psi",
    s"""WITH r AS (
       |  SELECT LEAST(GREATEST(floor((value - 0.0) / 50.0)::BIGINT, 0), 9) AS bin,
       |         COUNT(*) AS n_ref
       |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
       |c AS (
       |  SELECT LEAST(GREATEST(floor((value - 0.0) / 50.0)::BIGINT, 0), 9) AS bin,
       |         COUNT(*) AS n_cur
       |  FROM events WHERE event_id % 2 = 1 GROUP BY 1),
       |g AS (SELECT unnest(range(0, 10)) AS bin),
       |per AS (
       |  SELECT g.bin, COALESCE(r.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur
       |  FROM g LEFT JOIN r ON g.bin = r.bin LEFT JOIN c ON g.bin = c.bin),
       |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM per),
       |s AS (
       |  SELECT bin, n_ref, n_cur,
       |    ${Cross.r9Sql("(n_ref + 1)::DOUBLE / (t_ref + 10)::DOUBLE")} AS p_ref,
       |    ${Cross.r9Sql("(n_cur + 1)::DOUBLE / (t_cur + 10)::DOUBLE")} AS p_cur
       |  FROM per CROSS JOIN tot),
       |terms AS (
       |  SELECT bin, n_ref, n_cur, p_ref, p_cur,
       |    ${Cross.r9Sql("(p_cur - p_ref) * log2(p_cur / p_ref)")} AS term
       |  FROM s)
       |SELECT * FROM (
       |  SELECT bin, n_ref, n_cur, p_ref, p_cur, term FROM terms
       |  UNION ALL
       |  SELECT -1, -1, -1, 0.0, 0.0, ${Cross.dsumSql("term", 9)} FROM terms)
       |ORDER BY bin""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    graft.operators.Analytics.psi(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        col("value"), lo = 0.0, hi = 500.0, bins = 10)
      .orderBy("bin")
  }

  /** Streaming PSI (EventStreams.psiSideCounts + Analytics.psiFromCounts):
    * the per-(side, bin) counts fold incrementally over the REPLAYED
    * event stream — state is one count per (side, bin) — and the PSI
    * arithmetic runs on the completed fold. Same oracle as the batch
    * q211: hash-equality proves stream fold ≡ batch fold and the shared
    * arithmetic downstream. */
  val q214 = QueryDef(
    "q214_stream_psi",
    s"""WITH r AS (
       |  SELECT LEAST(GREATEST(floor((value - 0.0) / 50.0)::BIGINT, 0), 9) AS bin,
       |         COUNT(*) AS n_ref
       |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
       |c AS (
       |  SELECT LEAST(GREATEST(floor((value - 0.0) / 50.0)::BIGINT, 0), 9) AS bin,
       |         COUNT(*) AS n_cur
       |  FROM events WHERE event_id % 2 = 1 GROUP BY 1),
       |g AS (SELECT unnest(range(0, 10)) AS bin),
       |per AS (
       |  SELECT g.bin, COALESCE(r.n_ref, 0) AS n_ref, COALESCE(c.n_cur, 0) AS n_cur
       |  FROM g LEFT JOIN r ON g.bin = r.bin LEFT JOIN c ON g.bin = c.bin),
       |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM per),
       |s AS (
       |  SELECT bin, n_ref, n_cur,
       |    ${Cross.r9Sql("(n_ref + 1)::DOUBLE / (t_ref + 10)::DOUBLE")} AS p_ref,
       |    ${Cross.r9Sql("(n_cur + 1)::DOUBLE / (t_cur + 10)::DOUBLE")} AS p_cur
       |  FROM per CROSS JOIN tot),
       |terms AS (
       |  SELECT bin, n_ref, n_cur, p_ref, p_cur,
       |    ${Cross.r9Sql("(p_cur - p_ref) * log2(p_cur / p_ref)")} AS term
       |  FROM s)
       |SELECT * FROM (
       |  SELECT bin, n_ref, n_cur, p_ref, p_cur, term FROM terms
       |  UNION ALL
       |  SELECT -1, -1, -1, 0.0, 0.0, ${Cross.dsumSql("term", 9)} FROM terms)
       |ORDER BY bin""".stripMargin) { (spark, dir) =>
    import graft.streaming.EventStreams
    val counts = EventStreams.psiSideCounts(
      EventStreams.readEvents(spark, dir),
      pmod(col("event_id"), lit(2)), col("value"), lo = 0.0, hi = 500.0, bins = 10)
    val folded = EventStreams.runToCompletion(spark, counts, "q214_counts")
    graft.operators.Analytics.psiFromCounts(
        folded.filter(col("side") === 0L).select(col("bin"), col("n").as("n_ref")),
        folded.filter(col("side") === 1L).select(col("bin"), col("n").as("n_cur")),
        bins = 10)
      .orderBy("bin")
  }

  /** First-order Markov transition matrix (Analytics.transitionMatrix):
    * per-user event-time step counts with row-normalized probabilities,
    * ties on (sec, event_id) so the sequence is total-ordered. The
    * oracle recomputes the lag pairs and row totals flat. */
  val q215 = QueryDef(
    "q215_transition_matrix",
    s"""WITH e AS (
       |  SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS sec, event_id
       |  FROM events),
       |s AS (
       |  SELECT user_id, event_type,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id)
       |      AS prev_type
       |  FROM e),
       |c AS (
       |  SELECT prev_type, event_type, COUNT(*) AS n
       |  FROM s WHERE prev_type IS NOT NULL
       |  GROUP BY prev_type, event_type),
       |rt AS (SELECT prev_type, SUM(n) AS rt FROM c GROUP BY prev_type)
       |SELECT c.prev_type, c.event_type, c.n,
       |  ${Cross.r6Sql("c.n::DOUBLE / rt.rt::DOUBLE")} AS p
       |FROM c JOIN rt USING (prev_type)
       |ORDER BY prev_type, event_type""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    graft.operators.Analytics.transitionMatrix(ev,
        col("user_id"), col("event_type"), col("sec"), col("event_id"))
      .orderBy("prev_type", "event_type")
  }

  /** Shared q228/q230 oracle: per-(type, day) counts DENSIFIED to each
    * key's [first bucket, global max bucket] grid (zero-filled — silent
    * days must be visible and flagged, not absent) and z-scored against
    * the trailing 3-day window — q230's streaming fold must land on the
    * identical table. */
  private def volumeAnomalyOracle: String =
    s"""WITH per AS (
       |  SELECT event_type AS key, (floor(epoch(ts))::BIGINT // 86400) AS bucket,
       |         COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |gmax AS (SELECT MAX(bucket) AS ghi FROM per),
       |grid AS (
       |  SELECT key, unnest(range(lo, ghi + 1)) AS bucket
       |  FROM (SELECT key, MIN(bucket) AS lo FROM per GROUP BY key)
       |  CROSS JOIN gmax),
       |dense AS (
       |  SELECT g.key, g.bucket, COALESCE(p.n, 0)::BIGINT AS n
       |  FROM grid g LEFT JOIN per p ON g.key = p.key AND g.bucket = p.bucket),
       |st AS (
       |  SELECT key, bucket, n,
       |    COUNT(*) OVER w AS t_cnt,
       |    SUM(n) OVER w AS t_sum,
       |    SUM(n * n) OVER w AS t_sq
       |  FROM dense
       |  WINDOW w AS (PARTITION BY key ORDER BY bucket ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
       |SELECT key, bucket, n,
       |  CASE WHEN t_cnt >= 1 THEN ${Cross.r6Sql("t_sum::DOUBLE / t_cnt::DOUBLE")} END AS trail_mean,
       |  CASE WHEN t_cnt >= 2 AND (t_cnt::DOUBLE * t_sq::DOUBLE - t_sum::DOUBLE * t_sum::DOUBLE) > 0.0
       |       THEN ${Cross.r6Sql(
            "(n::DOUBLE - t_sum::DOUBLE / t_cnt::DOUBLE) / " +
              "(sqrt(t_cnt::DOUBLE * t_sq::DOUBLE - t_sum::DOUBLE * t_sum::DOUBLE) / t_cnt::DOUBLE)")} END AS z,
       |  COALESCE(abs(CASE WHEN t_cnt >= 2 AND (t_cnt::DOUBLE * t_sq::DOUBLE - t_sum::DOUBLE * t_sum::DOUBLE) > 0.0
       |       THEN ${Cross.r6Sql(
            "(n::DOUBLE - t_sum::DOUBLE / t_cnt::DOUBLE) / " +
              "(sqrt(t_cnt::DOUBLE * t_sq::DOUBLE - t_sum::DOUBLE * t_sum::DOUBLE) / t_cnt::DOUBLE)")} END) > 2.0, FALSE) AS anomalous
       |FROM st
       |ORDER BY key, bucket""".stripMargin

  /** Ingestion-volume anomaly screen (Analytics.volumeAnomaly):
    * per-(type, day) counts z-scored against each type's trailing
    * 3-day window; buckets without a baseline carry null z. The oracle
    * mirrors the window frame and the guarded z arithmetic. */
  val q228 = QueryDef("q228_volume_anomaly", volumeAnomalyOracle) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    graft.operators.Analytics.volumeAnomaly(ev,
        col("event_type"), expr("sec div 86400"), trailing = 3, zThresh = 2.0)
      .orderBy("key", "bucket")
  }

  /** Streaming feed-health monitor (EventStreams.volumeCounts +
    * Analytics.volumeAnomalyFromCounts): the per-(type, day) counts
    * fold incrementally over the replayed stream — one state row per
    * live (key, bucket) — and the completed fold runs the identical
    * trailing-window z-screen. Same oracle as the batch q228:
    * hash-equality proves stream fold ≡ batch fold plus the shared
    * arithmetic downstream. */
  val q230 = QueryDef("q230_stream_volume_anomaly", volumeAnomalyOracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val counts = EventStreams.volumeCounts(
      EventStreams.readEvents(spark, dir),
      col("event_type"), expr("sec div 86400"))
    val folded = EventStreams.runToCompletion(spark, counts, "q230_counts")
    graft.operators.Analytics.volumeAnomalyFromCounts(folded,
        trailing = 3, zThresh = 2.0)
      .orderBy("key", "bucket")
  }

  /** Dynamic partition pruning: the day-partitioned event table joins a
    * FILTERED dimension (3 selected days), and Spark's DPP injects the
    * dim's day set into the fact scan at runtime — only matching
    * partitions are read (PlanSpec pins the dynamicpruning evidence; at
    * 100 TB this is the difference between scanning 3 days and 3
    * years). The oracle computes the same filtered join-aggregate
    * flat. */
  val q236 = QueryDef(
    "q236_dynamic_pruning",
    """WITH e AS (SELECT (floor(epoch(ts))::BIGINT // 86400) AS day, event_type
      |           FROM events),
      |d AS (SELECT DISTINCT day FROM e WHERE day % 7 = 2)
      |SELECT e.day, e.event_type, COUNT(*) AS n
      |FROM e JOIN d ON e.day = d.day
      |GROUP BY e.day, e.event_type
      |ORDER BY e.day, e.event_type""".stripMargin) { (spark, dir) =>
    val tmp = graft.core.TempPaths.gatePath("dpp_gate")
    val ev = Tables.events(spark, dir).withColumn("day", expr("sec div 86400"))
    ev.write.mode("overwrite").partitionBy("day").parquet(s"$tmp/events_by_day")
    val fact = spark.read.parquet(s"$tmp/events_by_day")
    val dim = ev.select("day").distinct().filter(pmod(col("day"), lit(7)) === 2)
    fact.join(dim, "day")
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("day", "event_type")
  }

  /** Two-sample KS statistic (Analytics.ksStatistic): the exact max
    * ECDF gap between even- and odd-id event values — the sharp drift
    * test beside the binned PSI (q211). The oracle mirrors the pooled
    * distinct-value cumulative counts and the (gap DESC, v) argmax. */
  /** Shared q241/q252 oracle — q252's streaming fold must land on the
    * identical KS row. */
  private def ksOracle: String =
    s"""WITH a AS (SELECT value AS v, COUNT(*) AS c1 FROM events
       |           WHERE event_id % 2 = 0 GROUP BY value),
       |b AS (SELECT value AS v, COUNT(*) AS c2 FROM events
       |      WHERE event_id % 2 = 1 GROUP BY value),
       |per AS (
       |  SELECT COALESCE(a.v, b.v) AS v, COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
       |  FROM a FULL OUTER JOIN b ON a.v = b.v),
       |tot AS (SELECT SUM(c1) AS t1, SUM(c2) AS t2 FROM per),
       |g AS (
       |  SELECT v, t1, t2,
       |    ${Cross.r6Sql(
            "abs((SUM(c1) OVER (ORDER BY v))::DOUBLE / t1::DOUBLE - " +
              "(SUM(c2) OVER (ORDER BY v))::DOUBLE / t2::DOUBLE)")} AS gap
       |  FROM per CROSS JOIN tot)
       |SELECT t1::BIGINT AS n1, t2::BIGINT AS n2, MAX(gap) AS d,
       |       MIN(v) FILTER (WHERE gap = (SELECT MAX(gap) FROM g)) AS d_at
       |FROM g GROUP BY t1, t2""".stripMargin

  val q241 = QueryDef("q241_ks_test", ksOracle) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    graft.operators.Analytics.ksStatistic(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1),
      col("value"))
  }

  /** Streaming KS (EventStreams.ksValueCounts + Analytics.ksFromCounts):
    * the per-value count pairs fold incrementally over the replayed
    * stream — one state row per distinct value — and the completed fold
    * runs the identical exact-KS arithmetic. Same oracle as q241. */
  val q252 = QueryDef("q252_stream_ks", ksOracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val counts = EventStreams.ksValueCounts(
      EventStreams.readEvents(spark, dir),
      pmod(col("event_id"), lit(2)), col("value"))
    val folded = EventStreams.runToCompletion(spark, counts, "q252_counts")
    graft.operators.Analytics.ksFromCounts(folded)
  }

  /** Per-user behavioral entropy (Analytics.behavioralEntropy): event-
    * type distribution entropy — the bot/diversity feature, micro-
    * rounded c·log2 c fold mirrored flat. */
  val q254 = QueryDef(
    "q254_behavioral_entropy",
    s"""WITH c AS (
       |  SELECT user_id, event_type AS t, COUNT(*) AS c
       |  FROM events GROUP BY user_id, event_type),
       |per AS (
       |  SELECT user_id, SUM(c) AS n_events, COUNT(*) AS n_types,
       |    ${Cross.dsumSql(Cross.r6Sql("c::DOUBLE * log2(c::DOUBLE)"))} AS clc
       |  FROM c GROUP BY user_id)
       |SELECT user_id, n_events::BIGINT AS n_events, n_types,
       |  ${Cross.r6Sql("log2(n_events::DOUBLE) - clc / n_events::DOUBLE")} AS entropy
       |FROM per
       |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    graft.operators.Analytics.behavioralEntropy(Tables.events(spark, dir),
        col("user_id"), col("event_type"))
      .orderBy("user_id")
  }

  /** Misra–Gries heavy hitters (Sketches.misraGriesHeavy +
    * plans.MisraGriesSummary): the k = 8 frequent-items summary over
    * event_type, verified through its ORDER-INDEPENDENT guarantees —
    * every key with exact count · 9 > N (all five event types, each
    * ~20% of a stream with threshold ~11%) must be present with
    * true − N/9 ≤ est ≤ true. The custom mergeable aggregate rides
    * Spark's partial-aggregation path, so the gate also exercises the
    * merge rule across partitions; the oracle recomputes the exact
    * heavy set and asserts the guaranteed flags. */
  val q270 = QueryDef(
    "q270_misra_gries",
    """WITH exact AS (SELECT event_type AS key, COUNT(*) AS n FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM exact)
      |SELECT key, CAST(n AS BIGINT) AS n,
      |       CAST(1 AS BIGINT) AS present, CAST(1 AS BIGINT) AS bounds_ok
      |FROM exact CROSS JOIN tot
      |WHERE n * 9 > tn
      |ORDER BY key""".stripMargin) { (spark, dir) =>
    graft.operators.Sketches.misraGriesHeavy(
      Tables.events(spark, dir), col("event_type"), k = 8)
  }

  /** STREAMING Misra–Gries: the k-bounded frequent-items summary folds
    * over the event STREAM — ≤ k counters as the query's WHOLE state,
    * maintained by the same mergeable aggregate batch uses (Structured
    * Streaming's complete-mode partial/merge path IS the
    * mergeable-summaries merge rule) — and the completed fold runs
    * q270's guarantee reduction against batch-exact truth. Same oracle
    * as q270: the MG guarantees are merge-order-independent, so
    * hash-equality proves the stream fold honors them. */
  val q273 = QueryDef("q273_stream_misra_gries", q270.oracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val summary = EventStreams.runToCompletion(spark,
      EventStreams.readEvents(spark, dir)
        .select(col("event_type").cast("string").as("k"))
        .agg(graft.plans.MisraGries.summary(col("k"), 8).as("s")),
      "q273_summary")
      .select(explode(col("s")).as("e"))
      .select(col("e.key").as("key"), col("e.est").as("est"))
    graft.operators.Sketches.misraGriesHeavyFrom(summary,
      Tables.events(spark, dir), col("event_type"), k = 8)
  }

  /** GROUPED Misra-Gries (Sketches.misraGriesHeavyPerGroup): one
    * k = 8 summary per event DAY — "top event types per day", the
    * aggregate under many-group aggregation — verified per group
    * against each day's own exact totals with the same
    * order-independent guarantees as q270. */
  val q274 = QueryDef(
    "q274_misra_gries_per_day",
    """WITH keyed AS (
      |  SELECT (floor(epoch(ts))::BIGINT // 86400) AS g, event_type AS key
      |  FROM events),
      |exact AS (SELECT g, key, COUNT(*) AS n FROM keyed GROUP BY 1, 2),
      |tot AS (SELECT g, CAST(SUM(n) AS BIGINT) AS tn FROM exact GROUP BY g)
      |SELECT e.g, e.key, CAST(e.n AS BIGINT) AS n,
      |       CAST(1 AS BIGINT) AS present, CAST(1 AS BIGINT) AS bounds_ok
      |FROM exact e JOIN tot t ON e.g = t.g
      |WHERE e.n * 9 > t.tn
      |ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    graft.operators.Sketches.misraGriesHeavyPerGroup(
      Tables.events(spark, dir), expr("sec div 86400"), col("event_type"), k = 8)
  }

  /** Per-key two-sample KS (Analytics.ksPerKey): the q241 drift test
    * computed independently per event_type — drift per source/domain,
    * the per-key twin of the banded KS scan. The oracle runs the naive
    * per-key ECDF windows (PARTITION BY key ORDER BY v) and the
    * (gap DESC, v) argmax per key, so every key's n1/n2/D/location
    * hash-matches the banded decomposition. */
  val q265 = QueryDef(
    "q265_ks_per_key",
    s"""WITH a AS (SELECT event_type AS key, value AS v, COUNT(*) AS c1 FROM events
       |           WHERE event_id % 2 = 0 GROUP BY 1, 2),
       |b AS (SELECT event_type AS key, value AS v, COUNT(*) AS c2 FROM events
       |      WHERE event_id % 2 = 1 GROUP BY 1, 2),
       |per AS (
       |  SELECT COALESCE(a.key, b.key) AS key, COALESCE(a.v, b.v) AS v,
       |         COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
       |  FROM a FULL OUTER JOIN b ON a.key = b.key AND a.v = b.v),
       |tot AS (SELECT key, SUM(c1) AS t1, SUM(c2) AS t2 FROM per GROUP BY key),
       |g AS (
       |  SELECT p.key, v, t1, t2,
       |    ${Cross.r6Sql(
            "abs((SUM(c1) OVER (PARTITION BY p.key ORDER BY v))::DOUBLE / t1::DOUBLE - " +
              "(SUM(c2) OVER (PARTITION BY p.key ORDER BY v))::DOUBLE / t2::DOUBLE)")} AS gap
       |  FROM per p JOIN tot USING (key) WHERE t1 > 0 AND t2 > 0),
       |g2 AS (SELECT key, v, t1, t2, gap, MAX(gap) OVER (PARTITION BY key) AS mg FROM g)
       |SELECT key, t1::BIGINT AS n1, t2::BIGINT AS n2, MAX(gap) AS d,
       |       MIN(v) FILTER (WHERE gap = mg) AS d_at
       |FROM g2 GROUP BY key, t1, t2
       |ORDER BY key""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    graft.operators.Analytics.ksPerKey(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        col("event_type"), col("value"))
      .orderBy("key")
  }

  /** Exactly-once ingestion (EventStreams.exactlyOnceByEventId): the
    * events stream unioned with ITSELF — every event delivered twice,
    * the at-least-once bus shape — collapsed back by event-id
    * dropDuplicatesWithinWatermark. The oracle is simply the events
    * table: hash-equality proves every duplicate delivery vanished and
    * no real event was lost, the idempotency contract q91 (first-per-
    * business-key) does not itself pin. */
  val q266 = QueryDef(
    "q266_stream_exact_dedup",
    """SELECT event_id, user_id, event_type, floor(epoch(ts))::BIGINT AS sec
      |FROM events ORDER BY event_id""".stripMargin) { (spark, dir) =>
    import graft.streaming.EventStreams
    val doubled = EventStreams.readEvents(spark, dir)
      .unionByName(EventStreams.readEvents(spark, dir))
    EventStreams.runToCompletion(spark,
        EventStreams.exactlyOnceByEventId(doubled),
        "q266_out", mode = "append")
      .orderBy("event_id")
  }

  /** STREAMING per-key KS (EventStreams.ksValueCountsPerKey +
    * Analytics.ksPerKeyFromCounts): the per-(key, value) count pairs
    * fold incrementally over the replayed stream — one state row per
    * distinct (event_type, value), the always-on per-source drift
    * monitor — and the completed fold runs the identical banded
    * per-key KS arithmetic. Same oracle as q265: hash-equality proves
    * stream fold ≡ batch per key. */
  val q267 = QueryDef("q267_stream_ks_per_key", q265.oracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val counts = EventStreams.ksValueCountsPerKey(
      EventStreams.readEvents(spark, dir),
      col("event_type"), pmod(col("event_id"), lit(2)), col("value"))
    val folded = EventStreams.runToCompletion(spark, counts, "q267_counts")
    graft.operators.Analytics.ksPerKeyFromCounts(folded).orderBy("key")
  }

  /** Shared KMV oracle body: the k = 64 smallest distinct 60-bit hashes
    * (rn, h) plus n_kept and the (k−1)/U(k) estimate — parameterized by
    * the distinct-hash CTE so the per-key (q279) and global (q280/q281)
    * gates state the mirror once. */
  private def kmvOracle(distinctCte: String, keyed: Boolean): String = {
    val part = if (keyed) "PARTITION BY key " else ""
    val keyCols = if (keyed) "key, " else ""
    val join = if (keyed) "JOIN a USING (key)" else "CROSS JOIN a"
    val order = if (keyed) "key, rn" else "rn"
    s"""WITH d AS ($distinctCte),
       |r AS (SELECT ${keyCols}h, row_number() OVER (${part}ORDER BY h) AS rn FROM d),
       |s AS (SELECT ${keyCols}h, rn FROM r WHERE rn <= 64),
       |a AS (SELECT ${keyCols}COUNT(*)::BIGINT AS n_kept, MAX(h) AS kth FROM s ${if (keyed) "GROUP BY key" else ""})
       |SELECT ${if (keyed) "s.key, " else ""}s.rn, s.h, a.n_kept,
       |       ${graft.operators.Sketches.kmvEstimateSql(64, "a.n_kept", "a.kth")} AS est_micro
       |FROM s $join ORDER BY $order""".stripMargin
  }

  /** KMV distinct-count sketch per key (plans.KmvMinValues via
    * Sketches.kmvSketch): distinct users per event type as a MERGEABLE
    * k = 64 sketch. Unlike the MG summary (q270, verified through
    * order-independent bounds) the KMV sketch of a fixed multiset is
    * itself unique — the k smallest distinct md5-derived hashes — so
    * this gate hash-compares the RAW sketch rows (rn, h) plus the
    * unbiased (k−1)/U(k) estimate against the DuckDB mirror: the
    * strongest verdict a sketch can get. */
  val q279 = QueryDef(
    "q279_kmv_distinct_per_key",
    kmvOracle(
      s"SELECT DISTINCT event_type AS key, ${Cross.hash64Sql("user_id::VARCHAR")} AS h FROM events",
      keyed = true)) { (spark, dir) =>
    graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvSketch(
          Tables.events(spark, dir), col("event_type"), col("user_id"), 64), 64)
      .select("key", "rn", "h", "n_kept", "est_micro")
      .orderBy("key", "rn")
  }

  /** KMV MERGEABILITY (Sketches.kmvMerge): the per-event-type sketches
    * of q279 fold into one corpus sketch by re-aggregating their
    * exploded values — never rescanning the input — and the gate's
    * oracle computes the DIRECT global sketch over all distinct hashes.
    * Hash-equality IS the mergeable-summaries law for KMV: the k
    * smallest of the union of per-part k-smallest sets equals the
    * union's k smallest. This is the 1000-executor shape — tiny
    * per-source summaries, corpus cardinality recovered after the fact
    * for any grouping. */
  val q280 = QueryDef(
    "q280_kmv_merge",
    kmvOracle(
      s"SELECT DISTINCT ${Cross.hash64Sql("user_id::VARCHAR")} AS h FROM events",
      keyed = false)) { (spark, dir) =>
    graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvMerge(
          graft.operators.Sketches.kmvSketch(
            Tables.events(spark, dir), col("event_type"), col("user_id"), 64), 64), 64)
      .select("rn", "h", "n_kept", "est_micro")
      .orderBy("rn")
  }

  /** STREAMING KMV: the k = 64 global sketch folds over the event
    * STREAM via the same mergeable aggregate (complete-mode
    * partial/merge path), ≤ k longs as the query's whole state — the
    * always-on distinct-users monitor. Same oracle as q280: the KMV
    * sketch is batching-independent, so hash-equality proves the
    * stream fold equals the batch sketch exactly, not just within
    * bounds. */
  val q281 = QueryDef("q281_stream_kmv", q280.oracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val folded = EventStreams.runToCompletion(spark,
      EventStreams.readEvents(spark, dir)
        .select(Cross.hash64(col("user_id").cast("string")).as("h"))
        .agg(graft.plans.Kmv.minValues(col("h"), 64).as("sketch")),
      "q281_sketch")
    graft.operators.Sketches.kmvEstimate(folded, 64)
      .select("rn", "h", "n_kept", "est_micro")
      .orderBy("rn")
  }

  /** KMV ROLL-UP (Sketches.kmvRollup): distinct users per HOUR as the
    * finest sketch cells, re-folded to per-DAY sketches without touching
    * a single input row again — the pre-aggregated sketch cube. The
    * oracle builds each day's sketch DIRECTLY from the distinct hashes,
    * so hash-equality proves roll-up(hour sketches) ≡ scan-built day
    * sketch, value for value — the property that lets a 100 TB pipeline
    * publish finest-grain sketches once and answer every coarser
    * distinct-count by folding them. */
  val q283 = QueryDef(
    "q283_kmv_rollup",
    kmvOracle(
      s"SELECT DISTINCT (floor(epoch(ts))::BIGINT // 86400) AS key, " +
        s"${Cross.hash64Sql("user_id::VARCHAR")} AS h FROM events",
      keyed = true)) { (spark, dir) =>
    val hourly = graft.operators.Sketches.kmvSketch(
      Tables.events(spark, dir), expr("sec div 3600"), col("user_id"), 64)
    graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvRollup(hourly, expr("key div 24"), 64), 64)
      .select("key", "rn", "h", "n_kept", "est_micro")
      .orderBy("key", "rn")
  }

  /** Shared oracle head for the quantile-sketch gates: the reduction
    * columns are all EXACT quantities (per-group n, the 1-based target
    * rank r = 1 + round(φ·(n−1)), and the guaranteed rank_ok flag) —
    * the Misra–Gries q270 gating discipline, because the GK kept set
    * is merge-order-dependent inside its sound intervals. */
  private def gkOracle(groupCte: String, phis: Seq[Double], keyed: Boolean,
      extra: String = ""): String = {
    val keyCols = if (keyed) "key, " else ""
    val order = if (keyed) "key, phi" else "phi"
    s"""WITH g AS ($groupCte),
       |p AS (SELECT CAST(unnest([${phis.mkString(", ")}]) AS DOUBLE) AS phi)
       |SELECT ${keyCols}phi, n, 1 + CAST(round(phi*(n-1)) AS BIGINT) AS r,
       |       1::BIGINT AS rank_ok$extra
       |FROM g CROSS JOIN p ORDER BY $order""".stripMargin
  }

  /** Mergeable quantile sketch per key (plans.GkQuantileAgg via
    * Sketches.gkSketchPerKey): event-value quantiles per event type as
    * m = 2048 summaries of sound Greenwald–Khanna rank intervals. The
    * kept tuples are merge-order-dependent inside those intervals
    * (like Misra–Gries, unlike KMV), so the gate hash-checks the
    * GUARANTEES: exact n, and for every φ on the grid the estimate's
    * exact rank range [#lt+1, #le] within n/40 of the target rank.
    * The merge-and-reduce bound is n·(levels+1)/(m−1) with
    * levels ≈ log2(n/bufCap) — O(log n / m) RELATIVE error, i.e. it
    * GROWS with log n, it is not scale-free (a round-8 comment claimed
    * otherwise). m = 2048, bufCap = 2048, epsDen = 40 keeps the 2.5 %
    * budget until levels + 1 > 2047/40 ≈ 51, i.e. per-group n ≈
    * 2048·2^50 ≈ 2·10^18 rows — headroom past any SF these gates (or a
    * 100 TB corpus) can reach, where the previous m = 512 exhausted
    * the budget near 8M rows/group. GkQuantileSpec property-tests
    * soundness across partitionings; the rank-range check (not point
    * rank) is the honest measure under duplicate-heavy values. */
  val q285 = QueryDef(
    "q285_gk_quantiles_per_key",
    gkOracle("SELECT event_type AS key, COUNT(*)::BIGINT AS n FROM events GROUP BY 1",
      Seq(0.05, 0.25, 0.5, 0.75, 0.95), keyed = true)) { (spark, dir) =>
    import graft.operators.Sketches
    val df = Tables.events(spark, dir)
    val est = Sketches.gkQuantiles(
      Sketches.gkSketchPerKey(df, col("event_type"), col("value"), 2048),
      Seq(0.05, 0.25, 0.5, 0.75, 0.95))
    Sketches.gkRankCheck(est,
        df.select(col("event_type").as("key"), col("value").cast("double").as("v")),
        Seq("key"), epsDen = 40)
      .orderBy("key", "phi")
  }

  /** Global quantile sketch with the EXACT-extremes guarantee: beside
    * the grid rank checks, the sketch's first/last tuples ARE the exact
    * min/max (they survive every prune), so the gate hash-compares
    * them value-for-value against DuckDB MIN/MAX — the strongest
    * value-level claim an order-dependent sketch can make. */
  val q286 = QueryDef(
    "q286_gk_global_extremes",
    gkOracle(
      "SELECT COUNT(*)::BIGINT AS n, MIN(l_extendedprice) AS min_v, MAX(l_extendedprice) AS max_v FROM lineitem",
      Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99), keyed = false,
      extra = ", min_v, max_v")) { (spark, dir) =>
    import graft.operators.Sketches
    val df = Tables.lineitem(spark, dir)
    val sk = Sketches.gkSketchGlobal(df, col("l_extendedprice"), 2048)
      .localCheckpoint(true) // one scan feeds both the extremes and the grid
    val ext = sk.select(
      element_at(col("sk.tuples"), 1).getField("v").as("min_v"),
      element_at(col("sk.tuples"), -1).getField("v").as("max_v"))
    val est = Sketches.gkQuantiles(sk,
      Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99))
    Sketches.gkRankCheck(est,
        df.select(col("l_extendedprice").cast("double").as("v")), Nil, epsDen = 40)
      .crossJoin(broadcast(ext))
      .orderBy("phi")
  }

  /** Quantile-sketch ROLL-UP (plans.GkMergeAgg via Sketches.gkRollup):
    * per-HOUR value sketches folded to per-DAY summaries through the
    * summary-merge aggregate — no raw-value rescan, the same
    * pre-aggregated cube pattern as the KMV roll-up (q283). Soundness
    * of every interval survives merging and each input summary enters
    * the level structure at its size-matched level, so the rolled-up
    * day sketch obeys the SAME rank-error gate as a direct day build —
    * the merge≡direct law expressed as guarantees (the raw kept sets
    * legitimately differ). n per day stays exact through the fold. */
  val q287 = QueryDef(
    "q287_gk_rollup",
    gkOracle(
      "SELECT (floor(epoch(ts))::BIGINT // 86400) AS key, COUNT(*)::BIGINT AS n FROM events GROUP BY 1",
      Seq(0.1, 0.5, 0.9), keyed = true)) { (spark, dir) =>
    import graft.operators.Sketches
    val df = Tables.events(spark, dir)
    val hourly = Sketches.gkSketchPerKey(df, expr("sec div 3600"), col("value"), 2048)
    val daily = Sketches.gkRollup(hourly, expr("key div 24"), 2048)
    val est = Sketches.gkQuantiles(daily, Seq(0.1, 0.5, 0.9))
    Sketches.gkRankCheck(est,
        df.select(expr("sec div 86400").as("key"), col("value").cast("double").as("v")),
        Seq("key"), epsDen = 40)
      .orderBy("key", "phi")
  }

  /** STREAMING quantile sketch: the global m = 2048 summary folds over
    * the event STREAM via the same mergeable aggregate
    * (complete-mode partial/merge path), O(m·log(n/buf)) tuples as the
    * query's whole state — the always-on latency/size-percentile
    * monitor. The fold's merge order differs from any batch plan, so
    * the gate checks the order-independent guarantees (same reduction
    * as the batch gates), which is exactly what the sketch promises. */
  val q288 = QueryDef(
    "q288_stream_gk",
    gkOracle("SELECT COUNT(*)::BIGINT AS n FROM events",
      Seq(0.1, 0.5, 0.9), keyed = false)) { (spark, dir) =>
    import graft.operators.Sketches
    import graft.streaming.EventStreams
    val folded = EventStreams.runToCompletion(spark,
      EventStreams.readEvents(spark, dir)
        .select(col("value").cast("double").as("v"))
        .agg(graft.plans.GkQuantile.sketch(col("v"), 2048).as("sk")),
      "q288_sketch")
    val est = Sketches.gkQuantiles(folded, Seq(0.1, 0.5, 0.9))
    Sketches.gkRankCheck(est,
        Tables.events(spark, dir).select(col("value").cast("double").as("v")),
        Nil, epsDen = 40)
      .orderBy("phi")
  }

  /** Sliding-window distinct state (plans.KmvSlidingState via
    * Sketches.kmvSlidingState): the suffix-minima (hash, latest-ts)
    * set — kept h iff fewer than k smaller hashes arrived
    * at-or-after h's last arrival. Like plain KMV the kept set is a
    * PURE FUNCTION of the data (prune-safe under any partitioning or
    * merge order), so the gate hash-compares the raw state against
    * the DuckDB mirror of the rule — the strongest sketch verdict,
    * now for the time-decayed family member. */
  val q294 = QueryDef(
    "q294_kmv_sliding_state",
    s"""WITH d AS (SELECT ${Cross.hash64Sql("user_id::VARCHAR")} AS h,
       |             MAX(floor(epoch(ts))::BIGINT) AS t
       |           FROM events GROUP BY 1),
       |kept AS (SELECT a.h, a.t FROM d a
       |         WHERE (SELECT COUNT(*) FROM d b WHERE b.h < a.h AND b.t >= a.t) < 64)
       |SELECT row_number() OVER (ORDER BY h) AS rn, h, t AS ts
       |FROM kept ORDER BY rn""".stripMargin) { (spark, dir) =>
    graft.operators.Sketches.kmvSlidingState(
        Tables.events(spark, dir), col("user_id"), col("sec"), 64)
      .select(posexplode(col("st")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("long").as("rn"),
        col("e.h").as("h"), col("e.ts").as("ts"))
      .orderBy("rn")
  }

  /** Window queries off the ONE sliding state: for two window starts
    * (mid-span and three-quarter-span), the k smallest kept hashes
    * with latest-arrival ≥ start EQUAL the direct KMV sketch of
    * exactly the users active in that window — the oracle builds each
    * window's sketch from raw events, so hash-equality proves the
    * state answers every suffix window exactly, which is the entire
    * point of carrying (h, ts) instead of a plain bottom-k. */
  val q295 = QueryDef(
    "q295_kmv_sliding_window",
    s"""WITH b AS (SELECT MIN(floor(epoch(ts))::BIGINT) AS lo,
       |                  MAX(floor(epoch(ts))::BIGINT) AS hi FROM events),
       |st AS (SELECT lo + (hi - lo) // 2 AS start FROM b
       |       UNION ALL SELECT lo + 3 * (hi - lo) // 4 FROM b),
       |d AS (SELECT ${Cross.hash64Sql("user_id::VARCHAR")} AS h,
       |        MAX(floor(epoch(ts))::BIGINT) AS t FROM events GROUP BY 1),
       |w AS (SELECT s.start, d.h,
       |        row_number() OVER (PARTITION BY s.start ORDER BY d.h) AS rn
       |      FROM st s JOIN d ON d.t >= s.start)
       |SELECT start, rn, h FROM w WHERE rn <= 64 ORDER BY start, rn""".stripMargin) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val b = ev.agg(min("sec").as("lo"), max("sec").as("hi")).first()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val starts = Seq(lo + (hi - lo) / 2, lo + 3 * (hi - lo) / 4)
    graft.operators.Sketches.kmvSlidingWindow(
        graft.operators.Sketches.kmvSlidingState(ev, col("user_id"), col("sec"), 64),
        starts, 64)
      .orderBy("start", "rn")
  }

  /** STREAMING sliding-distinct fold: the same suffix-minima aggregate
    * over the event stream (complete mode) — the always-on
    * "distinct users in the last N hours" panel state. The kept set
    * is arrival-order-independent, so the stream fold hash-matches
    * q294's batch oracle exactly. */
  val q296 = QueryDef("q296_stream_kmv_sliding", q294.oracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val folded = EventStreams.runToCompletion(spark,
      EventStreams.readEvents(spark, dir)
        .select(graft.core.Cross.hash64(col("user_id").cast("string")).as("h"),
          col("sec").cast("long").as("t"))
        .agg(graft.plans.KmvSliding.state(col("h"), col("t"), 64).as("st")),
      "q296_sliding")
    folded.select(posexplode(col("st")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("long").as("rn"),
        col("e.h").as("h"), col("e.ts").as("ts"))
      .orderBy("rn")
  }

  /** GROUPED sliding-distinct state: the suffix-minima aggregate under
    * ordinary grouped aggregation — one bounded window-answering state
    * PER event type ("distinct users active since t, per source"),
    * many groups × O(k log) entries each. Same raw-state oracle as
    * q294, keyed. */
  val q297 = QueryDef(
    "q297_kmv_sliding_per_key",
    s"""WITH d AS (SELECT event_type AS key, ${Cross.hash64Sql("user_id::VARCHAR")} AS h,
       |             MAX(floor(epoch(ts))::BIGINT) AS t
       |           FROM events GROUP BY 1, 2),
       |kept AS (SELECT a.key, a.h, a.t FROM d a
       |         WHERE (SELECT COUNT(*) FROM d b
       |                WHERE b.key = a.key AND b.h < a.h AND b.t >= a.t) < 16)
       |SELECT key, row_number() OVER (PARTITION BY key ORDER BY h) AS rn, h, t AS ts
       |FROM kept ORDER BY key, rn""".stripMargin) { (spark, dir) =>
    Tables.events(spark, dir)
      .select(col("event_type").as("key"),
        Cross.hash64(col("user_id").cast("string")).as("h"),
        col("sec").cast("long").as("t"))
      .groupBy("key")
      .agg(graft.plans.KmvSliding.state(col("h"), col("t"), 16).as("st"))
      .select(col("key"), posexplode(col("st")).as(Seq("pos", "e")))
      .select(col("key"), (col("pos") + 1).cast("long").as("rn"),
        col("e.h").as("h"), col("e.ts").as("ts"))
      .orderBy("key", "rn")
  }

  /** STREAMING per-key quantile sketches: grouped complete-mode GK —
    * one m-bounded summary per event type folding incrementally, the
    * per-source latency/size-percentile monitor (completes the
    * sketch × streaming matrix: KMV/MG/GK/sliding/KS/count-min all
    * now have global AND per-key streaming legs). Same guarantee
    * reduction as the batch per-key gate (q285's oracle shape). */
  val q298 = QueryDef("q298_stream_gk_per_key", q285.oracle) { (spark, dir) =>
    import graft.operators.Sketches
    import graft.streaming.EventStreams
    val folded = EventStreams.runToCompletion(spark,
      EventStreams.readEvents(spark, dir)
        .select(col("event_type").as("key"), col("value").cast("double").as("v"))
        .groupBy("key")
        .agg(graft.plans.GkQuantile.sketch(col("v"), 2048).as("sk")),
      "q298_gk_per_key")
    val est = Sketches.gkQuantiles(folded, Seq(0.05, 0.25, 0.5, 0.75, 0.95))
    Sketches.gkRankCheck(est,
        Tables.events(spark, dir)
          .select(col("event_type").as("key"), col("value").cast("double").as("v")),
        Seq("key"), epsDen = 40)
      .orderBy("key", "phi")
  }

  /** INVERSE quantile query (Sketches.gkPercentileRank): percentile
    * ranks for a fixed probe-value grid served from the published
    * global sketch alone — pure array arithmetic over ≤ m tuples, no
    * raw-data access at query time. The gate checks the guarantee (the
    * sound intervals bracket the exact rank, so the midpoint estimate
    * lands within n/40 of #lt(v)+1 — same merge-and-reduce bound as
    * the forward query q286) against exact counts; the oracle emits
    * the exact n and the guaranteed flag per probe. */
  val q293 = QueryDef(
    "q293_gk_percentile_rank",
    """WITH p AS (SELECT CAST(unnest([1000.0, 5000.0, 10000.0, 25000.0, 50000.0, 75000.0, 100000.0]) AS DOUBLE) AS v),
      |t AS (SELECT COUNT(*)::BIGINT AS n FROM lineitem)
      |SELECT v, n, 1::BIGINT AS rank_ok FROM p CROSS JOIN t ORDER BY v""".stripMargin) { (spark, dir) =>
    import graft.operators.Sketches
    val li = Tables.lineitem(spark, dir)
    val sk = Sketches.gkSketchGlobal(li, col("l_extendedprice"), 2048)
    val probes = spark.range(1).select(explode(array(
      Seq(1000.0, 5000.0, 10000.0, 25000.0, 50000.0, 75000.0, 100000.0)
        .map(lit(_)): _*)).as("v"))
    val ranks = Sketches.gkPercentileRank(sk, probes, Nil)
    li.select(col("l_extendedprice").cast("double").as("x"))
      .crossJoin(broadcast(ranks))
      .groupBy("v", "n", "rank_est")
      .agg(sum(when(col("x") < col("v"), 1L).otherwise(0L)).as("cnt_lt"))
      .select(col("v"), col("n"),
        (abs(col("rank_est") - (col("cnt_lt") + 1L)) * 40 <= col("n"))
          .cast("long").as("rank_ok"))
      .orderBy("v")
  }

  /** KMV pairwise overlap (Sketches.kmvPairwiseOverlap): the
    * cross-source distinct-user contamination matrix computed from the
    * PUBLISHED per-key sketches alone — K² pair rows of k-length array
    * arithmetic, zero raw-row joins (the Beyer et al. ρ·D̂ estimator
    * over k-min sketch unions). Deterministic given the shared hashes,
    * so the oracle mirrors the entire procedure (union sketch, ρ, the
    * unbiased union estimate, the micro-integerized products) from raw
    * events — raw-value hash equality, the q279/q280-strength verdict. */
  val q292 = QueryDef(
    "q292_kmv_overlap",
    s"""WITH d AS (SELECT DISTINCT event_type AS key, ${Cross.hash64Sql("user_id::VARCHAR")} AS h FROM events),
       |r AS (SELECT key, h, row_number() OVER (PARTITION BY key ORDER BY h) AS rn FROM d),
       |s AS (SELECT key, h FROM r WHERE rn <= 64),
       |ks AS (SELECT DISTINCT key FROM s),
       |pr AS (SELECT a.key AS ka, b.key AS kb FROM ks a JOIN ks b ON a.key < b.key),
       |uh AS (SELECT DISTINCT pr.ka, pr.kb, s.h FROM pr JOIN s ON s.key = pr.ka OR s.key = pr.kb),
       |un AS (SELECT ka, kb, h, row_number() OVER (PARTITION BY ka, kb ORDER BY h) AS rn FROM uh),
       |u AS (SELECT ka, kb, h FROM un WHERE rn <= 64),
       |agg AS (SELECT u.ka, u.kb, COUNT(*) AS nu, MAX(u.h) AS kth,
       |          COUNT(*) FILTER (WHERE sa.h IS NOT NULL AND sb.h IS NOT NULL) AS ninter
       |        FROM u LEFT JOIN s sa ON sa.key = u.ka AND sa.h = u.h
       |               LEFT JOIN s sb ON sb.key = u.kb AND sb.h = u.h
       |        GROUP BY 1, 2)
       |SELECT ka AS key_a, kb AS key_b, nu::BIGINT AS n_union_kept,
       |       ninter::BIGINT AS n_inter, kth,
       |       ${Cross.micro6Sql(Cross.r6Sql("ninter::DOUBLE / nu::DOUBLE"))} AS jaccard_micro,
       |       ${Cross.micro6Sql(Cross.r6Sql(
            "(ninter::DOUBLE / nu::DOUBLE) * (CASE WHEN nu < 64 THEN nu::DOUBLE " +
              "ELSE 63.0 * 1.152921504606846976e18 / kth::DOUBLE END)"))} AS overlap_micro
       |FROM agg ORDER BY key_a, key_b""".stripMargin) { (spark, dir) =>
    graft.operators.Sketches.kmvPairwiseOverlap(
        graft.operators.Sketches.kmvSketch(
          Tables.events(spark, dir), col("event_type"), col("user_id"), 64), 64)
      .orderBy("key_a", "key_b")
  }

  /** ONE-SCAN telemetry cube: all three mergeable sketch aggregates —
    * the KMV distinct-user sketch, the Misra–Gries heavy-user summary,
    * and the GK value-quantile summary — computed per HOUR in a SINGLE
    * aggregation pass (one groupBy, three TypedImperativeAggregates in
    * the same ObjectHashAggregate, one shuffle of bounded states).
    * This is the 100 TB telemetry-publication shape: the corpus is
    * scanned ONCE and every downstream question — cardinalities,
    * dominant keys, percentiles, at any roll-up — reads the tiny
    * published cube, never the rows. The gate derives each family's
    * verification frame FROM the published cube columns and unions
    * them under one oracle: the raw KMV rows hash-compare exactly
    * (unique sketch), MG and GK check their order-independent
    * guarantees (the q270/q285 reductions, keyed by hour). */
  val q291 = QueryDef(
    "q291_sketch_cube",
    s"""WITH d0 AS (SELECT DISTINCT (floor(epoch(ts))::BIGINT // 3600) AS hour,
       |         ${Cross.hash64Sql("user_id::VARCHAR")} AS h FROM events),
       |r0 AS (SELECT hour, h, row_number() OVER (PARTITION BY hour ORDER BY h) AS rn FROM d0),
       |s0 AS (SELECT hour, h, rn FROM r0 WHERE rn <= 64),
       |a0 AS (SELECT hour, COUNT(*)::BIGINT AS n_kept FROM s0 GROUP BY hour),
       |v AS (SELECT 'v' AS section, s0.hour AS k1, '' AS k2,
       |             s0.rn AS v1, s0.h AS v2, a0.n_kept AS v3, 0.0 AS d1
       |      FROM s0 JOIN a0 USING (hour)),
       |keyed AS (SELECT (floor(epoch(ts))::BIGINT // 3600) AS hour,
       |                 user_id::VARCHAR AS u, value AS val FROM events),
       |exact AS (SELECT hour, u, COUNT(*) AS n FROM keyed GROUP BY 1, 2),
       |tot AS (SELECT hour, CAST(SUM(n) AS BIGINT) AS tn FROM exact GROUP BY hour),
       |m AS (SELECT 'm' AS section, e.hour AS k1, e.u AS k2,
       |             CAST(e.n AS BIGINT) AS v1, 1::BIGINT AS v2, 1::BIGINT AS v3, 0.0 AS d1
       |      FROM exact e JOIN tot t ON e.hour = t.hour
       |      WHERE e.n * 65 > t.tn),
       |g AS (SELECT 'g' AS section, hour AS k1, '' AS k2,
       |             COUNT(*)::BIGINT AS v1,
       |             1 + CAST(round(p.phi * (COUNT(*) - 1)) AS BIGINT) AS v2,
       |             1::BIGINT AS v3, p.phi AS d1
       |      FROM keyed CROSS JOIN (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS phi) p
       |      GROUP BY hour, p.phi)
       |SELECT section, k1, k2, v1, v2, v3, d1 FROM (
       |  SELECT * FROM v UNION ALL SELECT * FROM m UNION ALL SELECT * FROM g)
       |ORDER BY section, k1, k2, d1, v1""".stripMargin) { (spark, dir) =>
    import graft.operators.Sketches
    val ev = Tables.events(spark, dir)
    val phis = Seq(0.25, 0.5, 0.75)
    // THE one pass: three bounded mergeable states per hour, one shuffle
    val cube = ev.select(expr("sec div 3600").as("hour"),
        Cross.hash64(col("user_id").cast("string")).as("h"),
        col("user_id").cast("string").as("u"),
        col("value").cast("double").as("v"))
      .groupBy("hour")
      .agg(graft.plans.Kmv.minValues(col("h"), 64).as("kmv"),
        graft.plans.MisraGries.summary(col("u"), 64).as("mg"),
        graft.plans.GkQuantile.sketch(col("v"), 2048).as("sk"))
      .localCheckpoint(true) // published once; three reductions read it
    val v = cube.select(col("hour"), posexplode(col("kmv")).as(Seq("pos", "hh")),
        size(col("kmv")).cast("long").as("n_kept"))
      .select(lit("v").as("section"), col("hour").as("k1"), lit("").as("k2"),
        (col("pos") + 1).cast("long").as("v1"), col("hh").as("v2"),
        col("n_kept").as("v3"), lit(0.0).as("d1"))
    // MG guarantees per hour against each hour's own exact counts
    val summ = cube.select(col("hour"), explode(col("mg")).as("e"))
      .select(col("hour"), col("e.key").as("u"), col("e.est").as("est"))
    val exact = ev.select(expr("sec div 3600").as("hour"),
        col("user_id").cast("string").as("u"))
      .groupBy("hour", "u").agg(count(lit(1)).as("n"))
    val tot = exact.groupBy("hour").agg(sum("n").as("tn"))
    val m = exact.join(tot, "hour")
      .filter(col("n") * 65 > col("tn"))
      .join(summ, Seq("hour", "u"), "left")
      .select(lit("m").as("section"), col("hour").as("k1"), col("u").as("k2"),
        col("n").as("v1"),
        col("est").isNotNull.cast("long").as("v2"),
        (col("est").isNotNull && col("est") <= col("n") &&
          col("est") * 65 >= col("n") * 65 - col("tn")).cast("long").as("v3"),
        lit(0.0).as("d1"))
    val est = Sketches.gkQuantiles(
      cube.select(col("hour").as("key"), col("sk")), phis)
    val g = Sketches.gkRankCheck(est,
        ev.select(expr("sec div 3600").as("key"), col("value").cast("double").as("v")),
        Seq("key"), epsDen = 40)
      .select(lit("g").as("section"), col("key").as("k1"), lit("").as("k2"),
        col("n").as("v1"), col("r").as("v2"), col("rank_ok").as("v3"),
        col("phi").as("d1"))
    v.unionByName(m).unionByName(g)
      .orderBy("section", "k1", "k2", "d1", "v1")
  }

  /** Shared oracle body for the sliding-sketch and monitor gates: `s`
    * is the window-start CTE, and n_window (the exact count of the
    * REQUESTED window per key, start and item) anchors every row to raw
    * data. The start grids are pure integer arithmetic, quantum-aligned
    * (·//3600·3600) so "window nonempty ⟺ covered suffix nonempty"
    * holds exactly and both engines emit the same row set. The flags
    * are guaranteed by construction (EH staleness invariant +
    * exact-suffix coverage + the member sketch's own bound over the
    * covered suffix), so the oracle emits the literals — the q285/q270
    * discipline extended with the coverage/staleness split that makes a
    * sliding answer honest. The family follows from the shape: `phis`
    * → GK's flags, an `item` → count-min's, else Misra–Gries'; `evict`
    * adds the eviction contract's two (see [[MonitorGate]]). */
  private def windowOracle(startsCte: String, key: String, item: String,
      phis: Seq[Double], evict: Boolean): String = {
    val out = Seq(key.nonEmpty -> "key", true -> "start", phis.nonEmpty -> "phi",
      item.nonEmpty -> "item").collect { case (true, c) => c }.mkString(", ")
    val sel = Seq(key -> "key", "s.start" -> "", item -> "item")
      .collect { case (e, a) if e.nonEmpty => if (a.isEmpty) e else s"$e AS $a" }
    val flags =
      (if (phis.nonEmpty) Seq("rank_ok")
       else if (item.nonEmpty) Seq("never_under", "cells_match")
       else Seq("heavy_ok", "bounds_ok")) ++ Seq("coverage_ok", "stale_ok") ++
        (if (evict) Seq("state_ok", "evict_ok") else Nil)
    val (phiCte, phiJoin) =
      if (phis.isEmpty) ("", "")
      else (s", p AS (SELECT CAST(unnest([${phis.mkString(", ")}]) AS DOUBLE) AS phi)",
        " CROSS JOIN p")
    s"""WITH $startsCte,
       |w AS (SELECT ${sel.mkString(", ")}, COUNT(*)::BIGINT AS n_window
       |      FROM s JOIN events e ON floor(epoch(e.ts))::BIGINT >= s.start
       |      GROUP BY ${(1 to sel.size).mkString(", ")})$phiCte
       |SELECT $out, n_window, ${flags.map(f => s"1::BIGINT AS $f").mkString(", ")}
       |FROM w$phiJoin ORDER BY $out""".stripMargin
  }

  /** Oracle over the sliding grid: `n` evenly spaced starts over
    * [smin, smax] (the twin of [[MonitorGate.slidingStarts]]). */
  private def slidingOracle(grid: Int, n: Int, phis: Seq[Double] = Nil,
      key: String = "", item: String = ""): String =
    windowOracle(
      s"""b AS (SELECT MIN(floor(epoch(ts))::BIGINT) AS smin,
         |            MAX(floor(epoch(ts))::BIGINT) AS smax FROM events),
         |s AS (SELECT DISTINCT ((smin + (k*(smax - smin))//$grid)//3600)*3600 AS start
         |      FROM b CROSS JOIN (SELECT unnest([${(0 until n).mkString(", ")}]) AS k))"""
        .stripMargin, key, item, phis, evict = false)

  /** Oracle over the horizon grid: starts qMax − k·step, k = 0..3, all
    * inside the final horizon (the monitor horizon and eviction gates). */
  private def horizonOracle(step: Int, phis: Seq[Double] = Nil, key: String = "",
      item: String = "", evict: Boolean = false): String =
    windowOracle(
      s"""b AS (SELECT MAX(floor(epoch(ts))::BIGINT) AS smax FROM events),
         |s AS (SELECT DISTINCT ((smax//3600) - k*$step)*3600 AS start
         |      FROM b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k))""".stripMargin,
      key, item, phis, evict)

  /** Window-gate keys and items as DuckDB expressions over events `e`… */
  private val TypeKeySql = "e.event_type"
  private val UserTypeKeySql = "e.user_id::VARCHAR || '_' || e.event_type"
  private val UserItemSql = "e.user_id::VARCHAR"
  private val ValueBucketSql = "floor(e.value)::BIGINT::VARCHAR"

  /** …and their Spark twins. user × event type is the high-cardinality
    * key of the eviction gates. */
  private def typeKey: Column = col("event_type").cast("string")
  private def userTypeKey: Column =
    concat(col("user_id").cast("string"), lit("_"), col("event_type").cast("string"))
  private def userItem: Column = col("user_id").cast("string")
  private def valueBucket: Column = floor(col("value")).cast("long").cast("string")

  /** Replayed projections of the quantum monitors: (key, q, v) feeds
    * GK, (key, q, item) feeds Misra–Gries. */
  private def gkReplay(key: Column)(ev: DataFrame): DataFrame =
    ev.select(key.as("key"), expr("sec div 3600").as("q"),
      col("value").cast("double").as("v"))
  private def mgReplay(key: Column, item: Column)(ev: DataFrame): DataFrame =
    ev.select(key.as("key"), expr("sec div 3600").as("q"), item.as("item"))
  /** (user_id, event_type, sec): count-min hashes items per trigger. */
  private def cmReplay(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), col("event_type"), col("sec"))
  /** The count-min monitor (depth 4, width 32) over a replay's hashed
    * `item` rows (default user_id), keyed by `key`. */
  private def cmMonitor(key: Column, item: Column = col("user_id"),
      horizon: Long = Long.MaxValue, evict: Boolean = false)(s: DataFrame): DataFrame =
    SlidingMonitor.cmQuantumMonitor(SS.cmKeyRows(s, item, col("sec"), 3600L, key = key),
      depth = 4, width = 32, horizonQuanta = horizon, evictKeys = evict).toDF()

  /** Live-cube reads of an emission log: the latest version per
    * (key, quantum). Count-min's is the additive
    * SlidingMonitor.cmCubeFromDeltas. */
  private def gkCube(log: DataFrame): DataFrame =
    log.groupBy("key", "q").agg(max_by(col("sk"), col("ver")).as("sk"))
  private def mgCube(log: DataFrame): DataFrame =
    log.groupBy("key", "q")
      .agg(max_by(struct(col("n"), col("entries")), col("ver")).as("w"))
      .select(col("key"), col("q"), col("w.n").as("n"),
        col("w.entries").as("entries"))
  /** Decayed MG: each key's latest sketch by `order`, exploded to
    * (key, t_sk, w_sk, item, est) for decayedMgHeavyPerKeyFrame. */
  private def dmCube(log: DataFrame, order: Column): DataFrame =
    log.groupBy("key")
      .agg(max_by(struct(col("t_ref"), col("w"), col("entries")), order).as("s"))
      .select(col("key"), col("s.t_ref").as("t_sk"), col("s.w").as("w_sk"),
        explode(col("s.entries")).as("e"))
      .select(col("key"), col("t_sk"), col("w_sk"),
        col("e.item").as("item"), col("e.est").as("est"))

  /** Raw (key?, sec, value) rows a sliding check compares against. */
  private def rawRows(ev: DataFrame, key: Option[Column], value: Column): DataFrame =
    ev.select(key.map(_.as("key")).toSeq ++
      Seq(col("sec").cast("long").as("sec"), value): _*)

  /** GK's sliding reduction over an hourly (key, q, sk) cube and its
    * three-leg check: rank guarantee over the covered suffix, exact
    * coverage, staleness invariant. */
  private def gkCheck(ev: DataFrame, key: Option[Column], hourly: DataFrame,
      m: Int, starts: Seq[Long], phis: Seq[Double]): MonitorGate.Check =
    MonitorGate.Check(
      SS.gkSlidingCheck(rawRows(ev, key, col("value").cast("double").as("v")),
        SS.gkSlidingEstimates(hourly, 3600L, m, starts, phis),
        keyed = key.isDefined, epsDen = 40),
      key.map(_ => "key").toSeq ++ Seq("start", "phi"))

  /** Misra–Gries' over an hourly (key, q, n, entries) cube: the covered
    * suffix's heavy set (presence + bounds), no overestimation, exact
    * coverage, staleness. */
  private def mgCheck(ev: DataFrame, key: Option[Column], item: Column,
      hourly: DataFrame, k: Int, starts: Seq[Long]): MonitorGate.Check =
    MonitorGate.Check(
      SS.mgSlidingCheck(rawRows(ev, key, item.as("item")),
        SS.mgSlidingSummaries(hourly, 3600L, k, starts), keyed = key.isDefined, k = k),
      key.map(_ => "key").toSeq :+ "start")

  /** Count-min's (depth 4, width 32) over an hourly (key, q, entries)
    * cube: EH-merged covered cells EQUAL a direct build over the raw
    * suffix cell-for-cell, estimates never under, exact coverage,
    * staleness. */
  private def cmCheck(ev: DataFrame, key: Option[Column], item: Column,
      hourly: DataFrame, starts: Seq[Long]): MonitorGate.Check =
    MonitorGate.Check(
      SS.cmSlidingCheck(rawRows(ev, key, item.as("item")),
        SS.cmSlidingCells(hourly, 3600L, depth = 4, width = 32, starts),
        depth = 4, width = 32, keyed = key.isDefined),
      key.map(_ => "key").toSeq ++ Seq("start", "item"))

  /** SLIDING-WINDOW quantiles (plans.SlidingEh + operators.
    * SlidingSketches): the GK family member the sliding KMV state
    * (q294) started — "p10/p50/p90 of event values since ANY t" served
    * from an exponential histogram of per-hour GK summaries, never a
    * raw rescan. Per window start the answer covers an EXACT time
    * suffix [t_cov, now] with t_cov within the EH staleness bound of
    * the start; the gate checks all three legs (rank guarantee over
    * the covered suffix, exact coverage, staleness invariant) against
    * exact counts, with n_window anchoring each row. */
  val q299 = QueryDef(
    "q299_gk_sliding_window", slidingOracle(6, 6, Seq(0.1, 0.5, 0.9))) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val starts = MonitorGate.slidingStarts(ev, 6, 6)
    val hourly = SS.gkHourly(ev, lit(""), col("value"), col("sec"), 3600L, 2048)
    gkCheck(ev, None, hourly, 2048, starts, Seq(0.1, 0.5, 0.9)).sorted
  }

  /** Per-KEY sliding quantiles: one EH of hourly GK summaries per
    * event type (the per-source "last-window latency percentile"
    * panel), EH folds running DISTRIBUTED per key inside mapGroups —
    * no driver collect, per-key state O(c·log W) summaries. Same
    * three-leg guarantee reduction as q299, keyed. */
  val q300 = QueryDef(
    "q300_gk_sliding_per_key",
    slidingOracle(4, 4, Seq(0.25, 0.75), key = TypeKeySql)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val starts = MonitorGate.slidingStarts(ev, 4, 4)
    val hourly = SS.gkHourly(ev, col("event_type"), col("value"), col("sec"),
      3600L, 2048)
    gkCheck(ev, Some(typeKey), hourly, 2048, starts, Seq(0.25, 0.75)).sorted
  }

  /** SLIDING-WINDOW heavy hitters: Misra–Gries rides the same EH frame
    * ("top users since ANY t" from per-hour k-bounded summaries). The
    * MG undercount bound is merge-TREE-free (mergeable-summaries
    * rule), so EH depth costs nothing; the gate checks the covered
    * suffix's heavy set (presence + bounds), no overestimation, exact
    * coverage, and the staleness invariant per window start. */
  val q301 = QueryDef("q301_mg_sliding_window", slidingOracle(6, 6)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val starts = MonitorGate.slidingStarts(ev, 6, 6)
    val hourly = SS.mgHourly(ev, lit(""), col("user_id"), col("sec"), 3600L, 64)
    mgCheck(ev, None, userItem, hourly, 64, starts).sorted
  }

  /** Per-KEY sliding heavy hitters: one EH of hourly Misra–Gries
    * summaries per event type ("top users per source since ANY t"),
    * completing the sliding 2×2 (GK/MG × global/per-key). Same
    * guarantee reduction as q301, keyed: heavy set + bounds over each
    * (key, start) covered suffix, exact coverage, staleness. */
  val q304 = QueryDef(
    "q304_mg_sliding_per_key", slidingOracle(4, 4, key = TypeKeySql)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val starts = MonitorGate.slidingStarts(ev, 4, 4)
    val hourly = SS.mgHourly(ev, col("event_type"), col("user_id"),
      col("sec"), 3600L, 32)
    mgCheck(ev, Some(typeKey), userItem, hourly, 32, starts).sorted
  }

  /** STREAMING-fed sliding quantiles: the per-hour GK summaries fold
    * over the event STREAM (complete-mode grouped aggregation — the
    * same mergeable partial/merge path as q288/q298), and the
    * completed hourly cube feeds the identical EH + three-leg check as
    * q299 (same oracle). This is the production shape: an always-on
    * stream maintains the per-quantum cube; ANY window query answers
    * from the cube without touching the stream. */
  val q302 = QueryDef("q302_stream_gk_sliding", q299.oracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val ev = Tables.events(spark, dir)
    val starts = MonitorGate.slidingStarts(ev, 6, 6)
    val hourly = EventStreams.runToCompletion(spark,
      EventStreams.readEvents(spark, dir)
        .select(lit("").as("key"), expr("sec div 3600").as("q"),
          col("value").cast("double").as("v"))
        .groupBy("key", "q")
        .agg(graft.plans.GkQuantile.sketch(col("v"), 2048).as("sk")),
      "q302_gk_hourly")
    gkCheck(ev, None, hourly, 2048, starts, Seq(0.1, 0.5, 0.9)).sorted
  }

  /** STREAMING-NATIVE sliding-quantile monitor (streaming.
    * SlidingMonitor.gkQuantumMonitor): the per-(key, quantum) GK cube
    * kept as flatMapGroupsWithState STATE across the replay's triggers.
    * Each trigger carries its exact batch summaries into the stored
    * level structures (merge-and-reduce preserved across triggers), so
    * the streamed state obeys the batch error budget; the live cube
    * passes the batch per-key gate's check under q300's oracle
    * verbatim. */
  val q305 = QueryDef("q305_stream_gk_monitor", q300.oracle) { (spark, dir) =>
    MonitorGate(spark, dir, "q305_monitor", Unbounded(4, 4), gkReplay(typeKey),
        s => SlidingMonitor.gkQuantumMonitor(s, 2048).toDF()) { (ev, log, starts) =>
      gkCheck(ev, Some(typeKey), gkCube(log), 2048, starts, Seq(0.25, 0.75))
    }
  }

  /** SLIDING-WINDOW count-min (SlidingSketches.cmHourly/
    * cmSlidingCells): the fourth and last sketch-family member gets
    * its time-decayed leg — per-hour cell arrays EH-folded, point
    * frequencies "since ANY t" served from the covered suffix's
    * cells. Count-min cells are ADDITIVE and CANONICAL (a pure
    * function of the covered multiset, unlike GK/MG kept sets), so
    * this gate checks the strongest claim in the sliding family:
    * the EH-merged covered cells EQUAL a direct build over the raw
    * suffix cell-for-cell, plus the ≥-exact estimate guarantee per
    * probe, exact coverage, and the staleness invariant. Width 32 ≪
    * the distinct-user count forces real collision mass (q110's
    * discipline). */
  val q306 = QueryDef(
    "q306_cm_sliding_window", slidingOracle(6, 6, item = UserItemSql)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val starts = MonitorGate.slidingStarts(ev, 6, 6)
    val hourly = SS.cmHourly(ev, col("user_id"), col("sec"), 3600L,
      depth = 4, width = 32)
    cmCheck(ev, None, userItem, hourly, starts).sorted
  }

  /** Exponentially-decayed per-key stats (Analytics.decayedStats):
    * recency-weighted activity counters and means with a 1-day half
    * life — the "how active is this source NOW" telemetry primitive —
    * plus the REBASING identity (a stored decayed stat advanced one
    * day by pure scaling, no rescan) emitted beside the direct stats
    * so the mergeable-across-time claim is checked, not asserted.
    * Weights are per-row double pows, so both engines round each term
    * boundary-safely before exact decimal accumulation (the q254
    * entropy discipline) and the oracle replays the identical
    * arithmetic. */
  val q307 = QueryDef(
    "q307_decayed_stats",
    s"""WITH tr AS (SELECT MAX(floor(epoch(ts))::BIGINT) AS t_ref FROM events),
       |b AS (SELECT event_type AS key, value AS x,
       |             floor(epoch(ts))::BIGINT AS t, t_ref
       |      FROM events CROSS JOIN tr),
       |w AS (SELECT key, t_ref, x,
       |             ${Cross.r6Sql("pow(2.0, (t - t_ref)::DOUBLE / 86400.0)")} AS w
       |      FROM b),
       |w2 AS (SELECT key, t_ref, w, ${Cross.r6Sql("w * x")} AS wx FROM w),
       |g AS (SELECT key, t_ref, COUNT(*)::BIGINT AS n,
       |             ${Cross.dsumSql("w")} AS dn, ${Cross.dsumSql("wx")} AS dwx
       |      FROM w2 GROUP BY 1, 2)
       |SELECT key, n, t_ref, ${Cross.r6Sql("dn")} AS decayed_n,
       |       CASE WHEN dn <= 0 THEN NULL
       |            ELSE ${Cross.r6Sql("dwx / dn")} END AS decayed_mean,
       |       ${Cross.r6Sql("dn * pow(2.0, -1.0)")} AS rebased_n
       |FROM g ORDER BY key""".stripMargin) { (spark, dir) =>
    graft.operators.Analytics.decayedStats(Tables.events(spark, dir),
        col("event_type"), col("value"), col("sec"),
        halfLifeSec = 86400L, rebaseAheadSec = 86400L)
      .orderBy("key")
  }

  /** Per-KEY sliding count-min: one EH of hourly cell arrays per event
    * type — "this user's recent frequency within this source" —
    * completing count-min's 2×2 like the other family members. Same
    * canonical-cells discipline as q306 (EH-merged cells ≡ direct
    * covered-suffix build per key), keyed joins throughout the
    * verification frame. */
  val q310 = QueryDef(
    "q310_cm_sliding_per_key",
    slidingOracle(4, 4, key = TypeKeySql, item = UserItemSql)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val starts = MonitorGate.slidingStarts(ev, 4, 4)
    val hourly = SS.cmHourly(ev, col("user_id"), col("sec"), 3600L,
      depth = 4, width = 32, key = col("event_type"))
    cmCheck(ev, Some(typeKey), userItem, hourly, starts).sorted
  }

  /** STREAMING-NATIVE heavy-hitter monitor (SlidingMonitor
    * .mgQuantumMonitor): q305's pattern for Misra–Gries, each trigger's
    * exact batch counts folded by ONE mergeable reduce (the
    * merge-tree-free undercount bound makes the level-carry structure
    * unnecessary: any cadence stays within n/(k+1)); q301's oracle
    * verbatim. */
  val q312 = QueryDef("q312_stream_mg_monitor", q301.oracle) { (spark, dir) =>
    MonitorGate(spark, dir, "q312_mg_monitor", Unbounded(6, 6),
        mgReplay(lit(""), userItem),
        s => SlidingMonitor.mgQuantumMonitor(s, 64).toDF()) { (ev, log, starts) =>
      mgCheck(ev, None, userItem, mgCube(log), 64, starts)
    }
  }

  /** STREAMING-NATIVE count-min monitor (SlidingMonitor
    * .cmQuantumMonitor). Cells are additive and canonical, so the
    * monitor keeps NO cell state: each trigger emits its per-quantum
    * DELTA cells, and the additive read reconstructs a cube
    * BIT-IDENTICAL to a batch build at any trigger cadence. Items are
    * pre-hashed as a pure streaming projection (SlidingSketches
    * .cmKeyRows, one row per event); the ×depth cell explosion happens
    * in the executor-side pre-fold. q306's oracle verbatim. */
  val q313 = QueryDef("q313_stream_cm_monitor", q306.oracle) { (spark, dir) =>
    MonitorGate(spark, dir, "q313_cm_monitor", Unbounded(6, 6),
        _.select(col("user_id"), col("sec")), cmMonitor(lit(""))) { (ev, log, starts) =>
      cmCheck(ev, None, userItem, SlidingMonitor.cmCubeFromDeltas(log), starts)
    }
  }

  /** The GK monitor's RETENTION HORIZON under load: a 240-quantum
    * horizon over a ~720-quantum time-ordered replay evicts roughly two
    * thirds of the cube from state by completion, and answers inside
    * the horizon must be exactly the unbounded monitor's (the horizon
    * contract of [[MonitorGate]]). The state-size bound and the
    * inside-horizon emission equivalence across cadences are asserted
    * in SlidingEhSpec via the testFold seam. */
  val q314 = QueryDef(
    "q314_stream_gk_monitor_horizon", horizonOracle(50, Seq(0.25, 0.75))) { (spark, dir) =>
    MonitorGate(spark, dir, "q314_monitor", Horizon(240L, 50L, None), gkReplay(lit("")),
        s => SlidingMonitor.gkQuantumMonitor(s, 2048, horizonQuanta = 240L).toDF()) {
      (ev, log, starts) =>
      gkCheck(ev, None, gkCube(log), 2048, starts, Seq(0.25, 0.75))
    }
  }

  /** Per-KEY streaming MG monitor: q312 per event type, completing the
    * monitor family's global/per-key symmetry; q304's oracle. */
  val q316 = QueryDef("q316_stream_mg_monitor_per_key", q304.oracle) {
    (spark, dir) =>
    MonitorGate(spark, dir, "q316_mg_monitor_k", Unbounded(4, 4),
        mgReplay(typeKey, userItem),
        s => SlidingMonitor.mgQuantumMonitor(s, 32).toDF()) { (ev, log, starts) =>
      mgCheck(ev, Some(typeKey), userItem, mgCube(log), 32, starts)
    }
  }

  /** Per-KEY streaming count-min monitor: q313 per event type (hashed
    * item rows carry the key; one state group per type); q310's
    * oracle. */
  val q317 = QueryDef("q317_stream_cm_monitor_per_key", q310.oracle) {
    (spark, dir) =>
    MonitorGate(spark, dir, "q317_cm_monitor_k", Unbounded(4, 4), cmReplay,
        cmMonitor(col("event_type"))) { (ev, log, starts) =>
      cmCheck(ev, Some(typeKey), userItem, SlidingMonitor.cmCubeFromDeltas(log), starts)
    }
  }

  /** q318's oracle, repeated per trigger `cadences` when non-empty
    * (q321). */
  private def decayedMgPerKeyOracle(cadences: Seq[String]): String = {
    val (c, cte, join) =
      if (cadences.isEmpty) ("", "", "")
      else ("cadence, ",
        s", c AS (SELECT unnest([${cadences.map(x => s"'$x'").mkString(", ")}]) AS cadence)",
        " CROSS JOIN c")
    s"""WITH tr AS (SELECT event_type AS key,
       |            MAX(floor(epoch(ts))::BIGINT) AS t_ref
       |      FROM events GROUP BY 1),
       |b AS (SELECT e.event_type AS key,
       |             CASE WHEN e.event_id % 4 = 0 THEN 'u' || e.user_id
       |                  ELSE e.event_type END AS item,
       |             floor(epoch(e.ts))::BIGINT AS t, tr.t_ref
       |      FROM events e JOIN tr ON e.event_type = tr.key),
       |w AS (SELECT key, item,
       |             ${Cross.r6Sql("pow(2.0, (t - t_ref)::DOUBLE / 86400.0)")} AS w
       |      FROM b),
       |g AS (SELECT key, item, COUNT(*)::BIGINT AS n, ${Cross.dsumSql("w")} AS m
       |      FROM w GROUP BY 1, 2),
       |tot AS (SELECT key, ${Cross.dsumSql("w")} AS wt FROM w GROUP BY 1)$cte
       |SELECT ${c}g.key, item, n, ${Cross.r6Sql("m")} AS m, 1::BIGINT AS present,
       |       1::BIGINT AS bounds_ok, 1::BIGINT AS w_ok
       |FROM g JOIN tot ON g.key = tot.key$join
       |WHERE m * 9 > wt ORDER BY ${c}g.key, item""".stripMargin
  }

  /** Per-KEY decayed Misra–Gries: one recency-weighted top-talker
    * sketch per event type, each rebasing against its own max(t)
    * watermark (the aggregate's group semantics) — q315's guarantee
    * reduction run per key against each key's own exact decayed
    * masses. The skewed item column makes each key 3/4 its own name
    * (the dominant heavy) + 1/4 per-user noise, so per-key eviction
    * runs while every key has a guaranteed-present heavy set. */
  val q318 = QueryDef(
    "q318_decayed_mg_per_key", decayedMgPerKeyOracle(Nil)) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val item = when(pmod(col("event_id"), lit(4)) === 0,
      concat(lit("u"), col("user_id"))).otherwise(col("event_type"))
    graft.operators.Analytics.decayedMgHeavyPerKey(ev, col("event_type"),
        item, col("sec"), halfLifeSec = 86400L, k = 8)
      .orderBy("key", "item")
  }

  /** SPARSE-GRID sliding quantiles — the gate that exists because the
    * round-9 EH materialized a DENSE quantum grid (every position from
    * min to max, `require`-guarded at 2^22): events spread 4096× on
    * the time axis and sketched at MINUTE quanta give a grid span of
    * ~10^8 positions — fatal under the dense guard — while holding
    * only ~10^4 non-empty quanta, which is all the sparse timestamped
    * EH ([[graft.plans.SlidingEh]]) now stores. Same three-leg
    * guarantee reduction as q299; staleness is the sparse form's
    * relative-DATA bound (empty gaps are staleness-free). */
  val q311 = QueryDef(
    "q311_gk_sliding_sparse",
    s"""WITH b AS (SELECT MIN(floor(epoch(ts))::BIGINT) AS smin,
       |            MAX(floor(epoch(ts))::BIGINT) AS smax FROM events),
       |e2 AS (SELECT b.smin + (floor(epoch(ts))::BIGINT - b.smin)*4096 AS sec,
       |              value FROM events CROSS JOIN b),
       |b2 AS (SELECT MIN(sec) AS smin2, MAX(sec) AS smax2 FROM e2),
       |s AS (SELECT DISTINCT ((smin2 + (k*(smax2 - smin2))//6)//60)*60 AS start
       |      FROM b2 CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5]) AS k)),
       |w AS (SELECT s.start, COUNT(*)::BIGINT AS n_window
       |      FROM s JOIN e2 ON e2.sec >= s.start GROUP BY 1),
       |p AS (SELECT CAST(unnest([0.1, 0.5, 0.9]) AS DOUBLE) AS phi)
       |SELECT start, phi, n_window, 1::BIGINT AS rank_ok,
       |       1::BIGINT AS coverage_ok, 1::BIGINT AS stale_ok
       |FROM w CROSS JOIN p ORDER BY start, phi""".stripMargin) { (spark, dir) =>
    import graft.operators.{SlidingSketches => SS}
    val ev0 = Tables.events(spark, dir)
    val mm = ev0.agg(min(col("sec")).cast("long").as("a"),
      max(col("sec")).cast("long").as("b")).head
    val (smin, smax) = (mm.getLong(0), mm.getLong(1))
    val smax2 = smin + (smax - smin) * 4096L
    val ev = ev0.select(
      (lit(smin) + (col("sec").cast("long") - smin) * 4096L).as("sec"),
      col("value"))
    val starts = (0 until 6)
      .map(k => ((smin + k.toLong * (smax2 - smin) / 6) / 60L) * 60L)
      .distinct
    val hourly = SS.gkHourly(ev, lit(""), col("value"), col("sec"), 60L, 2048)
    val est = SS.gkSlidingEstimates(hourly, 60L, 2048, starts, Seq(0.1, 0.5, 0.9))
    SS.gkSlidingCheck(
        ev.select(col("sec"), col("value").cast("double").as("v")),
        est, keyed = false, epsDen = 40)
      .orderBy("start", "phi")
  }

  /** DECAYED Misra–Gries (plans.DecayedMg): "top talkers, recency-
    * weighted" in one pass — DecayedSumAgg's O(1) rebasing composed
    * with the k-bounded MG counter map, finishing the decayed row of
    * the sketch matrix (q307–q309 covered sums/means). The item column
    * is deliberately skewed (3/4 of rows keep their ~5 event types —
    * each well above the W/(k+1) threshold — while 1/4 shatter into
    * per-user noise items), so eviction runs constantly AND a real
    * heavy set exists. Verified by the q270 discipline made decayed:
    * per r6-heavy item, presence + weighted-MG bounds against the
    * exact two-pass decimal-disciplined decayed masses (n·1e-6 slack
    * for the raw-vs-rounded weight paths), plus total-mass/watermark
    * agreement. */
  val q315 = QueryDef(
    "q315_decayed_misra_gries",
    s"""WITH tr AS (SELECT MAX(floor(epoch(ts))::BIGINT) AS t_ref FROM events),
       |b AS (SELECT CASE WHEN event_id % 4 = 0 THEN 'u' || user_id
       |                  ELSE event_type END AS key,
       |             floor(epoch(ts))::BIGINT AS t, t_ref
       |      FROM events CROSS JOIN tr),
       |w AS (SELECT key,
       |             ${Cross.r6Sql("pow(2.0, (t - t_ref)::DOUBLE / 86400.0)")} AS w
       |      FROM b),
       |g AS (SELECT key, COUNT(*)::BIGINT AS n, ${Cross.dsumSql("w")} AS m
       |      FROM w GROUP BY 1),
       |tot AS (SELECT ${Cross.dsumSql("w")} AS wt FROM w)
       |SELECT key, n, ${Cross.r6Sql("m")} AS m, 1::BIGINT AS present,
       |       1::BIGINT AS bounds_ok, 1::BIGINT AS w_ok
       |FROM g CROSS JOIN tot WHERE m * 9 > wt ORDER BY key""".stripMargin) {
    (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val item = when(pmod(col("event_id"), lit(4)) === 0,
      concat(lit("u"), col("user_id"))).otherwise(col("event_type"))
    graft.operators.Analytics.decayedMgHeavy(ev, item, col("sec"),
        halfLifeSec = 86400L, k = 8)
      .orderBy("key")
  }

  /** Shared by q328 (batch build) and q329 (stream build): the decayed
    * count-min estimates must satisfy the same guarantees however the
    * cells were folded. Exact decayed masses use the r6-weight +
    * decimal-sum discipline (hash-exact vs this SQL); the engine-
    * specific estimates surface only through guaranteed flags. */
  val decayedCmOracleSql: String =
    s"""WITH tr AS (SELECT MAX(floor(epoch(ts))::BIGINT) AS t_ref FROM events),
       |b AS (SELECT user_id::VARCHAR AS key, floor(epoch(ts))::BIGINT AS t, t_ref
       |      FROM events CROSS JOIN tr),
       |w AS (SELECT key, ${Cross.r6Sql("pow(2.0, (t - t_ref)::DOUBLE / 86400.0)")} AS w
       |      FROM b),
       |g AS (SELECT key, COUNT(*)::BIGINT AS n, ${Cross.dsumSql("w")} AS m
       |      FROM w GROUP BY 1)
       |SELECT key, n, ${Cross.r6Sql("m")} AS m, 1::BIGINT AS never_under,
       |       1::BIGINT AS le_total, 1::BIGINT AS t_ok
       |FROM g ORDER BY key""".stripMargin

  /** Decayed count-min (Analytics.decayedCmCells/decayedCmVerify): the
    * recency-weighted point-frequency sketch — each depth·width cell a
    * rebasing DecayedSumAgg over weight-1 events, served rebased to the
    * global watermark, probed per distinct user against the exact
    * two-pass decayed masses. Completes the decayed sketch row
    * (sums/means q307-q309, MG q315/q318/q321). Width 32 << ~1000
    * users forces real collision mass, so never_under exercises the
    * min-over-rows logic, not a collision-free identity. */
  val q328 = QueryDef(
    "q328_decayed_count_min", decayedCmOracleSql) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val cells = graft.operators.Analytics.decayedCmCells(
      ev, col("user_id"), col("sec"), halfLifeSec = 86400L, depth = 4, width = 32)
    graft.operators.Analytics.decayedCmVerify(cells, ev, col("user_id"),
        col("sec"), halfLifeSec = 86400L, depth = 4, width = 32)
      .orderBy("key")
  }

  /** STREAMING decayed count-min: the cell build folds over the event
    * STREAM (complete-mode global aggregation — the explode-based plan
    * is shared verbatim with q328's batch build, and DecayedSumAgg's
    * rebasing merge is partitioning-independent), then the same batch
    * verification probes the completed cells. Same oracle as q328:
    * stream fold ≡ batch fold up to the decayed tolerance. */
  val q329 = QueryDef(
    "q329_stream_decayed_count_min", decayedCmOracleSql) { (spark, dir) =>
    import graft.streaming.EventStreams
    val cells = EventStreams.runToCompletion(spark,
      graft.operators.Analytics.decayedCmCells(
        EventStreams.readEvents(spark, dir), col("user_id"), col("sec"),
        halfLifeSec = 86400L, depth = 4, width = 32),
      "q329_cells")
    graft.operators.Analytics.decayedCmVerify(cells,
        Tables.events(spark, dir), col("user_id"), col("sec"),
        halfLifeSec = 86400L, depth = 4, width = 32)
      .orderBy("key")
  }

  /** STREAMING decayed counter (plans.DecayedSumAgg): the one-pass
    * rebasing form of q307 — state (n, tMax, sum) per key, a new
    * maximum rescaling the running sum in O(1), folding over the event
    * STREAM on the ordinary partial/merge path. n and t_ref are exact
    * (hash-anchored); the rebased double sum is merge-tree-sensitive
    * in its last ulps, so the gate emits the TWO-PASS decimal-
    * disciplined reference (hash-exact against the oracle's identical
    * arithmetic) and checks the streamed fold within n·1e-6 of it —
    * a bound covering per-term rounding and fp drift while ~10⁴×
    * tighter than any behavioral difference (a wrong rebase factor or
    * exponent sign moves the sum by whole percents). */
  val q308 = QueryDef(
    "q308_stream_decayed",
    s"""WITH b AS (SELECT event_type AS key, value AS x,
       |             floor(epoch(ts))::BIGINT AS t FROM events),
       |m AS (SELECT key, MAX(t) AS t_ref, COUNT(*)::BIGINT AS n FROM b GROUP BY 1),
       |w AS (SELECT b.key, m.t_ref, m.n,
       |             ${Cross.r6Sql("pow(2.0, (b.t - m.t_ref)::DOUBLE / 86400.0) * b.x")} AS wx
       |      FROM b JOIN m USING (key)),
       |g AS (SELECT key, t_ref, n, ${Cross.dsumSql("wx")} AS dwx
       |      FROM w GROUP BY 1, 2, 3)
       |SELECT key, n, t_ref, ${Cross.r6Sql("dwx")} AS direct_sum,
       |       1::BIGINT AS close_ok
       |FROM g ORDER BY key""".stripMargin) { (spark, dir) =>
    import graft.streaming.EventStreams
    val folded = EventStreams.runToCompletion(spark,
      EventStreams.readEvents(spark, dir)
        .select(col("event_type").cast("string").as("key"),
          col("sec").cast("long").as("t"), col("value").cast("double").as("x"))
        .groupBy("key")
        .agg(graft.plans.DecayedSum.of(col("t"), col("x"), 86400L).as("d")),
      "q308_decayed")
      .select(col("key"), col("d.n").as("n"), col("d.t_ref").as("t_ref"),
        col("d.sum").as("agg_sum"))
    decayedCheckFrame(spark, dir, folded)
  }

  /** Shared verification frame for the one-pass decayed folds (q308
    * streaming, q309 SQL registry): join the fold's (key, n, t_ref,
    * agg_sum) to the two-pass decimal-disciplined reference and emit
    * the hash-exact anchors plus the n·1e-6 closeness flag. */
  private[queries] def decayedCheckFrame(spark: org.apache.spark.sql.SparkSession, dir: String,
      folded: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val b = Tables.events(spark, dir).select(
      col("event_type").cast("string").as("key"),
      col("value").cast("double").as("x"), col("sec").cast("long").as("t"))
    val m = b.groupBy("key").agg(max("t").as("t_ref"))
    val direct = b.join(m, "key")
      .withColumn("wx", Cross.r6(
        pow(lit(2.0), (col("t") - col("t_ref")).cast("double") / 86400.0) * col("x")))
      .groupBy("key", "t_ref")
      .agg(Cross.dsum(col("wx"), 6).as("dwx"))
      .select(col("key"), col("t_ref"), Cross.r6(col("dwx")).as("direct_sum"))
    folded.join(direct, Seq("key", "t_ref"))
      .select(col("key"), col("n"), col("t_ref"), col("direct_sum"),
        (abs(col("agg_sum") - col("direct_sum")) <=
          col("n").cast("double") * 1e-6).cast("long").as("close_ok"))
      .orderBy("key")
  }

  /** The MG monitor's retention horizon, KEYED per event type: each
    * key's cube is cut at its own high-water quantum (per-key cutoffs
    * are never newer than the global one, so every window start lies
    * inside every key's horizon); q314's contract, checked with the
    * per-key sliding MG reduction. */
  val q319 = QueryDef(
    "q319_stream_mg_monitor_horizon", horizonOracle(50, key = TypeKeySql)) { (spark, dir) =>
    MonitorGate(spark, dir, "q319_mg_horizon", Horizon(240L, 50L, Some(typeKey)),
        mgReplay(typeKey, userItem),
        s => SlidingMonitor.mgQuantumMonitor(s, 32, horizonQuanta = 240L).toDF()) {
      (ev, log, starts) =>
      mgCheck(ev, Some(typeKey), userItem, mgCube(log), 32, starts)
    }
  }

  /** The count-min monitor's retention horizon, keyed per event type:
    * cells are canonical, so eviction must be invisible inside the
    * horizon cell-for-cell, not merely within a bound. */
  val q320 = QueryDef(
    "q320_stream_cm_monitor_horizon",
    horizonOracle(50, key = TypeKeySql, item = UserItemSql)) { (spark, dir) =>
    MonitorGate(spark, dir, "q320_cm_horizon", Horizon(240L, 50L, Some(typeKey)),
        cmReplay, cmMonitor(col("event_type"), horizon = 240L)) { (ev, log, starts) =>
      cmCheck(ev, Some(typeKey), userItem, SlidingMonitor.cmCubeFromDeltas(log), starts)
    }
  }

  /** The DECAYED-MG monitor (SlidingMonitor.decayedMgMonitor): "top
    * talkers, recency-weighted, RIGHT NOW" as always-on state. Per
    * trigger each key's state rebases to its new watermark and folds
    * the batch's weighted counts (the DecayedMgAgg rebasing identity).
    * The same replay runs at TWO trigger cadences, and each cadence's
    * latest-version state must pass q315's guarantee reduction per key
    * (presence + weighted-MG bounds against two-pass exact decayed
    * masses, total-mass/watermark agreement): the weighted bounds are
    * merge-tree-free, so both cadences pass identically. */
  val q321 = QueryDef(
    "q321_stream_decayed_mg_monitor", decayedMgPerKeyOracle(Seq("c1", "c4"))) {
    (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val item = when(pmod(col("event_id"), lit(4)) === 0,
      concat(lit("u"), col("user_id"))).otherwise(col("event_type"))
    val replay = Replay.of(ev.select(typeKey.as("key"),
      col("sec").cast("long").as("t"), item.cast("string").as("item")), "q321", 4)
    def cadence(maxFiles: Int, tag: String): DataFrame = {
      val (log, _) = MonitorGate.run(SlidingMonitor.decayedMgMonitor(
        replay.stream(maxFiles), 86400L, 8).toDF(), s"q321_dm_monitor_$tag")
      graft.operators.Analytics.decayedMgHeavyPerKeyFrame(ev, col("event_type"),
          item, col("sec"), halfLifeSec = 86400L, k = 8, dmCube(log, col("ver")))
        .withColumn("cadence", lit(tag))
    }
    cadence(1, "c1").unionByName(cadence(4, "c4"))
      .select(col("cadence"), col("key"), col("item"), col("n"), col("m"),
        col("present"), col("bounds_ok"), col("w_ok"))
      .orderBy("cadence", "key", "item")
  }

  /** KEY EVICTION for the GK monitor, keyed by the high-cardinality
    * user × event type (the per-source telemetry shape, whose state is
    * O(keys ever seen) without eviction): `evictKeys = true` drops a
    * key, with a tombstone and a watermark admission floor that forbids
    * partial-quantum resurrection, once the watermark passes a full
    * 48-quantum horizon beyond the key's own high-water quantum. The
    * gate asserts the eviction contract (a)–(c) of [[MonitorGate]]; any
    * key with window data is live, so the oracle needs no liveness
    * filter. */
  val q322 = QueryDef(
    "q322_stream_gk_monitor_key_evict",
    horizonOracle(12, Seq(0.25, 0.75), key = UserTypeKeySql, evict = true)) {
    (spark, dir) =>
    MonitorGate(spark, dir, "q322_evict_monitor", Evict(48L, 12L, userTypeKey),
        gkReplay(userTypeKey), s => SlidingMonitor.gkQuantumMonitor(s, 512,
          horizonQuanta = 48L, evictKeys = true, quantumSec = 3600L).toDF()) {
      (ev, log, starts) =>
      gkCheck(ev, Some(userTypeKey), gkCube(log), 512, starts, Seq(0.25, 0.75))
    }
  }

  /** MG key eviction: q322's contract for the heavy-hitter monitor
    * (one shared eviction implementation across the family, each
    * member gated), over per-(user × type) top value buckets. */
  val q324 = QueryDef(
    "q324_stream_mg_monitor_key_evict",
    horizonOracle(12, key = UserTypeKeySql, evict = true)) { (spark, dir) =>
    MonitorGate(spark, dir, "q324_mg_evict", Evict(48L, 12L, userTypeKey),
        mgReplay(userTypeKey, valueBucket), s => SlidingMonitor.mgQuantumMonitor(s, 8,
          horizonQuanta = 48L, evictKeys = true, quantumSec = 3600L).toDF()) {
      (ev, log, starts) =>
      mgCheck(ev, Some(userTypeKey), valueBucket, mgCube(log), 8, starts)
    }
  }

  /** Count-min key eviction: q322's contract with the family's
    * strongest live-cube check (covered cells equal a direct build
    * cell-for-cell for every live key). */
  val q325 = QueryDef(
    "q325_stream_cm_monitor_key_evict",
    horizonOracle(12, key = UserTypeKeySql, item = ValueBucketSql, evict = true)) {
    (spark, dir) =>
    MonitorGate(spark, dir, "q325_cm_evict", Evict(48L, 12L, userTypeKey),
        _.select(userTypeKey.as("key2"), col("value"), col("sec").cast("long").as("sec")),
        cmMonitor(col("key2"), valueBucket, horizon = 48L, evict = true)) {
      (ev, log, starts) =>
      cmCheck(ev, Some(userTypeKey), valueBucket, SlidingMonitor.cmCubeFromDeltas(log),
        starts)
    }
  }

  /** Oracle of the decayed-MG eviction gates (q330, q335): q315's
    * guarantee reduction per user × event type over the predicted live
    * keys (64 one-hour half-lives of retention), plus the gate's
    * contract `flags`. */
  private[queries] def decayedMgEvictOracle(flags: Seq[String]): String =
    s"""WITH g0 AS (SELECT user_id::VARCHAR || '_' || event_type AS key,
       |            floor(value)::BIGINT::VARCHAR AS item,
       |            floor(epoch(ts))::BIGINT AS t FROM events),
       |tm AS (SELECT MAX(t) AS tg FROM g0),
       |tr AS (SELECT key, MAX(t) AS t_ref FROM g0 GROUP BY 1),
       |live AS (SELECT key, t_ref FROM tr CROSS JOIN tm
       |         WHERE tg <= t_ref + ${64L * 3600L}),
       |w AS (SELECT g0.key, item,
       |             ${Cross.r6Sql("pow(2.0, (t - t_ref)::DOUBLE / 3600.0)")} AS w
       |      FROM g0 JOIN live ON g0.key = live.key),
       |g AS (SELECT key, item, COUNT(*)::BIGINT AS n, ${Cross.dsumSql("w")} AS m
       |      FROM w GROUP BY 1, 2),
       |tot AS (SELECT key, ${Cross.dsumSql("w")} AS wt FROM w GROUP BY 1)
       |SELECT g.key, item, n, ${Cross.r6Sql("m")} AS m, 1::BIGINT AS present,
       |       1::BIGINT AS bounds_ok, 1::BIGINT AS w_ok,
       |       ${flags.map(f => s"1::BIGINT AS $f").mkString(", ")}
       |FROM g JOIN tot ON g.key = tot.key
       |WHERE m * 9 > wt ORDER BY g.key, item""".stripMargin

  /** Key eviction for the DECAYED-MG monitor: q322's contract in
    * continuous time, keyed by user × event type. A key is dropped once
    * its own max event time falls a full retention (64 half-lives)
    * behind the watermark, tombstoned as w = 0 at its lifetime's own
    * t_ref, so (t_ref, ver) totally orders the log. Where the quantum
    * monitors' admission floor makes resurrection IMPOSSIBLE, the
    * decayed analog is a MASS BOUND: over the time-ordered replay, a
    * re-admitted key's lost pre-gap mass decayed by ≥ 2^−64, below one
    * double ulp, so live keys' answers (q315's guarantee reduction
    * against full-history exact masses) match the unbounded monitor's.
    * Versions restart on re-admission, so the live-cube read orders by
    * (t_ref, ver) and scopes to live keys. */
  val q330 = QueryDef(
    "q330_stream_decayed_mg_monitor_key_evict",
    decayedMgEvictOracle(Seq("state_ok", "evict_ok"))) { (spark, dir) =>
    val ev = Tables.events(spark, dir)
    val b = MonitorGate.bounds(ev)
    val retention = 64L * 3600L
    val (log, perKey, flags) = MonitorGate.evicting(ev, b, "q330_dm_evict",
      MonitorGate.Seconds, userTypeKey, retention,
      _.select(userTypeKey.as("key"), col("sec").cast("long").as("t"),
        valueBucket.as("item")),
      s => SlidingMonitor.decayedMgMonitor(s, 3600L, 8, evictKeys = true,
        retentionHalfLives = 64L).toDF())
    // a finally-evicted key's pre-tombstone emissions remain in the log
    val live = broadcast(
      perKey.filter(MonitorGate.Seconds.live(b, retention)).select("key"))
    val sk = dmCube(log.filter(col("w") > 0.0).join(live, Seq("key"), "left_semi"),
      struct(col("t_ref"), col("ver")))
    val evLive = ev.select(userTypeKey.as("key"), col("sec").cast("long").as("sec"),
        valueBucket.as("item"))
      .join(live, Seq("key"), "left_semi")
    flags(graft.operators.Analytics.decayedMgHeavyPerKeyFrame(evLive,
        col("key"), col("item"), col("sec"), halfLifeSec = 3600L, k = 8, sk))
      .orderBy("key", "item")
  }

  val all: Seq[QueryDef] = Seq(q47, q48, q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q100, q104, q105, q108, q110, q120, q123, q141, q172, q186, q211, q214, q215, q228, q230, q236, q241, q252, q254, q265, q266, q267, q270, q273, q274, q279, q280, q281, q283, q285, q286, q287, q288, q291, q292, q293, q294, q295, q296, q297, q298, q299, q300, q301, q302, q304, q305, q306, q307, q308, q310, q311, q312, q313, q314, q315, q316, q317, q318, q319, q320, q321, q322, q324, q325, q328, q329, q330)
}
