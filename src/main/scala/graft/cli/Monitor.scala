package graft.cli

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import graft.core.{Json, LocalFs, Tables}
import graft.operators.Cdc
import graft.operators.SlidingRows.GkSkR
import graft.plans.GkSummary
import graft.streaming.{EventStreams, Replay, SlidingMonitor}

/** The always-on telemetry panel, end-to-end as one command — the
  * production topology the monitor gates (q312/q319/q321/q326) verify
  * piecewise: the events table replayed as a micro-batched stream, a
  * per-(event type, hour) sliding-sketch monitor maintained as bounded
  * streaming state behind a retention horizon, Update-mode emissions
  * folded into the log-structured serving table (delta appends + CAS
  * manifest + threshold compaction), and the panel read served from
  * the compacted table, never from the emission log or the stream.
  *
  * Four monitor families behind one flag:
  *   - `mg` (default): Misra–Gries "top talkers per source" — the
  *     panel shows each key's k-bounded talker list. Latest-wins
  *     serving fold (emissions are replacement summaries).
  *   - `gk`: GK quantiles "p50/p99 per source, now" — the panel
  *     decodes each served quantum's GK summary and answers rank
  *     queries from it (error ≤ n/(2m) by the summary's guarantee).
  *     Latest-wins serving fold.
  *   - `cm`: count-min "traffic and heaviest-talker bound per source"
  *     — emissions are ADDITIVE deltas, so the serving fold SUMS cells
  *     per (key, quantum) instead of latest-wins (the delta contract
  *     q331 gates); the panel shows each quantum's exact row-0 mass
  *     (total events) and the count-min upper bound on the single
  *     heaviest item (min over rows of the row's max cell).
  *   - `dm`: decayed Misra–Gries "top talkers, recency-weighted, NOW"
  *     — one O(k) sketch per key, no quantum axis; the serving table
  *     holds ONE row per key (latest version wins) and the panel shows
  *     each key's decayed top talkers with the total decayed mass and
  *     its event-time reference.
  *
  * Every stage is the scale-shaped one: raw rows collapse to m/k-bounded
  * summaries inside `mapPartitions` before the stateful shuffle, state
  * per key is O(horizon × summary), per-trigger sink writes are
  * O(touched quanta), and the serving table's read cost is
  * O(live keys × horizon) regardless of stream length.
  *
  * Usage: runMain graft.cli.Monitor <sfDir> <serveDir> [family=mg|gk|cm|dm]
  *          [sketchSize=16] [horizonQuanta=24]
  * Output: per (event_type, hour) panel rows for the newest 3
  * IN-HORIZON quanta of each key (quanta older than the global
  * high-water quantum minus the horizon never print — an idle key
  * ages off the panel instead of serving stale rows), plus one JSON
  * summary line.
  */
object Monitor {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val serveDir = args(1)
    val family = args.lift(2).getOrElse("mg")
    val k = args.lift(3).map(_.toInt).getOrElse(16)
    val horizon = args.lift(4).map(_.toLong).getOrElse(24L)
    val spark = Cli.session()
    try run(spark, sfDir, serveDir, k, horizon, family)
    finally spark.stop()
  }

  /** Count-min panel geometry (shared by the write and read sides). */
  private val CmDepth = 4
  private val CmWidth = 32

  private[graft] def run(spark: SparkSession, sfDir: String, serveDir: String,
      k: Int, horizon: Long, family: String = "mg"): Unit = {
    require(Set("mg", "gk", "cm", "dm")(family),
      s"unknown monitor family '$family' (mg|gk|cm|dm)")
    // the caller's session may not come from SessionHygiene.session()
    LocalFs.install(spark)
    // replay the events table as 8 micro-batches (one file per trigger)
    val stream = Replay.of(Tables.events(spark, sfDir)
      .select(col("event_type").cast("string").as("key"),
        expr("sec div 3600").as("q"), col("sec").cast("long").as("t"),
        col("user_id").cast("string").as("item"),
        col("value").cast("double").as("v")), "monitor", 8).stream()
    clearServeDir(serveDir)
    val served = family match {
      case "cm" =>
        // DELTA emissions folded with the ADDITIVE reduce (sum cells per
        // (key, quantum)) instead of latest-wins; redelivery idempotency
        // comes from the manifest's live/consumed no-op checks, not from
        // content (q331 gates exactly this scenario)
        val cmRows = graft.operators.SlidingSketches.cmKeyRows(
          stream.select("key", "q", "item"), col("item"),
          col("q") * 3600L, 3600L, key = col("key"))
        EventStreams.runUpsertLogToCompletion(spark,
          SlidingMonitor.cmQuantumMonitor(cmRows, CmDepth, CmWidth,
            horizonQuanta = horizon).toDF()
            .filter(col("q") >= 0L).select("key", "q", "entries"),
          serveDir, name = "graft_monitor_serve_cm", compactEvery = 4,
          mode = "update")(SlidingMonitor.cmAdditiveReduce)
      case "dm" =>
        // no quantum axis: one O(k) sketch row per key, latest wins —
        // keyed on struct(t_ref, ver), NOT bare ver: the dm read
        // contract (monitorDecayedLatestSql) orders by event time
        // first because versions restart when an evicted key is
        // re-admitted; compacting on the same struct keeps this serve
        // path correct if eviction is ever switched on here
        EventStreams.runUpsertLogToCompletion(spark,
          SlidingMonitor.decayedMgMonitor(stream.select("key", "t", "item"),
            halfLifeSec = 86400L, k = k).toDF()
            .withColumn("tv", struct(col("t_ref"), col("ver"))),
          serveDir, name = "graft_monitor_serve_dm", compactEvery = 4,
          mode = "update")(Cdc.compactLatest(_, "key", "tv"))
      case fam =>
        val emissions = (fam match {
          case "mg" => SlidingMonitor
            .mgQuantumMonitor(stream.select("key", "q", "item"), k,
              horizonQuanta = horizon).toDF()
          case _ => SlidingMonitor
            .gkQuantumMonitor(stream.select("key", "q", "v"), math.max(k, 16),
              horizonQuanta = horizon).toDF()
        }).withColumn("kq", concat_ws("#", col("key"), col("q")))
        EventStreams.runUpsertLogToCompletion(spark, emissions, serveDir,
          name = "graft_monitor_serve", compactEvery = 4, mode = "update")(
          Cdc.compactLatest(_, "kq", "ver"))
    }

    // the panel read: newest 3 in-horizon quanta per key
    family match {
      case "mg" =>
        panelFrame(served, horizon).collect().foreach { r =>
          val talkers = r.getSeq[org.apache.spark.sql.Row](3)
            .map(e => s"${e.getString(0)}:${e.getLong(1)}").mkString(", ")
          println(f"[monitor] ${r.getString(0)}%-12s hour=${r.getLong(1)}%-8d " +
            f"n=${r.getLong(2)}%-6d top: $talkers")
        }
      case "gk" =>
        gkPanelFrame(served, horizon).collect().foreach { r =>
          println(f"[monitor] ${r.getString(0)}%-12s hour=${r.getLong(1)}%-8d " +
            f"n=${r.getLong(2)}%-6d p50=${r.getDouble(3)}%.3f " +
            f"p99=${r.getDouble(4)}%.3f")
        }
      case "cm" =>
        cmPanelFrame(served, horizon).collect().foreach { r =>
          println(f"[monitor] ${r.getString(0)}%-12s hour=${r.getLong(1)}%-8d " +
            f"n=${r.getLong(2)}%-6d heaviest<=${r.getLong(3)}%d")
        }
      case _ =>
        // the panel reads through THE dm read contract
        // (monitorDecayedLatestSql — (t_ref, ver) order, tombstones
        // out), not a hand-rolled equivalent: the served table is
        // already compacted one-row-per-key on struct(t_ref, ver), so
        // the view's max_by is the identity here, but the panel stays
        // correct if the upstream fold is ever replaced by a raw
        // emission log
        served.createOrReplaceTempView("graft_dm_served")
        val latest = spark.sql(graft.queries.SqlApiQueries
          .monitorDecayedLatestSql("graft_dm_served"))
        dmPanelFrame(latest).collect().foreach { r =>
          val talkers = r.getSeq[org.apache.spark.sql.Row](3)
            .map(e => f"${e.getString(0)}:${e.getDouble(1)}%.2f").mkString(", ")
          println(f"[monitor] ${r.getString(0)}%-12s t_ref=${r.getLong(1)}%-12d " +
            f"w=${r.getDouble(2)}%.2f top: $talkers")
        }
    }
    // distinct keys (a NULL key counts once, as distinct() does) and
    // served rows, from one aggregate
    val n = served.agg(count_distinct(col("key")), count_if(col("key").isNull),
      count(lit(1))).head
    val keys = n.getLong(0) + (if (n.getLong(1) > 0L) 1L else 0L)
    println(Json.render(JObject("family" -> JString(family), "keys" -> JLong(keys),
      "served_quanta" -> JLong(n.getLong(2)), "k" -> JInt(k),
      "horizon" -> JLong(horizon))))
  }

  /** Recreate the serving directory, but only when the target is
    * missing, empty, or RECOGNIZABLY a graft log-structured serving
    * table (it contains `manifest.*` generation files) — `serveDir` is
    * a user-typed CLI argument, and recursively deleting an arbitrary
    * non-empty path on a typo is not a recoverable mistake. */
  private[graft] def clearServeDir(serveDir: String): Unit = {
    val d = new java.io.File(serveDir)
    if (d.exists) {
      // a regular FILE would make File.list return null below, so the
      // empty-names require would pass and delete the user's file —
      // refuse anything that isn't a directory outright
      require(d.isDirectory,
        s"refusing to clear '$serveDir': exists but is not a directory")
      val names = Option(d.list).map(_.toSeq).getOrElse(Seq.empty)
      require(names.isEmpty || names.exists(_.startsWith("manifest.")),
        s"refusing to clear '$serveDir': non-empty and not a graft " +
          "serving table (no manifest.* marker) — pass an empty or " +
          "table directory")
      graft.core.TempPaths.clearDir(serveDir)
    }
  }

  /** Newest 3 IN-HORIZON quanta per key from the served MG cube
    * (quanta older than the GLOBAL high-water quantum minus the
    * horizon are dropped first — an idle key ages off the panel
    * rather than serving out-of-horizon rows), talkers sorted by
    * estimated count descending (ties by item for determinism). */
  private[graft] def panelFrame(served: DataFrame,
      horizon: Long = Long.MaxValue): DataFrame = {
    served
      .transform(inHorizon(horizon))
      .select(col("key"), col("q"), col("n"), topByEst("key"))
      .orderBy("key", "q")
  }

  /** `entries` as `top`: sorted by estimate descending, ties by the
    * entry's `tie` field (for determinism). */
  private def topByEst(tie: String): Column =
    reverse(array_sort(col("entries"),
      (a, b) => when(a.getField("est") < b.getField("est"), -1)
        .when(a.getField("est") > b.getField("est"), 1)
        .when(a.getField(tie) > b.getField(tie), -1)
        .when(a.getField(tie) < b.getField(tie), 1)
        .otherwise(0))).as("top")

  /** The GK family's panel: newest 3 in-horizon quanta per key, each
    * served summary decoded and rank-queried for p50/p99 (the "p99
    * per source, NOW" read the GK monitor exists for). */
  private[graft] def gkPanelFrame(served: DataFrame,
      horizon: Long = Long.MaxValue): DataFrame = {
    val spark = served.sparkSession
    import spark.implicits._
    served
      .transform(inHorizon(horizon))
      .select(col("key"), col("q"), col("sk").as("sk"))
      .as[(String, Long, GkSkR)]
      .map { case (key, q, sk) =>
        val s = GkSkR.summary(sk)
        (key, q, s.n, GkSummary.query(s, 0.5), GkSummary.query(s, 0.99))
      }
      .toDF("key", "q", "n", "p50", "p99")
      .orderBy("key", "q")
  }

  /** The CM family's panel: per (key, quantum) — newest 3 in-horizon
    * quanta — the EXACT event count (row-0 cells partition the events,
    * so their mass is n) and the count-min upper bound on the single
    * heaviest item (min over rows of the row's max cell: every item's
    * count is ≤ its cell in each row, so the heaviest item is ≤ every
    * row's max). */
  private[graft] def cmPanelFrame(served: DataFrame,
      horizon: Long = Long.MaxValue): DataFrame =
    served.transform(inHorizon(horizon))
      .select(col("key"), col("q"), explode(col("entries")).as("e"))
      .select(col("key"), col("q"),
        (col("e.idx") / lit(CmWidth)).cast("long").as("r"),
        col("e.cnt").as("cnt"))
      .groupBy("key", "q", "r")
      .agg(sum("cnt").as("rowsum"), max("cnt").as("rowmax"))
      .groupBy("key", "q")
      .agg(max(when(col("r") === 0L, col("rowsum"))).as("n"),
        min("rowmax").as("heavy_max"))
      .orderBy("key", "q")

  /** The decayed family's panel: one row per key — the latest sketch's
    * event-time reference, total decayed mass, and talkers sorted by
    * decayed estimate descending (ties by item for determinism). */
  private[graft] def dmPanelFrame(served: DataFrame): DataFrame =
    served
      // an evicted key's latest served row is its tombstone (w = 0):
      // aged off the panel, not displayed empty
      .filter(col("w") > 0.0)
      .select(col("key"), col("t_ref"), col("w"), topByEst("item"))
      .orderBy("key")

  /** Shared panel windowing: drop out-of-horizon quanta (vs the global
    * high-water quantum — the panel's "now"), then keep the newest 3
    * per key. Window-over-all is fine here: the input is the compacted
    * cube (O(live keys × horizon) rows), never the emission log. */
  private def inHorizon(horizon: Long)(served: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val aged =
      if (horizon == Long.MaxValue) served
      else served
        .withColumn("qmax", max(col("q")).over(Window.partitionBy(lit(1))))
        .filter(col("q") > col("qmax") - lit(horizon))
        .drop("qmax")
    aged
      .withColumn("rk", row_number().over(
        Window.partitionBy("key").orderBy(col("q").desc)))
      .filter(col("rk") <= 3)
      .drop("rk")
  }
}
