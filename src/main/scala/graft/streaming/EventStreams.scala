package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Cross, Tables}

/** Structured Streaming surface (net-new vs the reference — SURVEY.md
  * §2.11): the batch event operators (EventQueries) re-expressed as
  * streams. The file source replays the events parquet; in production the
  * same plans run against Kafka/files with `trigger` and checkpointing.
  *
  * `ts` is reduced to floored epoch seconds via the same physical-type
  * dispatch as Tables.events (int64-nanos and timestamp[us] testdata
  * generations both work); event-time columns are derived casts.
  */
object EventStreams {

  /** Actual on-disk schema of dir/events.parquet (footer-only read) —
    * the file source needs an explicit schema, and hardcoding one broke
    * the day the testdata generator switched ts encodings. */
  def eventsFileSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet").schema
  }

  /** Streaming read of the events table (file source replay). */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsFileSchema(spark, dir)
    streamTable(spark, dir, "events", schema)
      .withColumn("sec", Tables.floorEpochSec(schema("ts").dataType))
      .withColumn("etime", col("sec").cast("timestamp"))
  }

  /** Streaming read of any table in the testdata layout (schema from a
    * footer-only batch read, like [[eventsFileSchema]]) — the replay
    * entry for folding batch-defined aggregates over a table arriving
    * as a stream. */
  def readTable(spark: SparkSession, dir: String, table: String): DataFrame =
    streamTable(spark, dir, table,
      spark.read.parquet(s"$dir/$table.parquet").schema)

  /** The testdata layout has shipped `<table>.parquet` as a single FILE
    * (driver SFs) and as a DIRECTORY of part files (`graft.cli.ScaleUp`
    * output); the batch reader (`Tables.t`) is shape-agnostic, and the
    * streaming replay must be too: watch the directory itself when the
    * table IS a directory, otherwise glob the single file out of the
    * parent (a readStream path must be a directory/glob, not a file). */
  private def streamTable(spark: SparkSession, dir: String, table: String,
      schema: StructType): DataFrame = {
    val rs = spark.readStream.schema(schema)
    if (new java.io.File(dir, s"$table.parquet").isDirectory)
      rs.parquet(s"$dir/$table.parquet")
    else
      rs.option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** Tumbling 1-hour windowed aggregation (count + exact decimal sum),
    * identical semantics to the batch q50. */
  def tumblingHourly(events: DataFrame): DataFrame =
    tumblingHourlyAgg(events.withWatermark("etime", "1 hour"))

  /** The aggregation half of [[tumblingHourly]] WITHOUT the watermark
    * definition — the composable form for multi-stateful-operator
    * chains (q275's dedup → window), where the watermark must be
    * declared exactly once upstream (Spark disallows redefining it
    * between stateful operators). */
  def tumblingHourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("etime"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Cross.dsum(col("value"), 4).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Run a streaming DataFrame to completion against the replayed file
    * source and return the final result as a batch DataFrame. */
  def runToCompletion(spark: SparkSession, streamed: DataFrame, name: String,
      mode: String = "complete"): DataFrame =
    runToCompletionStateRows(spark, streamed, name, mode)._1

  /** [[runToCompletion]] plus the final trigger's TOTAL STATE ROW
    * count (summed over stateful operators; −1 if no progress was
    * reported) — the observable the key-eviction gate needs: state
    * size after the last (possibly no-data, timeout-firing) batch. */
  def runToCompletionStateRows(spark: SparkSession, streamed: DataFrame,
      name: String, mode: String = "complete"): (DataFrame, Long) =
    withStreamShuffleConf(spark, streamed) {
      val q = streamed.writeStream
        .format("memory").queryName(name).outputMode(mode)
        .start()
      try q.processAllAvailable() finally q.stop()
      val stateRows = Option(q.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
      (spark.table(name), stateRows)
    }

  /** Total on-disk bytes of every file-replay source in a streaming
    * plan, honoring a `pathGlobFilter` option (the single-file table
    * shape [[streamTable]] produces). None when the plan has no file
    * stream or any source's size is unknowable (e.g. a memory
    * stream) — callers then leave the session sizing alone. */
  private[graft] def streamInputBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    // the ANALYZED plan: a raw readStream Dataset's `logical` is still
    // the pre-resolution UnresolvedDataSource node; only analysis
    // produces the StreamingRelation carrying the DataSource
    val sizes = df.queryExecution.analyzed.collect {
      case sr: StreamingRelation =>
        val ds = sr.dataSource
        val paths =
          if (ds.paths.nonEmpty) ds.paths else ds.options.get("path").toSeq
        if (paths.isEmpty) -1L
        else paths.map { p =>
          val f = new java.io.File(p.stripPrefix("file:"))
          ds.options.get("pathGlobFilter") match {
            case Some(glob) if f.isDirectory =>
              val m = java.nio.file.FileSystems.getDefault
                .getPathMatcher("glob:" + glob)
              Option(f.listFiles).getOrElse(Array.empty[java.io.File])
                .filter(c => m.matches(c.toPath.getFileName))
                .map(dirSize).sum
            case _ => dirSize(f)
          }
        }.sum
    }
    if (sizes.isEmpty || sizes.exists(_ < 0L)) None else Some(sizes.sum)
  }

  /** Scale-adaptive shuffle sizing for a finite replayed stream
    * (optimization guide §2.2/§2.4): every stateful exchange, state
    * store and sink task costs O(shuffle partitions) PER MICRO-BATCH
    * regardless of rows — AQE cannot coalesce stateful plans, so a
    * session default sized for batch scans (cores, or thousands on a
    * cluster) multiplies straight into per-trigger latency. Partitions
    * here derive from the stream's INPUT BYTES (ceil(bytes / 32 MB),
    * clamped to [1, session default]) — at replay scale that is the
    * tightest upper bound on what the stateful exchanges can carry
    * (the monitors shuffle pre-folded summaries, strictly smaller than
    * their input), and at 100 TB the derived count exceeds any
    * configured default, so the clamp hands sizing back to the
    * cluster profile. Measured at sf0.1/local[32]: q276 20.2→6.1 s,
    * q331 16.4→8.1 s warmed (OPTIMIZATION_r14.md). Results are
    * partition-count independent by construction (Verify ships hashes
    * at 4 partitions, Bench at 32, same hashes). */
  private[graft] val StreamTargetBytesPerPartition: Long = 32L * 1024 * 1024

  private[graft] def streamShufflePartitions(spark: SparkSession,
      streamed: DataFrame): Option[Int] = {
    val defaultN = spark.sessionState.conf.numShufflePartitions
    streamInputBytes(streamed)
      .map(b => math.max(1L, math.min(defaultN.toLong,
        (b + StreamTargetBytesPerPartition - 1) / StreamTargetBytesPerPartition)).toInt)
      .filter(_ < defaultN)
  }

  /** Run `body` (which must START and FINISH the streaming query) with
    * `spark.sql.shuffle.partitions` set to the derived count, restoring
    * the previous value after — the conf is captured by the query at
    * start and pinned for its checkpoint lifetime, so the override
    * window only needs to cover the run. foreachBatch fold jobs inside
    * the run see the same sizing, which is intended: their slices are
    * the stream's own micro-batches. */
  private[graft] def withStreamShuffleConf[T](spark: SparkSession,
      streamed: DataFrame)(body: => T): T =
    streamShufflePartitions(spark, streamed) match {
      case None => body
      case Some(n) =>
        val key = "spark.sql.shuffle.partitions"
        val prev = spark.conf.get(key)
        spark.conf.set(key, n.toString)
        try body finally spark.conf.set(key, prev)
    }

  /** Drain a finite stream: run it to completion, handing each
    * micro-batch and its id to `onBatch`, under the derived shuffle
    * sizing ([[withStreamShuffleConf]]). The one `foreachBatch` runner:
    * every serving fold's per-trigger path passes here. */
  def drain(stream: DataFrame, name: String, mode: String = "append")(
      onBatch: (DataFrame, Long) => Unit): Unit =
    withStreamShuffleConf(stream.sparkSession, stream) {
      val q = stream.writeStream.outputMode(mode).queryName(name)
        .foreachBatch { (batch: DataFrame, id: Long) => onBatch(batch, id) }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

  /** Sliding windowed aggregation: 1-hour windows every 30 minutes, so
    * each event lands in exactly two windows. Mirrors the batch sliding
    * semantics (q54's moving frame) in event-time streaming form. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("etime", "1 hour")
      .groupBy(window(col("etime"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))

  /** Stream-static enrichment join: the event stream joins a static
    * dimension (broadcast by Catalyst — the static side is planned like
    * any batch relation), then aggregates per enriched key. The standard
    * shape for attaching dimension attributes to a live stream. */
  def enrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(dim, events("user_id") === dim("c_custkey"))
      .groupBy("c_nationkey", "event_type")
      .agg(count(lit(1)).as("n"))

  /** Point-in-time (SCD2) stream enrichment: each event joins the
    * dimension VERSION that was valid at the event's own time —
    * `sec ∈ [valid_from, valid_to)`, open-ended current rows with null
    * valid_to — then aggregates per (segment, event_type). The
    * correctness property a plain stream-static equi-join (q94) cannot
    * give: a dimension update must not retroactively relabel events that
    * happened before it. The static history side is planned like any
    * batch relation (broadcast when small); the range predicate rides on
    * the equi-key join, so state stays the aggregation's only stateful
    * piece. */
  def pointInTimeEnrichedCounts(events: DataFrame, dimHistory: DataFrame): DataFrame =
    events
      .join(dimHistory,
        events("user_id") === dimHistory("key") &&
        events("sec") >= dimHistory("valid_from") &&
        (dimHistory("valid_to").isNull || events("sec") < dimHistory("valid_to")))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n"))

  /** Deterministic ordered replay of the events table: rewritten as ONE
    * parquet file globally sorted by event time (sec, event_id), so file-
    * source arrival order IS event order — single-split scans read a file
    * front-to-back and the shuffle to a stateful operator's key partitions
    * preserves each mapper's row order, so with one mapper the state store
    * sees rows in event order. First-arrival operators (keyed dedup)
    * become replay-deterministic: "first arrived" ≡ "earliest event",
    * which is what lets q91 carry a full hash oracle instead of a
    * rows-only check. */
  def replayOrdered(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsFileSchema(spark, dir)
    val ordered = spark.read.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("sec", Tables.floorEpochSec(schema("ts").dataType))
      .drop("ts")
      .orderBy("sec", "event_id")
    // unique per call: two replay streams can be live in one query
    val replay = Replay.of(ordered.coalesce(1), "events")
    // the determinism argument requires ONE mapper: a file larger than
    // the scan split size would be read by several tasks and the
    // shuffle-fetch interleaving at the state partition would break
    // "first arrived ≡ earliest event". Enforce rather than assume —
    // fail loudly with the remedy instead of going flaky.
    val bytes = java.nio.file.Files.walk(java.nio.file.Paths.get(replay.dir))
      .filter(_.toString.endsWith(".parquet"))
      .mapToLong(java.nio.file.Files.size).sum()
    val split = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
      .stripSuffix("b").trim.toLong
    require(bytes * 2 < split,
      s"replayOrdered needs a single-split file for deterministic arrival order: " +
        s"replay is $bytes bytes vs maxPartitionBytes=$split — raise " +
        "spark.sql.files.maxPartitionBytes or replay a smaller slice")
    replay.stream().withColumn("etime", col("sec").cast("timestamp"))
  }

  /** Stream-stream event-time interval join: each click pairs with the
    * same user's views in the look-back window [click − 1 h, click]
    * (inclusive). Both sides carry watermarks and the join condition is
    * an event-time range, which is exactly what lets Spark BOUND the join
    * state: view state older than watermark − 1 h is dropped instead of
    * accumulating forever — the correctness-vs-state contract of
    * stream-stream joins. The matched-pair SET is arrival-order
    * independent (inner join over a complete replay), so the gate
    * hash-matches a batch BETWEEN-join oracle. */
  def clickViewJoin(events: DataFrame): DataFrame =
    clickViewJoinTimed(events)
      .select("user_id", "click_event", "click_sec", "view_event", "view_sec")

  /** [[clickViewJoin]] retaining the click's event-time column — the
    * composable form for join → windowed-aggregation chains (q276),
    * where the downstream window needs a watermarked event-time column
    * to group on. */
  def clickViewJoinTimed(events: DataFrame): DataFrame =
    clickViewJoined(events, "inner")
      .select("user_id", "click_event", "click_sec", "view_event", "view_sec",
        "click_time")

  /** Watermarked clicks `joinType`-joined to the same user's views in
    * the click's 1-hour look-back. */
  private def clickViewJoined(events: DataFrame, joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_event"),
        col("sec").as("click_sec"), col("etime").as("click_time"))
      .withWatermark("click_time", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_event"),
        col("sec").as("view_sec"), col("etime").as("view_time"))
      .withWatermark("view_time", "1 hour")
    clicks.join(views,
      col("user_id") === col("v_user") &&
        col("view_time") >= col("click_time") - expr("INTERVAL 1 HOUR") &&
        col("view_time") <= col("click_time"),
      joinType)
  }

  /** LEFT-OUTER stream-stream interval join — [[clickViewJoin]] plus
    * the attribution answer an inner join cannot give: a click with NO
    * same-user view in its 1-hour look-back emits exactly one row with
    * null view columns. Null emission is WATERMARK-DRIVEN — a click can
    * only be declared viewless once the view-side watermark passes its
    * window, so unbounded streams emit outers continuously and a FINITE
    * replay must push the watermark past every real window (see
    * [[clickViewLeftOuterComplete]]'s sentinel discipline). The result
    * SET is still replay-order independent: matched rows are the inner
    * join, and the viewless-click set is its exact complement. */
  def clickViewLeftOuter(events: DataFrame): DataFrame =
    clickViewJoined(events, "leftOuter")
      .select("user_id", "click_event", "click_sec", "view_event", "view_sec")

  /** The click/view replay of a finite run: the events table's
    * (user_id, event_id, event_type, sec) plus ONE far-future sentinel
    * event per side (a click for the left watermark, a view for the
    * right), streamed in one trigger with `etime`; None for an empty
    * table. Spark's no-new-data batch after it then pushes both
    * watermarks past every real window, so every watermark-driven
    * emission (a windowed count, a viewless click's null row) reaches
    * the sink before the run returns. Sentinels carry negative user ids
    * and can never pair. */
  def clickViewFlushReplay(spark: SparkSession, dir: String,
      name: String): Option[DataFrame] = {
    val base = Tables.events(spark, dir)
      .select("user_id", "event_id", "event_type", "sec")
    val maxRow = base.agg(max("sec")).head()
    if (maxRow.isNullAt(0)) None
    else {
      // 10 days past the data: the exact eviction threshold is
      // watermark − join-range (boundary-tight at small margins); a
      // sentinel is not data, so take a margin no strictness rule can eat
      val flushSec = maxRow.getLong(0) + 10L * 86400L
      val sentinels = spark.range(1).select(
          lit(-1L).as("user_id"), lit(-1L).as("event_id"),
          lit("click").as("event_type"), lit(flushSec).as("sec"))
        .unionByName(spark.range(1).select(
          lit(-2L).as("user_id"), lit(-2L).as("event_id"),
          lit("view").as("event_type"), lit(flushSec).as("sec")))
      Some(Replay.of(base.unionByName(sentinels), name).streamAll
        .withColumn("etime", col("sec").cast("timestamp")))
    }
  }

  /** Finite-replay runner for [[clickViewLeftOuter]] over
    * [[clickViewFlushReplay]]: each viewless click's null row reaches
    * the sink before the run returns, and the sentinels' own state never
    * crosses the final watermark, so they cannot leak into the result. */
  def clickViewLeftOuterComplete(spark: SparkSession, dir: String,
      queryName: String = "clicks_outer"): DataFrame = {
    val stream = clickViewFlushReplay(spark, dir, "outer").getOrElse(
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StructType(Nil)))
    // The sentinel filter runs on the MATERIALIZED result, not inside
    // the streaming plan: a pre-sink filter(user_id >= 0) would be
    // pushed below the join into BOTH scans (the equi-key lets Catalyst
    // infer it for the view side too), deleting the sentinels before
    // they can advance the watermark — no eviction batch, and the
    // newest real click's null row is never emitted. Measured, not
    // hypothetical.
    runToCompletion(spark, clickViewLeftOuter(stream), queryName,
        mode = "append")
      .filter(col("user_id") >= 0L)
  }

  /** Streaming keyed dedup: first event per (user, type) within the
    * watermark — dropDuplicatesWithinWatermark analog of batch q53. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("etime", "40 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id"), col("sec"))

  /** At-least-once → exactly-once: collapse duplicate DELIVERIES of the
    * same event by its id — the ingestion idempotency layer in front of
    * every downstream aggregate when the upstream bus redelivers
    * (Kafka producer retries, replayed partitions). Unlike
    * [[dedupWithinWatermark]] (first event per BUSINESS key), the key
    * here is the event identity, so the output is the exact logical
    * event set however many copies arrived. State per event id is
    * dropped once the watermark passes its event time — bounded by the
    * redelivery horizon, not the stream length. */
  def exactlyOnceByEventId(events: DataFrame, extraCols: Seq[String] = Nil): DataFrame =
    events
      .withWatermark("etime", "40 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select((Seq("event_id", "user_id", "event_type", "sec") ++ extraCols)
        .map(col): _*)

  /** Streaming drift-monitor fold: per-(population, bin) counts
    * maintained INCREMENTALLY over the replayed stream — the always-on
    * half of the PSI drift alarm. State is one count per (side, bin):
    * bins × populations rows total, regardless of stream length — the
    * cheapest stateful aggregation Structured Streaming can run. The
    * bin key is [[graft.operators.Analytics.psiBin]] itself, so the
    * stream fold and the batch fold agree by construction; feed the
    * completed counts to `Analytics.psiFromCounts` for the identical
    * per-bin table + total the batch path emits. */
  def psiSideCounts(events: DataFrame, side: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column,
      lo: Double, hi: Double, bins: Int): DataFrame =
    events
      .select(side.cast("long").as("side"),
        graft.operators.Analytics.psiBin(value, lo, hi, bins).as("bin"))
      .groupBy("side", "bin")
      .agg(count(lit(1)).as("n"))

  /** Streaming feed-health fold: per-(key, bucket) event counts
    * maintained incrementally — the state is one count per live
    * (source, day), and the completed fold feeds
    * `Analytics.volumeAnomalyFromCounts` for the identical trailing-
    * window z-screen the batch path runs (q228). */
  def volumeCounts(events: DataFrame, key: org.apache.spark.sql.Column,
      bucket: org.apache.spark.sql.Column): DataFrame =
    events
      .select(key.as("key"), bucket.cast("long").as("bucket"))
      .groupBy("key", "bucket")
      .agg(count(lit(1)).as("n"))

  /** Streaming KS fold: per-(value, population) counts maintained
    * incrementally — state is one count pair per DISTINCT value; feed
    * the completed fold to `Analytics.ksFromCounts` for the identical
    * exact KS the batch path computes (q241). */
  def ksValueCounts(events: DataFrame, side: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column): DataFrame =
    events
      .select(side.cast("long").as("side"), value.cast("double").as("v"))
      .groupBy("v")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("c2"))

  /** Streaming UPSERT materialization — the foreachBatch serving-table
    * sink every production pipeline ends in: each micro-batch folds
    * into a keyed parquet table through [[graft.operators.Cdc
    * .compactLatest]] (latest version per key wins), so the table is
    * always the compacted current state, not an append log. The merge
    * is associative and versions are unique per key, so the final table
    * is independent of how the stream was batched (gate q277 replays in
    * maxFilesPerTrigger=1 batches and hash-matches the batch
    * latest-row oracle). Returns the final table.
    *
    * Scale shape: the table is KEY-BUCKETED on disk ([[foldParquet]])
    * and each micro-batch rewrites only the buckets it touches — the
    * production partitioned-upsert pattern (a key-localized batch
    * rewrites one bucket, not the table). A format with native MERGE
    * still beats bucket rewrites at extreme churn, but the rewrite
    * amplification is bounded by bucket granularity, not table size. */
  def runUpsertToCompletion(spark: SparkSession, stream: DataFrame,
      path: String, key: String, version: String, name: String,
      buckets: Int = 16): DataFrame = {
    drain(stream, name) { (batch, _) =>
      foldParquet(path, batch, key, buckets) { (snapshot, slice) =>
        graft.operators.Cdc.compactLatest(
          snapshot.unionByName(slice), key, version)
      }
    }
    readFold(spark, path)
  }

  /** Cumulative parquet bytes written through the serving-table folds
    * (bucket rewrites, delta appends, compactions) since the last
    * [[resetFoldWriteBytes]] — the write-amplification counter the
    * SCALING harness compares across fold strategies and bucket
    * counts. Single-JVM measurement hook, not a production metric. */
  private[graft] val foldBytesWritten =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def resetFoldWriteBytes(): Unit = foldBytesWritten.set(0L)
  private def dirSize(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirSize).sum).getOrElse(0L)

  /** LOG-STRUCTURED streaming upsert — the extreme-churn leg the
    * bucketed fold's scaladoc defers to "a format with native MERGE":
    * each micro-batch APPENDS one delta directory (write amplification
    * exactly = batch bytes, zero read-modify-write), and every
    * `compactEvery` deltas a compaction folds base + deltas through
    * the associative reduce into a new base generation and drops the
    * consumed files. Reads apply the reduce over base ∪ deltas, so the
    * visible table is identical to the eagerly-folded one at any
    * point; latest-version-wins is compaction-ORDER-free, so the gate
    * (q303) hash-matches q277's batch oracle whatever the compaction
    * cadence. The trade against [[foldParquet]] is the classic
    * LSM one: O(batch) writes + deferred O(table) compactions +
    * read-side merge work, vs O(touched buckets × bucket size) per
    * batch with zero read-side work — SCALING.md carries the measured
    * bytes-written comparison. Delta dirs are keyed by micro-batch id
    * (idempotent overwrite: an at-least-once redelivery of a batch
    * rewrites its own delta, not a duplicate).
    *
    * COMMIT PROTOCOL: the table's visible state is a MANIFEST chain
    * (live generations + a grace list of garbage), not a directory
    * listing. Manifests are generation-numbered `manifest.<gen>`
    * files published by COMPARE-AND-SWAP — write a temp file, then
    * atomically hard-link it to the next generation name (POSIX
    * link(2) fails if the target exists, the local-FS equivalent of
    * an object store's conditional put / Delta-Iceberg-Hudi's commit
    * service); a writer that loses the race re-reads the winner and
    * rebases its intent. That makes the table MULTI-WRITER safe:
    *   - delta appends rebase trivially (add my name to the latest
    *     live set; a redelivered batchId that is already live is a
    *     no-op) — concurrent appenders never lose each other's deltas;
    *   - compaction rebases by carrying forward any deltas that
    *     landed after its snapshot (newLive = [newBase] ∪ (latest −
    *     consumed)) and ABANDONS (deleting its orphan base) when a
    *     rival compaction already consumed its inputs;
    *   - physical deletion keeps the one-generation grace: a
    *     compactor sweeps only the garbage named by the manifest it
    *     successfully replaced, after its commit — a reader holding
    *     the previous manifest never sees its files vanish mid-read.
    * Writers must own disjoint batchId spaces (each delta dir is one
    * writer's idempotent overwrite target). PipelineSpec drives 4
    * concurrent writers through fold+compact races and checks the
    * final table equals the single-writer fold.
    *
    * `reduce` is the table's fold, with [[foldLog]]'s contract:
    * latest-wins (`Cdc.compactLatest` on a key and version) for an
    * upsert table, or an additive re-aggregation (the count-min
    * serving cube's `SlidingMonitor.cmAdditiveReduce`). */
  def runUpsertLogToCompletion(spark: SparkSession, stream: DataFrame,
      path: String, name: String, compactEvery: Int = 4, mode: String = "append",
      compactBytes: Long = Long.MaxValue)(reduce: DataFrame => DataFrame): DataFrame = {
    require(compactEvery >= 2, s"compactEvery out of range: $compactEvery")
    drain(stream, name, mode) { (batch, batchId) =>
      foldLog(path, batch, batchId, compactEvery, compactBytes)(reduce)
    }
    readLog(spark, path)(reduce)
  }

  /** One micro-batch of the log-structured fold: append the slice as
    * delta_<batchId>, CAS-commit it into the manifest chain (rebasing
    * onto whatever other writers committed meanwhile), then compact if
    * a threshold is crossed. TWO thresholds, OR-ed: `compactEvery`
    * (live delta COUNT — bounds read-side merge fan-in) and
    * `compactBytes` (accumulated live delta BYTES, read off the
    * manifest's per-delta size stats — the production trigger: at high
    * trigger rates tiny deltas hit a count threshold long before
    * compaction is worth its O(table) write, and at fat batches a
    * count threshold lets the uncompacted tail grow unboundedly in
    * bytes; a byte threshold prices compaction against what reads
    * actually pay to merge). `reduce` must be a
    * one-shot associative fold over a union
    * (reduce(reduce(A) ∪ B) = reduce(A ∪ B)) — latest-wins compaction
    * and additive re-aggregation both qualify. Each batchId's delta
    * dir belongs to ONE writer (idempotent overwrite on redelivery);
    * concurrent writers use disjoint batchId spaces. */
  private[graft] def foldLog(path: String, batch: DataFrame, batchId: Long,
      compactEvery: Int, compactBytes: Long = Long.MaxValue)(
      reduce: DataFrame => DataFrame): Unit = {
    val name = f"delta_$batchId%09d"
    // consult the manifest BEFORE any filesystem write: a redelivered
    // batchId that is already LIVE must not rewrite a directory that
    // concurrent readers may be resolving (overwrite is
    // delete-then-write, not atomic — the content is the same batch by
    // contract, so there is nothing to write), and one already CONSUMED
    // by a compaction must not re-enter the live set (its rows are in
    // the compacted base; re-adding the delta would fold them twice)
    val (gen0, m0) = readManifestGen(path)
    if (!m0.live.contains(name) && !consumedHas(m0.consumed, batchId)) {
      val deltaDir = new java.io.File(path, name)
      batch.write.mode("overwrite").parquet(deltaDir.toString)
      val bytes = dirSize(deltaDir)
      foldBytesWritten.addAndGet(bytes)
      var committed = (gen0, m0)
      var done = false
      while (!done) {
        val (gen, m) = committed
        if (m.live.contains(name) || consumedHas(m.consumed, batchId))
          done = true // redelivery raced us into the chain already
        else if (tryCommitManifest(path, gen + 1,
            LogManifest((m.live :+ name).sorted, m.garbage, m.consumed,
              m.sizes + (name -> bytes))))
          done = true
        else committed = readManifestGen(path) // lost the race: rebase
      }
    }
    val m = readManifestGen(path)._2
    val deltas = m.live.filter(_.startsWith("delta_"))
    // pre-stats (legacy) deltas count 0 toward the byte sum, which can
    // defer a byte-dominant config well past its intended cadence —
    // surface that AT DECISION TIME (once per JVM), not only in the
    // scaladoc (round-13 ADVICE)
    if (compactBytes != Long.MaxValue) {
      val sizeless = deltas.filterNot(m.sizes.contains)
      if (sizeless.nonEmpty && sizelessNoted.compareAndSet(false, true))
        System.err.println(s"[foldLog] $path: ${sizeless.size} live " +
          s"delta(s) without manifest size stats (e.g. ${sizeless.head}) " +
          "count 0 toward the byte-compaction threshold")
    }
    if (deltas.size >= compactEvery ||
        deltas.iterator.map(n => m.sizes.getOrElse(n, 0L)).sum >= compactBytes)
      compactLog(batch.sparkSession, path)(reduce)
  }

  private val sizelessNoted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** One committed state of the log table: `live` names the
    * generations a reader resolves (base + deltas), `garbage` the set
    * consumed by the LAST compaction, kept on disk for one more
    * compaction cycle so a reader holding the previous manifest
    * snapshot never loses files mid-read, and `consumed` the batchId
    * RANGES of every delta any compaction ever folded into a base — the
    * record that makes a redelivered already-compacted batchId a no-op
    * instead of a double-count. Ranges, not ids: writers own contiguous
    * disjoint id spaces, so the list stays O(#writers), not
    * O(#batches). `sizes` carries each live generation's on-disk bytes
    * (recorded at append/compaction time), so the byte-threshold
    * compaction decision reads the MANIFEST, never re-stats the
    * filesystem; entries for dropped generations are pruned on
    * commit. A pre-stats manifest line parses with size 0 — the byte
    * threshold simply doesn't count that delta. */
  private[graft] final case class LogManifest(live: Seq[String],
      garbage: Seq[String], consumed: Seq[(Long, Long)] = Nil,
      sizes: Map[String, Long] = Map.empty)

  private val ManifestName = "manifest\\.(\\d{9})".r
  private val DeltaName = "delta_(\\d{9})".r

  private[graft] def consumedHas(ranges: Seq[(Long, Long)], id: Long): Boolean =
    ranges.exists { case (lo, hi) => id >= lo && id <= hi }

  /** Merge newly consumed ids into the range list (sort + coalesce
    * adjacent/overlapping). */
  private[graft] def consumedAdd(ranges: Seq[(Long, Long)],
      ids: Seq[Long]): Seq[(Long, Long)] = {
    val all = (ranges ++ ids.map(i => (i, i))).sortBy(_._1)
    all.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: rest, (lo2, hi2)) if lo2 <= hi + 1 =>
        (lo, math.max(hi, hi2)) :: rest
      case (acc, r) => r :: acc
    }.reverse
  }

  /** Latest committed (generation, manifest); (0, empty) for a fresh
    * table — generation numbers start at 1. */
  private[graft] def readManifestGen(path: String): (Long, LogManifest) = {
    val dir = new java.io.File(path)
    val gens = Option(dir.listFiles).getOrElse(Array.empty[java.io.File])
      .flatMap(f => f.getName match {
        case ManifestName(g) => Some(g.toLong)
        case _ => None
      })
    if (gens.isEmpty) (0L, LogManifest(Nil, Nil))
    else {
      val gen = gens.max
      import scala.jdk.CollectionConverters._
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(path, f"manifest.$gen%09d")).asScala.toSeq
      // live lines are `L <name> [<bytes>]` — the optional size stat
      val liveParts = lines.collect {
        case l if l.startsWith("L ") => l.drop(2).split(' ')
      }
      (gen, LogManifest(
        liveParts.map(_(0)),
        lines.collect { case l if l.startsWith("G ") => l.drop(2) },
        lines.collect { case l if l.startsWith("C ") =>
          val parts = l.drop(2).split(' ')
          (parts(0).toLong, parts(1).toLong)
        },
        liveParts.collect { case p if p.length > 1 => p(0) -> p(1).toLong }
          .toMap))
    }
  }

  private[graft] def readManifest(path: String): LogManifest =
    readManifestGen(path)._2

  /** COMPARE-AND-SWAP publish of generation `gen`: write a temp file,
    * hard-link it to `manifest.<gen>` — POSIX link(2) fails atomically
    * if the target exists (the local-FS form of a conditional put), so
    * exactly one writer wins each generation. Returns whether we
    * won. */
  private def tryCommitManifest(path: String, gen: Long, m: LogManifest): Boolean = {
    val dir = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Files.createTempFile(dir, ".manifest_tmp_", ".tmp")
    val body = (m.live.map(n => m.sizes.get(n)
        .map(b => s"L $n $b").getOrElse(s"L $n")) ++
      m.garbage.map("G " + _) ++
      m.consumed.map { case (lo, hi) => s"C $lo $hi" }).mkString("\n")
    java.nio.file.Files.write(tmp,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try {
      java.nio.file.Files.createLink(dir.resolve(f"manifest.$gen%09d"), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(tmp)
      ()
    }
  }

  private[graft] def compactLog(spark: SparkSession, path: String)(
      reduce: DataFrame => DataFrame): Unit = {
    val (gen0, m0) = readManifestGen(path)
    if (m0.live.isEmpty) return
    val consumed = m0.live.toSet
    // written straight from the live generations, no checkpoint: the
    // base dir is fresh (nanoTime suffix — keeps rival compactors'
    // physical dirs disjoint; uniqueness only, generations order the
    // chain) and no reader resolves it until the manifest commit below
    val merged = reduce(readLive(spark, path, m0.live))
    val baseName = f"base_${gen0 + 1}%09d_${System.nanoTime()}%x"
    merged.write.mode("overwrite").parquet(new java.io.File(path, baseName).toString)
    val baseBytes = dirSize(new java.io.File(path, baseName))
    foldBytesWritten.addAndGet(baseBytes)
    var committed = (gen0, m0)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"compactLog at $path cannot win a commit")
      val (gen, m) = committed
      if (!consumed.subsetOf(m.live.toSet)) {
        // a rival compaction consumed (some of) our inputs — its base
        // already covers them; our orphan base must not leak
        graft.core.TempPaths.clearDir(new java.io.File(path, baseName).toString)
        return
      }
      // carry forward deltas that landed after our snapshot; record the
      // consumed deltas' batchIds so their redelivery stays a no-op
      // after the physical dirs are gone
      val newLive = (baseName +: m.live.filterNot(consumed)).sorted
      val newConsumed = consumedAdd(m.consumed,
        m0.live.collect { case DeltaName(id) => id.toLong })
      // size stats: carried-forward deltas keep theirs, the new base
      // records its own, consumed entries drop
      val newSizes = m.sizes.view.filterKeys(newLive.contains).toMap +
        (baseName -> baseBytes)
      if (tryCommitManifest(path, gen + 1,
          LogManifest(newLive, m0.live, newConsumed, newSizes))) {
        // we replaced manifest `gen`: sweep the garbage IT named (the
        // one-generation grace — a reader can hold at most the
        // previous manifest while we commit), EXCEPT any name the new
        // manifest still lists live (defense in depth: a name must
        // never be deletable and resolvable at once)
        val liveNow = newLive.toSet
        m.garbage.filterNot(liveNow).foreach(n =>
          graft.core.TempPaths.clearDir(new java.io.File(path, n).toString))
        return
      }
      committed = readManifestGen(path)
    }
  }

  /** Does this failure chain mean "a resolved file vanished" — the
    * signature of reading past the one-compaction garbage grace? */
  private def isSweptRead(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      val msg = Option(c.getMessage).getOrElse("")
      if (c.isInstanceOf[java.io.FileNotFoundException] ||
        msg.contains("PATH_NOT_FOUND") || msg.contains("does not exist") ||
        msg.contains("FileNotFoundException")) return true
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  /** Resolve the latest manifest and materialize the folded table. The
    * one-generation garbage grace means a reader that resolves a
    * manifest and then stalls across TWO compactions can lose files
    * mid-read; the retry loop makes the read correct under ANY stall —
    * on a swept-file failure it re-resolves the (necessarily newer)
    * manifest and retries, and the localCheckpoint pins the result so
    * the returned frame never re-reads swept paths. `beforeRead` is a
    * test seam injecting work between resolve and read (PipelineSpec
    * compacts twice in it). */
  private[graft] def readLog(spark: SparkSession, path: String,
      beforeRead: () => Unit = () => ())(
      reduce: DataFrame => DataFrame): DataFrame = {
    var attempt = 0
    while (true) {
      val m = committedManifest(path)
      beforeRead()
      try {
        return reduce(readLive(spark, path, m.live)).localCheckpoint(true)
      } catch {
        case e: Throwable if attempt < 3 && isSweptRead(e) => attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The latest manifest; it must have committed a generation. */
  private def committedManifest(path: String): LogManifest = {
    val m = readManifest(path)
    require(m.live.nonEmpty, s"log table at $path has no committed manifest")
    m
  }

  /** The bare parquet relation over `live` generations of the table. */
  private def readLive(spark: SparkSession, path: String, live: Seq[String]): DataFrame =
    spark.read.parquet(live.map(n => new java.io.File(path, n).toString): _*)

  /** PLAN-VISIBLE read of a FULLY-COMPACTED log table: requires the
    * manifest's live set to be exactly one base generation and returns
    * the bare parquet relation over it, so downstream predicates and
    * projections reach the scan (PushedFilters / ReadSchema) — what
    * [[readLog]]'s localCheckpoint deliberately gives up to stay
    * correct under concurrent compaction sweeps. This is the
    * read-optimized serving shape (probe paths on a compacted index —
    * q334 probes ANN inverted lists through it; PlanSpec pins the
    * pushdown); callers own quiescence: compact first, and don't race
    * a rival compactor. Raises (rather than silently merging) when
    * live deltas exist — use [[readLog]] there. */
  def readCompactedBase(spark: SparkSession, path: String): DataFrame = {
    val m = committedManifest(path)
    require(m.live.size == 1 && m.live.head.startsWith("base_"),
      s"log table at $path is not fully compacted " +
        s"(live = ${m.live.mkString(", ")}) — run compactLog first or " +
        "read through readLog")
    readLive(spark, path, m.live)
  }

  /** PLAN-VISIBLE read PINNED to one manifest generation — the serving
    * read for a log table under ACTIVE maintenance, closing the gap
    * between [[readLog]] (correct under any concurrent compaction but
    * `localCheckpoint(true)` materializes the whole merge — every probe
    * pays O(table) and all pushdown dies) and [[readCompactedBase]]
    * (bare relation, full pushdown, but `require`s a fully-compacted
    * manifest and caller-owned quiescence — which an always-on served
    * index doesn't have: it probes WHILE ticks fold).
    *
    * Resolves the LATEST manifest once and returns a LAZY frame over
    * that generation's live files as bare parquet relations: downstream
    * predicates and projections reach the scans (PushedFilters /
    * ReadSchema — PlanSpec pins both the compacted and the mixed
    * shape). When the pinned generation is a single compacted base the
    * reduce is skipped outright — the base is already the reduce's
    * fixpoint (the foldLog contract `reduce(reduce(A) ∪ B) =
    * reduce(A ∪ B)` at B = ∅), so the bare relation IS the folded
    * table. With live deltas the reduce applies lazily over the union;
    * key predicates still push through it (latest-wins groups on the
    * key, so Catalyst moves a key filter below the aggregate to every
    * scan).
    *
    * SAFETY WINDOW: the one-generation garbage grace
    * ([[compactLog]]'s sweep) keeps this generation's files on disk
    * until the SECOND subsequent compaction commits — an execution that
    * starts under the pinned manifest survives one racing compaction
    * commit. A read that stalls across two commits fails with a
    * swept-file error (never a silent wrong answer: parquet reads fail
    * loudly on missing inputs); [[withPinnedRead]] wraps resolve +
    * action in that retry. */
  def readLogPinned(spark: SparkSession, path: String)(
      reduce: DataFrame => DataFrame): DataFrame = {
    val m = committedManifest(path)
    if (m.live.size == 1 && m.live.head.startsWith("base_")) readLive(spark, path, m.live)
    else reduce(readLive(spark, path, m.live))
  }

  /** Execute `use` against a pinned read, retrying resolve + action
    * together on a swept-file failure — the optimistic-concurrency
    * read loop that makes [[readLogPinned]] correct under ANY racing
    * compaction cadence: losing the grace window is detected (missing
    * file ⇒ loud failure), and the retry re-resolves the necessarily
    * newer manifest. `use` must be idempotent (a collect/write, not a
    * side-effecting fold) — it can run more than once. Unlike
    * [[readLog]] the frame handed to `use` is lazy and plan-visible,
    * so the probe's predicates still reach the scans on every attempt;
    * q338 drives probes through this against a compaction loop racing
    * in another thread. */
  def withPinnedRead[T](spark: SparkSession, path: String,
      maxRetries: Int = 16)(reduce: DataFrame => DataFrame)(
      use: DataFrame => T): T = {
    var attempt = 0
    while (true) {
      try return use(readLogPinned(spark, path)(reduce))
      catch {
        case e: Throwable if attempt < maxRetries && isSweptRead(e) =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read-merge-overwrite of one KEY-BUCKETED parquet serving table —
    * the shared micro-batch fold step of [[runUpsertToCompletion]] and
    * [[runIngestPipeline]]. The table lives as `path/b<i>/` subdirs
    * keyed by a stable hash bucket of `keyCol`; each micro-batch folds
    * ONLY the buckets it touches: `merge(snapshot, slice)` runs per
    * touched bucket with that bucket's current rows (empty-with-schema
    * on first contact) and the batch's slice, and the result
    * materializes via localCheckpoint BEFORE the overwrite (reading
    * and overwriting the same path lazily would delete the input under
    * the read).
    *
    * This is the production partitioned-upsert shape, executed as ONE
    * read + ONE write per batch: the snapshot read prunes to touched
    * partitions (partition filter on `__b`), and the write uses
    * DYNAMIC partition overwrite — only the partitions present in the
    * merged frame are replaced, untouched buckets' files never move.
    * Rewrite amplification is O(touched buckets × bucket size) per
    * batch, not O(table) — a key-localized batch rewrites one bucket
    * of a 100 TB table. (A first cut looped buckets with one write
    * job each: correct, but 16 job schedulings per sink per
    * micro-batch tripled gate wall — dynamic overwrite is both the
    * textbook pattern and the fast one.) Correctness is
    * bucketing-independent because buckets partition the KEY space:
    * any per-key associative merge (compactLatest, additive counts,
    * sketch re-folds) commutes with the partition, so the final table
    * equals the unbucketed fold's (PipelineSpec's
    * batching-independence case runs through this path). */
  private[graft] def foldParquet(path: String, batch: DataFrame, keyCol: String,
      buckets: Int = 16)(merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val bucketOf = pmod(hash(col(keyCol)), lit(buckets))
    val bs = batch.localCheckpoint(true)
    val touched = bs.select(bucketOf.as("__b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val dir = new java.io.File(path)
    val have = dir.exists && Option(dir.listFiles).exists(
      _.exists(_.getName.startsWith("__b=")))
    val snapshot =
      if (have) spark.read.parquet(path)
        .filter(col("__b").isin(touched: _*)).drop("__b")
      else bs.limit(0)
    merge(snapshot, bs)
      .withColumn("__b", bucketOf)
      .localCheckpoint(true)
      .write.mode("overwrite")
      // per-WRITE dynamic overwrite (only partitions present in the
      // merged frame are replaced) — deliberately NOT the session conf,
      // which would silently flip later gates' pre-existing partitioned
      // overwrites from static (clear stale partitions) to dynamic
      // (keep ghost data)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__b").parquet(path)
    // write-amplification accounting: exactly the rewritten buckets
    touched.foreach(b => foldBytesWritten.addAndGet(
      dirSize(new java.io.File(path, s"__b=$b"))))
  }

  /** Read a [[foldParquet]] table back (partition discovery over the
    * `__b=` bucket dirs; the synthetic column drops out). */
  private def readFold(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("__b")

  /** The COMPOSED ingest topology a production pipeline actually runs —
    * ONE streaming query, at-least-once input already collapsed by
    * [[exactlyOnceByEventId]] upstream, fanning out in foreachBatch to
    * THREE serving artifacts that each fold associatively (so all
    * three are batching-independent):
    *   1. latest-event-per-user UPSERT table (Cdc.compactLatest on the
    *      packed (sec, event_id) version — the q277 sink),
    *   2. per-(event_type, value) KS drift COUNTS (additive merge —
    *      the q267 monitor state; run Analytics.ksPerKeyFromCounts
    *      over the final table for the drift verdict),
    *   3. per-HOUR KMV distinct-user sketches (explode + re-fold
    *      through the mergeable aggregate — the q283 cube's finest
    *      cells; roll up to days with Sketches.kmvRollup).
    * One dedup state feeds all three sinks — the multi-stateful
    * composition beyond the pairwise q275/q276 chains. Returns the
    * three final tables (upsert, ksCounts, kmvHourly).
    *
    * `deduped` must carry (event_id, user_id, event_type, sec, value).
    * event_id is range-guarded by the version packing (raises outside
    * [0, 10^7), the q277 fail-loud contract). */
  def runIngestPipeline(spark: SparkSession, deduped: DataFrame,
      name: String): (DataFrame, DataFrame, DataFrame) = {
    val base = graft.core.TempPaths.gatePath(s"ingest_$name")
    val upsertPath = s"$base/upsert"
    val ksPath = s"$base/ks"
    val kmvPath = s"$base/kmv"
    // fresh state per run: the pid-keyed base is stable WITHIN a run
    // (recursive — the fold tables hold bucket subdirs)
    Seq(upsertPath, ksPath, kmvPath).foreach(graft.core.TempPaths.clearDir)
    drain(deduped, name) { (batch0, _) =>
      // one materialization feeds all three folds
      val b = batch0.localCheckpoint(true)
      val withVer = b.select(col("user_id"), col("event_id"),
        col("event_type"), col("sec"),
        graft.operators.Cdc.packedVersion(col("sec"), col("event_id"), name)
          .as("ver"))
      val bc = ksValueCountsPerKey(b, col("event_type"),
        pmod(col("event_id"), lit(2)), col("value"))
      val bh = graft.operators.Sketches.kmvSketch(
        b, expr("sec div 3600"), col("user_id"), 64)
      // The three folds touch DISJOINT tables off the one checkpointed
      // batch, so their job chains run CONCURRENTLY — per-batch wall is
      // max(fold) instead of sum(fold). This is the production shape
      // too: a foreachBatch fan-out that serializes independent sink
      // maintenance wastes exactly the scheduler's ability to overlap
      // small jobs (q290 spends its wall on per-batch job latency, not
      // rows — SCALING.md round 9 measured α = 0.02 across 10× data).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val folds = Seq(
        Future(foldParquet(upsertPath, withVer, "user_id") { (snap, slice) =>
          graft.operators.Cdc.compactLatest(
            snap.unionByName(slice), "user_id", "ver")
        }),
        Future(foldParquet(ksPath, bc, "key") { (snap, slice) =>
          snap.unionByName(slice).groupBy("key", "v")
            .agg(sum("c1").as("c1"), sum("c2").as("c2"))
        }),
        Future(foldParquet(kmvPath, bh, "key") { (snap, slice) =>
          snap.unionByName(slice)
            .select(col("key"), explode(col("sketch")).as("h"))
            .groupBy("key")
            .agg(graft.plans.Kmv.minValues(col("h"), 64).as("sketch"))
        }))
      Await.result(Future.sequence(folds), Duration.Inf)
    }
    (readFold(spark, upsertPath), readFold(spark, ksPath),
      readFold(spark, kmvPath))
  }

  /** Per-key variant of [[ksValueCounts]]: one count pair per DISTINCT
    * (key, value) — the always-on per-source/per-domain drift monitor's
    * whole state; feed the completed fold to
    * `Analytics.ksPerKeyFromCounts` for the identical per-key KS the
    * batch path computes (q265). */
  def ksValueCountsPerKey(events: DataFrame, key: org.apache.spark.sql.Column,
      side: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column): DataFrame =
    events
      .select(key.as("key"), side.cast("long").as("side"),
        value.cast("double").as("v"))
      .groupBy("key", "v")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("c1"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("c2"))
}
