package graft
package streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryWrapper, StreamingRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.core.{Tables, TempPaths}

/** The one replay writer (Replay) and the one stream drain
  * (EventStreams.drain): the time-ordered replay's slice files and their
  * pinned order, trigger-by-trigger delivery, the stream schema every
  * replayed site reads, the drain's shuffle-conf window, and the
  * Monitor CLI's count-min serve on top of both. */
class ReplaySpec extends SparkSpec {

  /** (sec, x) rows, `n` per hour over `hours` hours from an hour-aligned
    * epoch second. */
  private def hourly(hours: Int, n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val t0 = 1700000000L / 3600L * 3600L
    (for (h <- 0 until hours; i <- 0 until n)
      yield (t0 + h * 3600L + i * 7L, s"h$h-$i")).toDF("sec", "x")
  }

  private def ordered(ev: DataFrame, project: DataFrame => DataFrame, name: String,
      unit: Long): Replay = {
    val mm = ev.agg(min(col("sec")).cast("long"), max(col("sec")).cast("long")).head
    Replay.ordered(ev, project, name, mm.getLong(0), mm.getLong(1), unit)
  }

  private def partFiles(r: Replay): Seq[java.io.File] =
    new java.io.File(r.dir).listFiles.toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Each trigger's rows, by batch id, from a maxFilesPerTrigger = 1 read. */
  private def triggers(r: Replay, name: String): Seq[Seq[Row]] = {
    val got = new ConcurrentHashMap[Long, Seq[Row]]()
    EventStreams.drain(r.stream(1), name) { (batch, id) =>
      got.put(id, batch.collect().toSeq)
    }
    got.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def tempDir(name: String): String =
    TempPaths.registered(java.nio.file.Files.createTempDirectory(name)).toString

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** The schema each file-stream source of a streaming plan was given. */
  private def given(df: DataFrame): Seq[StructType] = given(df.queryExecution.analyzed)

  private def given(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[StructType] =
    plan.collect { case sr: StreamingRelation => sr.dataSource.userSpecifiedSchema.get }

  /** [[given]] for every streaming query started while `body` runs, by
    * query name (onQueryStarted runs before `start()` returns). */
  private def givenWhile(body: => Any): Map[String, Seq[StructType]] = {
    val got = new ConcurrentHashMap[String, Seq[StructType]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        got.put(e.name, given(spark.streams.get(e.id)
          .asInstanceOf[StreamingQueryWrapper].streamingQuery.analyzedPlan))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try body finally spark.streams.removeListener(listener)
    got.asScala.toMap
  }

  test("ordered replay: one file per slice, mod-times strictly increasing oldest-first") {
    val ev = hourly(hours = 12, n = 5)
    val r = ordered(ev, identity, "spec_files", 3600L)
    val smin = ev.agg(min("sec")).head.getLong(0)
    val files = partFiles(r).sortBy(_.lastModified)
    assert(files.size == Replay.Slices)
    assert(files.map(_.lastModified).sliding(2).forall { case Seq(a, c) => a < c })
    // ordered by mod-time, the files hold consecutive 3-hour slices
    val ranges = files.map { f =>
      val secs = spark.read.parquet(f.getPath).collect().map(_.getLong(0))
      (secs.min, secs.max)
    }
    assert(ranges.map(_._1) == (0 until 4).map(i => smin + i * 3L * 3600L))
    assert(ranges.sliding(2).forall { case Seq(a, c) => a._2 < c._1 })
  }

  test("ordered replay at maxFilesPerTrigger = 1: trigger i carries slice i") {
    val ev = hourly(hours = 10, n = 3)
    val r = ordered(ev, identity, "spec_triggers", 3600L)
    val smin = ev.agg(min("sec")).head.getLong(0)
    val got = triggers(r, "replay_spec_triggers")
    assert(got.size == Replay.Slices)
    // 10 quanta in 4 slices: [0,2) [2,5) [5,7) [7,10)
    val bounds = Seq(0, 2, 5, 7, 10).map(q => smin + q * 3600L)
    got.zipWithIndex.foreach { case (batch, i) =>
      val want = ev.filter(col("sec") >= bounds(i) && col("sec") < bounds(i + 1))
      assert(batch.map(_.toString).sorted == rows(want), s"trigger $i")
    }
  }

  test("ordered replay: the triggers' union is the input, also with empty slices") {
    for ((hours, unit) <- Seq((10, 3600L), (2, 3600L), (1, 3600L), (3, 1L))) {
      val ev = hourly(hours, n = 4).unionByName(hourly(hours, n = 2)) // duplicates
      val r = ordered(ev, identity, "spec_union", unit)
      val got = triggers(r, s"replay_spec_union_${hours}_$unit")
      assert(got.flatten.map(_.toString).sorted == rows(ev), s"$hours h, unit $unit")
    }
  }

  test("replay stream schemas equal the monitor gates' hand-written schemas") {
    val ev = Tables.events(spark, sf())
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
      val unordered = Replay.of(project(ev), s"spec_schema$i", 2)
      val sliced = ordered(ev, project, s"spec_schema$i", 3600L)
      assert(unordered.schema == want, s"case $i")
      assert(sliced.schema == want, s"case $i")
      assert(unordered.stream().schema == want, s"case $i")
    }
  }

  test("every folded replay site gives its stream the schema it gave before the fold") {
    val dir = sf()
    val events4 = st("user_id" -> LongType, "event_id" -> LongType,
      "event_type" -> StringType, "sec" -> LongType)
    // the schemas each site passed to its own readStream: hand-written
    // (Monitor, ScaleStream, q276), the sessionizer's encoder schema with
    // its non-nullable longs, and the frames the others wrote
    val fileSchema = EventStreams.eventsFileSchema(spark, dir)
    val orderedEvents = spark.read.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("sec", Tables.floorEpochSec(fileSchema("ts").dataType))
      .drop("ts").orderBy("sec", "event_id")
    val base = Tables.events(spark, dir).select("user_id", "event_id", "event_type", "sec")
    val flushed = base.unionByName(spark.range(1).select(lit(-1L).as("user_id"),
      lit(-1L).as("event_id"), lit("click").as("event_type"), lit(0L).as("sec")))
    val sessions = Encoders.product[Sessionize.Event].schema
    assert(sessions.forall(!_.nullable))

    assert(given(EventStreams.replayOrdered(spark, dir)) == Seq(orderedEvents.schema))
    assert(given(graft.cli.ScaleStream.replay(spark, dir, 8).stream()) ==
      Seq(st("user_id" -> LongType, "event_id" -> LongType, "event_type" -> StringType,
        "sec" -> LongType, "ver" -> LongType)))
    val got = givenWhile {
      graft.cli.Monitor.run(spark, dir, tempDir("graft_spec_serve"), 16, 24L)
      Sessionize.sessionizedStreamComplete(spark, Sessionize.eventsDataset(spark, dir),
        queryName = "spec_sess")
      graft.queries.MlQueries.q276.fn(spark, dir)
      graft.queries.MlQueries.q185.fn(spark, dir)
      graft.queries.TextAnalysis.q343.fn(spark, dir)
    }
    assert(got("graft_monitor_serve") == Seq(st("key" -> StringType, "q" -> LongType,
      "t" -> LongType, "item" -> StringType, "v" -> DoubleType)))
    assert(got("spec_sess") == Seq(sessions))
    // the click/view joins read their one replay twice, once per side
    assert(got("q276_out") == Seq(events4, events4))
    assert(got("q185_out") == Seq(flushed.schema, flushed.schema))
    assert(got("q343_encode") == Seq(Tables.documents(spark, dir).schema))
  }

  test("drain restores spark.sql.shuffle.partitions after a run and when onBatch throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val r = Replay.of(hourly(hours = 3, n = 4), "spec_drain", 2)
    val during = new java.util.concurrent.atomic.AtomicReference[String]()
    EventStreams.drain(r.stream(), "replay_spec_drain") { (_, _) =>
      during.set(spark.conf.get(key))
    }
    // a tiny replay derives one partition, which holds only during the run
    assert(during.get == "1" && before != "1")
    assert(spark.conf.get(key) == before)
    intercept[Exception] {
      EventStreams.drain(r.stream(), "replay_spec_drain_throws") { (_, _) =>
        throw new IllegalStateException("onBatch fails")
      }
    }
    assert(spark.conf.get(key) == before)
  }

  test("Monitor's cm served table equals the hand-written foreachBatch serve, cell for cell") {
    // a horizon longer than the data: with a shorter one, rows of a
    // quantum already behind it drop, and which do depends on the order
    // the 8 files arrive in, which no two replays share
    val horizon = 1000000L
    val serveDir = tempDir("graft_spec_cm_serve")
    graft.cli.Monitor.run(spark, sf(), serveDir, 16, horizon, "cm")
    val served = EventStreams.readLog(spark, serveDir)(SlidingMonitor.cmAdditiveReduce)
    // the serve as the CLI wrote it by hand: its own replay and file
    // stream, and a foreachBatch fold under the session's partition count
    val replayDir = tempDir("graft_spec_cm_replay")
    Tables.events(spark, sf())
      .select(col("event_type").cast("string").as("key"),
        expr("sec div 3600").as("q"), col("sec").cast("long").as("t"),
        col("user_id").cast("string").as("item"),
        col("value").cast("double").as("v"))
      .repartition(8).write.mode("overwrite").parquet(replayDir)
    val stream = spark.readStream
      .schema(st("key" -> StringType, "q" -> LongType, "t" -> LongType,
        "item" -> StringType, "v" -> DoubleType))
      .option("maxFilesPerTrigger", 1)
      .parquet(replayDir)
    val cmRows = graft.operators.SlidingSketches.cmKeyRows(
      stream.select("key", "q", "item"), col("item"),
      col("q") * 3600L, 3600L, key = col("key"))
    val emissions = SlidingMonitor.cmQuantumMonitor(cmRows, 4, 32,
      horizonQuanta = horizon).toDF()
    val reduce = SlidingMonitor.cmAdditiveReduce _
    val handDir = tempDir("graft_spec_cm_hand")
    val q = emissions.writeStream.outputMode("update")
      .queryName("spec_cm_serve_hand")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        EventStreams.foldLog(handDir,
          batch.filter(col("q") >= 0L).select("key", "q", "entries"), id,
          compactEvery = 4)(reduce)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val hand = EventStreams.readLog(spark, handDir)(reduce)
    def cells(df: DataFrame): Seq[String] = rows(
      df.select(col("key"), col("q"), explode(col("entries")).as("e"))
        .select("key", "q", "e.idx", "e.cnt"))
    assert(cells(served).nonEmpty)
    assert(cells(served) == cells(hand))
    assert(rows(served.select("key", "q")) == rows(hand.select("key", "q")))
  }
}
