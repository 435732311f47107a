package graft

import org.apache.spark.sql.functions._

import graft.model.{AlsModel, HybridModel, Recommender, UserCF}
import graft.multimodal.Multimodal
import graft.operators.SimilaritySearch
import graft.core.Tables
import graft.streaming.EventStreams

/** End-to-end checks over the sf0.001 testdata: models train and predict,
  * streaming equals batch, multimodal chunks reassemble, entry smoke. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("SparkEntry contract: entry returns rows, names unique, oracles map to queries") {
    assert(SparkEntry.entry(spark).count() > 0)
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // a fragment moved out of an interpolated string leaves its `$name`
    // or `${...}` in the SQL verbatim
    val leaked = SparkEntry.oracleSql.collect { case (name, sql)
      if sql.contains("${") || "\\$[A-Za-z]".r.findFirstIn(sql).isDefined => name }
    assert(leaked.isEmpty)
  }

  test("ALS trains, predicts in range, and cold-start repairs to 2.5") {
    val r = Recommender.dedupReviews(Tables.reviews(spark, sf()))
    val m = AlsModel.fit(r, AlsModel.Params(rank = 4, maxIter = 3))
    val pairs = Seq((999999L, 999999L)).toDF("user_id", "business_id")
    assert(AlsModel.predict(m, pairs).head().getDouble(2) == 2.5)
    val known = r.limit(20).select("user_id", "business_id")
    val preds = AlsModel.predict(m, known).collect()
    assert(preds.forall(p => !p.getDouble(2).isNaN))
    val rmse = AlsModel.evaluate(m, r.limit(200))
    assert(rmse >= 0.0 && rmse < 5.0)
  }

  test("string-keyed ALS indexes ids, predicts known pairs, repairs unknown ids to 2.5") {
    val r = Recommender.dedupReviews(Tables.reviews(spark, sf()))
      .select(concat(lit("u"), col("user_id")).as("user_id"),
        concat(lit("b"), col("business_id")).as("business_id"), col("stars"))
    val m = AlsModel.fitStringIds(r, AlsModel.Params(rank = 4, maxIter = 3))
    // an id never seen at fit time goes through handleInvalid=keep → NaN → 2.5
    val unknown = Seq(("uZZZ", "bZZZ")).toDF("user_id", "business_id")
    assert(AlsModel.predictStringIds(m, unknown).head().getDouble(2) == 2.5)
    val known = r.limit(20).select("user_id", "business_id")
    val preds = AlsModel.predictStringIds(m, known).collect()
    assert(preds.length == 20)
    assert(preds.forall(p => !p.getDouble(2).isNaN))
    assert(preds.exists(_.getDouble(2) != 2.5))
  }

  test("ALS with randomSplit holdout evaluates (R7) and sparse TF-IDF path runs (R3)") {
    val r = Recommender.dedupReviews(Tables.reviews(spark, sf()))
    val Array(train, holdout) = r.randomSplit(Array(0.9, 0.1), seed = 42L)
    val m = AlsModel.fit(train, AlsModel.Params(rank = 4, maxIter = 3))
    val rmse = AlsModel.evaluate(m, holdout)
    assert(rmse > 0.0 && rmse < 5.0)
    // 3 docs so a df=2 term gets idf = ln(4/3) > 0 (mllib's smoothed log
    // zeroes out df = N terms in a 2-doc corpus).
    val sparse = graft.model.ContentBased.hashingTfidf(
      Seq((1L, "spark engine spark"), (2L, "engine room"), (3L, "cooking pasta"))
        .toDF("business_id", "text"), 64)
    assert(sparse.count() == 3)
    assert(sparse.head().getAs[org.apache.spark.ml.linalg.Vector]("tfidf").numNonzeros > 0)
  }

  test("deterministic k-fold CV: reasonable rmse, identical across runs") {
    val r = Recommender.dedupReviews(Tables.reviews(spark, sf()))
    val p = AlsModel.Params(rank = 4, maxIter = 2)
    val a = AlsModel.crossValidate(r, p, k = 3)
    val b = AlsModel.crossValidate(r, p, k = 3)
    assert(a == b, "hash-bucket folds + seeded ALS must reproduce exactly")
    assert(a > 0.0 && a < 3.0, s"cv rmse out of sane range: $a")
  }

  test("ALS grid search picks the lowest-rmse combination") {
    val r = Recommender.dedupReviews(Tables.reviews(spark, sf()))
    val (best, rmse, model) = AlsModel.gridSearch(r,
      ranks = Seq(2, 4), regs = Seq(0.2, 0.6), maxIter = 2)
    assert(rmse > 0.0 && rmse < 5.0)
    assert(Seq(2, 4).contains(best.rank) && Seq(0.2, 0.6).contains(best.regParam))
    assert(model.rank == best.rank)
  }

  test("csv round-trip and per-decision rmse breakdown") {
    val dir = graft.core.TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_csv")).toString
    val w = Seq((1L, 2L, 0.5)).toDF("biz_a", "biz_b", "w")
    graft.sources.ModelIO.saveCsv(w, s"$dir/w")
    assert(graft.sources.ModelIO.loadCsv(spark, s"$dir/w").count() == 1)
    val preds = Seq((1L, 10L, 4.0, "geometric"), (2L, 11L, 2.0, "cold_start"))
      .toDF("user_id", "business_id", "pred", "decision")
    val gt = Seq((1L, 10L, 5.0), (2L, 11L, 2.0)).toDF("user_id", "business_id", "stars")
    val by = Recommender.rmseByDecision(preds, gt).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(by("geometric") == 1.0 && by("cold_start") == 0.0)
  }

  test("Evaluate CLI emits the per-decision breakdown end-to-end") {
    val dir = graft.core.TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_cli_e2e")).toString
    graft.cli.Train.runWith(spark, "content", sf(), s"$dir/model", Map.empty)
    graft.cli.Predict.run(spark, "content", sf(), s"$dir/model", s"$dir/preds")
    val out = graft.cli.Evaluate.run(spark, s"$dir/preds", sf())
    assert(out.contains("\"rmse\":") && out.contains("\"by_decision\":{"),
      s"expected overall + per-decision report, got: $out")
    // the tagged branches present in the report must come from the rule set
    val tags = "\"(both|user_only|biz_only|cold)\":\\{\"rmse\"".r
      .findAllIn(out).size
    assert(tags >= 1, s"no decision branch in: $out")
  }

  test("hybrid GBT predicts finite values") {
    val reviews = Tables.reviews(spark, sf())
    val fitted = HybridModel.fit(reviews,
      AlsModel.Params(rank = 4, maxIter = 1), gbtIter = 3)
    val pairs = Recommender.dedupReviews(reviews).limit(10)
      .select("user_id", "business_id")
    val preds = HybridModel.predict(fitted, pairs, reviews).collect()
    assert(preds.length == 10 && preds.forall(p => !p.getDouble(2).isNaN))
  }

  test("MLP hybrid head is deterministic and competitive with the GBT head") {
    import graft.model.MlpRegressor
    val reviews = Tables.reviews(spark, sf())
    val alsP = AlsModel.Params(rank = 4, maxIter = 1)
    val gt = Recommender.dedupReviews(reviews).cache()
    val pairs = gt.select("user_id", "business_id")
    def rmseOf(preds: org.apache.spark.sql.DataFrame): Double =
      Recommender.rmse(preds, gt).head().getDouble(0)
    val mlp = HybridModel.fitMlp(reviews, alsP, MlpRegressor.Params(epochs = 30))
    val mlpRmse = rmseOf(HybridModel.predictMlp(mlp, pairs, reviews))
    val gbtRmse = rmseOf(HybridModel.predict(
      HybridModel.fit(reviews, alsP, gbtIter = 3), pairs, reviews))
    assert(!mlpRmse.isNaN && mlpRmse <= gbtRmse * 1.05,
      s"mlp=$mlpRmse should be competitive with gbt=$gbtRmse")
    // seeded determinism: refit produces identical weights
    val mlp2 = HybridModel.fitMlp(reviews, alsP, MlpRegressor.Params(epochs = 30))
    assert(mlp.mlp.w.flatten.flatten.toSeq == mlp2.mlp.w.flatten.flatten.toSeq)
  }

  test("MLP artifact round-trips through the parquet cell format") {
    import graft.model.MlpRegressor
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(64)(Array.fill(3)(rnd.nextDouble() * 4 + 1))
    val ys = xs.map(x => (x(0) + x(1) + x(2)) / 3)
    val m = MlpRegressor.fit(xs, ys, MlpRegressor.Params(epochs = 3))
    val dir = graft.core.TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_mlp")).toString
    graft.sources.ModelIO.saveMlp(spark, m, s"$dir/mlp")
    val m2 = graft.sources.ModelIO.loadMlp(spark, s"$dir/mlp")
    assert(m2.sizes.toSeq == m.sizes.toSeq)
    xs.take(5).foreach(x => assert(m2.forward(x) == m.forward(x)))
  }

  test("user-CF predict returns the 0.0 sentinel for unknown users") {
    val r = Tables.reviews(spark, sf())
    val nb = UserCF.topSimilar(UserCF.similarUsers(spark, r, 16, 2, 0.1), 5)
      .select("user_id", "neighbor", "w")
    val pairs = Seq((999999L, 1L)).toDF("user_id", "business_id")
    assert(UserCF.predict(pairs, r, nb).head().getDouble(2) == 0.0)
  }

  test("streaming tumbling window equals the batch aggregation") {
    val streamed = EventStreams.runToCompletion(spark,
      EventStreams.tumblingHourly(EventStreams.readEvents(spark, sf())),
      "test_stream_out")
    val batch = Tables.events(spark, sf())
      .groupBy(from_unixtime(col("sec") - pmod(col("sec"), lit(3600)), "yyyy-MM-dd HH:00:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val s = streamed.select("hour", "event_type", "n").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val b = batch.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(s == b)
  }

  test("sessionizeBatch matches the window formulation on a skewed user") {
    import spark.implicits._
    import graft.streaming.Sessionize
    import org.apache.spark.sql.expressions.Window
    // one power user with 50k events (10-event bursts separated by >gap)
    // interleaved with small users — the old flatMapGroups shape buffered
    // the whole power-user history in one task; the secondary-sort fold
    // must produce identical sessions with O(1) state
    val big = (0L until 50000L).map(i =>
      Sessionize.Event(7L, i, (i / 10) * 3600 + (i % 10) * 60))
    val small = Seq(Sessionize.Event(1L, 100001L, 50L), Sessionize.Event(1L, 100002L, 2500L),
      Sessionize.Event(2L, 100003L, 9L))
    val events = (big ++ small).toDS()
    val got = Sessionize.sessionizeBatch(events)
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val expected = events.toDF()
      .withColumn("new_session",
        when(col("sec") - lag("sec", 1).over(w) > 1800 || lag("sec", 1).over(w).isNull, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"), min("sec").as("start_sec"), max("sec").as("end_sec"))
    // 5000 bursts for user 7, two >gap-separated events for user 1, one for user 2
    assert(got.count() == 5003)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("streaming sessionizer with flush sentinel equals the batch result") {
    import graft.streaming.Sessionize
    val events = Sessionize.eventsDataset(spark, sf())
    val streamed = Sessionize.sessionizedStreamComplete(spark, events,
        queryName = "sess_complete_test").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val batch = Sessionize.sessionizeBatch(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamed == batch)
  }

  test("streaming dedup state survives a checkpoint restart (exactly-once keys)") {
    import spark.implicits._
    val base = graft.core.TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_chk")).toString
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/chk")
    new java.io.File(in).mkdirs()
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("k STRING, v LONG")
        .parquet(in)
        .dropDuplicates("k")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    // restart from the SAME checkpoint with overlapping keys: recovered
    // state must suppress b/c, admit only d
    Seq(("b", 20L), ("c", 30L), ("d", 4L)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    val keys = spark.read.parquet(out).select("k").collect().map(_.getString(0)).sorted
    assert(keys.toSeq == Seq("a", "b", "c", "d"),
      s"each key exactly once across the restart, got ${keys.mkString(",")}")
  }

  test("MG monitor state survives a checkpoint restart (cube equals uninterrupted run)") {
    import org.apache.spark.sql.DataFrame
    import graft.streaming.SlidingMonitor
    val base = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_monchk")).toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    def runOnce(out: String, chk: String): Unit = {
      val stream = spark.readStream
        .schema("key STRING, q LONG, item STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = SlidingMonitor.mgQuantumMonitor(stream, 4).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", chk)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // file 1: quantum 10 of key a holds two rows, key b one
    Seq(("a", 10L, "x"), ("a", 10L, "y"), ("b", 11L, "s"))
      .toDF("key", "q", "item").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100) // distinct mtime → deterministic file order
    runOnce(s"$base/out_split", s"$base/chk_split")
    // file 2 lands AFTER the stop: quantum (a, 10) must keep counting
    // from the RECOVERED summary (n = 3), not restart at 1; a new
    // quantum and key b's quantum also update across the restart
    Seq(("a", 10L, "x"), ("a", 12L, "z"), ("b", 11L, "t"))
      .toDF("key", "q", "item").coalesce(1).write.mode("append").parquet(in)
    Thread.sleep(1100)
    runOnce(s"$base/out_split", s"$base/chk_split") // same checkpoint → resumes
    // uninterrupted reference over the same two files, fresh checkpoint:
    // maxFilesPerTrigger=1 gives it the SAME trigger boundaries, so the
    // latest-version cube must match exactly — state, versions, and the
    // k-bounded entry sets all recovered from the checkpoint
    runOnce(s"$base/out_ref", s"$base/chk_ref")
    def cube(dir: String): Map[(String, Long), (Long, Set[(String, Long)])] =
      spark.read.parquet(dir)
        .groupBy("key", "q")
        .agg(max_by(struct(col("n"), col("entries")), col("ver")).as("s"))
        .select(col("key"), col("q"), col("s.n").as("n"), col("s.entries").as("entries"))
        .collect()
        .map { r =>
          (r.getString(0), r.getLong(1)) -> (r.getLong(2),
            r.getSeq[org.apache.spark.sql.Row](3)
              .map(e => (e.getString(0), e.getLong(1))).toSet)
        }.toMap
    val split = cube(s"$base/out_split")
    val ref = cube(s"$base/out_ref")
    assert(split == ref, s"recovered cube diverged: $split vs $ref")
    assert(split(("a", 10L))._1 == 3L,
      "the across-restart quantum lost its pre-restart mass")
  }

  test("Monitor CLI topology end-to-end: replay -> monitor -> serving table -> panel") {
    val serveDir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_moncli")).toString + "/serve"
    graft.cli.Monitor.run(spark, sf(), serveDir, k = 8, horizon = 24L)
    val served = graft.streaming.EventStreams.readLog(spark, serveDir) { df =>
      graft.operators.Cdc.compactLatest(df, "kq", "ver")
    }
    assert(served.count() > 0, "serving table empty")
    // k-bound holds on every served quantum; panel read returns ≤3
    // newest quanta per key with talkers sorted by estimate
    import org.apache.spark.sql.functions._
    assert(served.filter(size(col("entries")) > 8).count() == 0)
    val panel = graft.cli.Monitor.panelFrame(served, horizon = 24L).collect()
    assert(panel.nonEmpty)
    val perKey = panel.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perKey.values.forall(_ <= 3))
    panel.foreach { r =>
      val ests = r.getSeq[org.apache.spark.sql.Row](3).map(_.getLong(1))
      assert(ests == ests.sorted.reverse, s"talkers out of order: $ests")
    }
    // the horizon keeps the panel to "now": every panel quantum is
    // within the horizon of the globally newest served quantum
    val qmax = served.agg(max(col("q"))).head.getLong(0)
    assert(panel.forall(r => r.getLong(1) > qmax - 24L),
      "panel served an out-of-horizon quantum")
  }

  test("Monitor CLI gk family: p50/p99 panel from served GK summaries") {
    val serveDir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_moncli_gk")).toString + "/serve"
    graft.cli.Monitor.run(spark, sf(), serveDir, k = 64, horizon = 24L,
      family = "gk")
    val served = graft.streaming.EventStreams.readLog(spark, serveDir) { df =>
      graft.operators.Cdc.compactLatest(df, "kq", "ver")
    }
    assert(served.count() > 0, "gk serving table empty")
    val panel = graft.cli.Monitor.gkPanelFrame(served, horizon = 24L).collect()
    assert(panel.nonEmpty)
    val perKey = panel.groupBy(_.getString(0)).view.mapValues(_.length)
    assert(perKey.values.forall(_ <= 3))
    panel.foreach { r =>
      assert(r.getLong(2) > 0, "empty summary served to the panel")
      assert(r.getDouble(3) <= r.getDouble(4),
        s"p50 ${r.getDouble(3)} above p99 ${r.getDouble(4)}")
    }
  }

  test("Monitor CLI cm family: additive delta serving fold, n exact per quantum") {
    val serveDir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_moncli_cm")).toString + "/serve"
    graft.cli.Monitor.run(spark, sf(), serveDir, k = 16, horizon = 24L,
      family = "cm")
    // read the served cube back with the additive reduce
    import org.apache.spark.sql.functions._
    val served = graft.streaming.EventStreams.readLog(spark, serveDir) { df =>
      df.select(col("key"), col("q"), explode(col("entries")).as("e"))
        .groupBy(col("key"), col("q"), col("e.idx").as("idx"))
        .agg(sum(col("e.cnt")).as("cnt"))
        .groupBy("key", "q")
        .agg(sort_array(collect_list(struct(col("idx"), col("cnt"))))
          .as("entries"))
    }
    assert(served.count() > 0, "cm serving table empty")
    val panel = graft.cli.Monitor.cmPanelFrame(served, horizon = 24L).collect()
    assert(panel.nonEmpty)
    // n per panel quantum is the EXACT in-horizon event count (row-0
    // mass), and the heavy bound can never exceed it
    val exact = graft.core.Tables.events(spark, sf())
      .groupBy(col("event_type").cast("string").as("key"),
        expr("sec div 3600").as("q"))
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    panel.foreach { r =>
      val (key, q, n, heavy) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n == exact((key, q)), s"n drift at ($key, $q)")
      assert(heavy <= n && heavy > 0, s"heavy bound out of range at ($key, $q)")
    }
  }

  test("Monitor CLI dm family: one decayed sketch row per key, talkers ordered") {
    val serveDir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_moncli_dm")).toString + "/serve"
    graft.cli.Monitor.run(spark, sf(), serveDir, k = 8, horizon = 24L,
      family = "dm")
    val served = graft.streaming.EventStreams.readLog(spark, serveDir) { df =>
      graft.operators.Cdc.compactLatest(df, "key", "ver")
    }
    import org.apache.spark.sql.functions._
    val types = graft.core.Tables.events(spark, sf())
      .select(col("event_type").cast("string")).distinct().count()
    assert(served.count() == types, "one served row per key expected")
    assert(served.filter(size(col("entries")) > 8).count() == 0, "k-bound")
    val panel = graft.cli.Monitor.dmPanelFrame(served).collect()
    assert(panel.length == types)
    panel.foreach { r =>
      assert(r.getDouble(2) > 0, "total decayed mass must be positive")
      val ests = r.getSeq[org.apache.spark.sql.Row](3).map(_.getDouble(1))
      assert(ests == ests.sorted.reverse, s"talkers out of order: $ests")
      assert(ests.forall(_ <= r.getDouble(2) + 1e-6),
        "no talker can claim more than the key's total mass")
    }
  }

  test("Monitor CLI refuses to clear a non-serving directory") {
    val dir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_monclear")).toString
    // unrelated content, no manifest marker: must refuse
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "precious.txt"),
      "not a serving table".getBytes)
    intercept[IllegalArgumentException] {
      graft.cli.Monitor.clearServeDir(dir)
    }
    assert(new java.io.File(dir, "precious.txt").exists,
      "refused clear must leave the directory untouched")
    // with the manifest marker present it is a serving table: clears
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "manifest.000000001"), "L x".getBytes)
    graft.cli.Monitor.clearServeDir(dir)
    assert(!new java.io.File(dir).exists)
    // missing and empty targets are fine (fresh-start paths)
    graft.cli.Monitor.clearServeDir(dir)
    val empty = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_monclear_e")).toString
    graft.cli.Monitor.clearServeDir(empty)
    assert(!new java.io.File(empty).exists)
  }

  test("event-time timeout flushes the idle session without a flush sentinel") {
    import graft.streaming.Sessionize
    val in = graft.core.TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_tmo")).toString
    // batch 1: user 7's burst; batch 2 (separate file → separate
    // microbatch): an unrelated user far in the future, advancing the
    // watermark past user 7's gap so the EventTimeTimeout fires
    val batches = Seq(
      Seq((7L, 1L, 1000L), (7L, 2L, 1060L), (7L, 3L, 1120L)), // user 7's burst
      Seq((9L, 4L, 100000L)),  // watermark advance → flushes (7, session 1)
      Seq((7L, 5L, 200000L)),  // user 7 RETURNS: numbering must continue at 2
      Seq((9L, 6L, 500000L)))  // flushes (7, session 2) and (9, session 1)
    batches.foreach { b =>
      b.toDF("user_id", "event_id", "sec").coalesce(1).write.mode("append").parquet(in)
      Thread.sleep(1100) // distinct mtime → deterministic file order
    }
    val stream = spark.readStream
      .schema("user_id LONG, event_id LONG, sec LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .withColumn("etime", col("sec").cast("timestamp"))
      .withWatermark("etime", "10 seconds")
    val q = Sessionize.sessionizedStreamWithTimeout(stream)
      .writeStream.format("memory").queryName("sess_tmo").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sess_tmo").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exact emission set: no duplicates, no spurious flush of open
    // sessions, and the returning user's numbering continues at 2
    assert(got == Map(
      (7L, 1L) -> ((3L, 1000L, 1120L)),
      (7L, 2L) -> ((1L, 200000L, 200000L)),
      (9L, 1L) -> ((1L, 100000L, 100000L))), s"got $got")
  }

  test("stateful sessionization: stream emits the closed subset of batch") {
    import graft.streaming.Sessionize
    val events = Sessionize.eventsDataset(spark, sf())
    val batch = Sessionize.sessionizeBatch(events).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val q = Sessionize.sessionizedStream(
        graft.streaming.EventStreams.readEvents(spark, sf())
          .select(col("user_id"), col("event_id"), col("sec")).as[Sessionize.Event])
      .writeStream.format("memory").queryName("sess_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, v) => assert(batch(k) == v) } // closed ⊆ batch
    // batch-only leftovers are exactly the final open session per user
    val openOnly = batch.keySet -- streamed.keySet
    assert(openOnly.groupBy(_._1).forall { case (_, ks) => ks.size == 1 })
  }

  test("multimodal chunks reassemble to the original payload") {
    val payloads = Multimodal.withPayload(Tables.documents(spark, sf()).limit(20))
    val reassembled = Multimodal.chunk(payloads, 64)
      .groupBy("doc_id")
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk").cast("string").as("c")))),
          s => s.getField("c"))).as("txt"))
    val orig = Tables.documents(spark, sf()).limit(20).select("doc_id", "text")
    val diff = reassembled.join(orig, "doc_id")
      .filter(col("txt") =!= col("text")).count()
    assert(diff == 0)
  }

  test("energySegments merges adjacent silent frames into runs") {
    // payload crafted frame by frame (frameBytes = 4): 'aaaa' frames are
    // quiet (4·(97−128)² = 3844), '  ~~' loud (2·9216 + 2·964) — with
    // threshold 5000: frames 0,1 silent, 2 loud, 3,4 silent, 5 loud
    val text = "aaaa" + "aaaa" + "    " + "aaaa" + "aaaa" + "    "
    val p = Multimodal.withPayload(Seq((1L, text)).toDF("doc_id", "text"))
    val got = Multimodal.energySegments(p, frameBytes = 4, threshold = 5000L)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq === Seq((1L, 0L, 1L, 2L), (2L, 3L, 4L, 2L)))
  }

  test("Curate profile publishes card + overlap artifacts with consistent totals") {
    val out = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_profile_e2e")).toString
    val s = graft.cli.Curate.runProfile(spark, sf(), out)
    val docs = Tables.documents(spark, sf())
    assert(s.nDocs == docs.count(), "card totals must account for every doc")
    assert(s.nSources == docs.select("source").distinct().count())
    assert(s.nTokens > 0)
    val card = spark.read.parquet(s"$out/card")
    assert(card.columns.toSeq == Seq("source", "n_docs", "n_tokens", "mean_ntok",
      "n_langs", "top_lang", "exact_dup_docs", "mean_quality"))
    // synthetic sources share no verbatim text → empty matrix, zero rows
    assert(s.nOverlapPairs == 0)
  }

  test("frame near-dups rank a truncated copy above incidental overlap") {
    import spark.implicits._
    // doc 2 = doc 1 cut mid-way (a re-encode/cut); doc 3 shares two
    // aligned 8-byte frames with doc 1 but diverges elsewhere
    val base = "aaaaaaaabbbbbbbbccccccccddddddddeeeeeeeeffffffff"
    val docs = Seq(
      (1L, base),
      (2L, base.take(40)),
      (3L, base.take(16) + "x" * 32),
      (4L, "z" * 48)
    ).toDF("doc_id", "text")
    val out = Multimodal.frameNearDups(Multimodal.withPayload(docs),
        frameBytes = 8, everyK = 1, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(6)))).toMap
    // frames(1) = 6 distinct 8-byte frames; frames(2) = first 5 → containment 1.0
    assert(out((1L, 2L))._1 == 5L && out((1L, 2L))._2 == 1.0)
    assert(out((1L, 3L))._1 == 2L)
    assert(out((1L, 2L))._2 > out((1L, 3L))._2,
      "the cut copy must outrank incidental frame sharing")
    assert(!out.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "disjoint payloads never pair")
  }

  test("IVF probing all cells is exhaustive: equals brute-force top-k") {
    val emb = Tables.embeddings(spark, sf())
    val q = emb.filter(col("vec_id") < 32)
    val ivf = SimilaritySearch.ivfTopK(q, emb, 3, 4, 64, nProbe = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val brute = SimilaritySearch.bruteForceTopK(q, emb, 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ivf == brute)
  }

  test("IVF multi-probe recovers a planted neighbor single-probe misses") {
    import spark.implicits._
    val dims = 4
    val c0 = graft.functions.HashFns.litVector("centroid-0", dims)
    val c1 = graft.functions.HashFns.litVector("centroid-1", dims)
    def mix(a: Double, b: Double): Array[Float] =
      (0 until dims).map(i => (a * c0(i) + b * c1(i)).toFloat).toArray
    // query: just on the c0 side of the bisector → assigned cell 0;
    // planted best neighbor: just on the c1 side → lives in cell 1
    val query = Seq((1L, mix(0.51, 0.49))).toDF("vec_id", "embedding")
    val corpus = Seq(
      2L -> mix(0.49, 0.51), // planted: cos(q,·) ≈ 1 but in cell 1
      3L -> mix(1.0, 0.0)    // filler in the query's own cell 0
    ).toDF("vec_id", "embedding")
    def top1(nProbe: Int): Long =
      SimilaritySearch.ivfTopK(query, corpus, 1, 2, dims, nProbe)
        .head().getAs[Long]("neighbor_id")
    assert(top1(1) == 3L, "single probe must only see the query's own cell")
    assert(top1(2) == 2L, "second probe must recover the planted neighbor")
  }

  test("k-means IVF training reduces inertia; trained search stays exhaustive-correct") {
    val emb = Tables.embeddings(spark, sf())
    val seed = SimilaritySearch.seedCentroids(4, 64)
    val trained = SimilaritySearch.ivfTrain(emb, 4, 64, iters = 2)
    val i0 = SimilaritySearch.ivfInertia(emb, seed)
    val i2 = SimilaritySearch.ivfInertia(emb, trained)
    assert(i2 < i0, s"Lloyd rounds must not increase inertia: $i0 -> $i2")
    // probing every trained cell is exhaustive: equals brute force
    val q = emb.filter(col("vec_id") < 8)
    val ivf = SimilaritySearch.ivfTopKTrained(q, emb, 3, trained, nProbe = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val brute = SimilaritySearch.bruteForceTopK(q, emb, 3)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(ivf == brute)
  }

  test("quantized kNN recovers most float-kNN neighbors") {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(spark, sf())
    val qc = emb.select(col("vec_id"),
      VectorFns.quantizeI8(col("embedding")).getField("codes").as("codes"))
    val queries = qc.filter(col("vec_id") < 32)
      .select(col("vec_id").as("query_id"), col("codes").as("qa"))
    val scored = broadcast(queries)
      .crossJoin(qc.select(col("vec_id").as("neighbor_id"), col("codes").as("qb")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorFns.cosineI8(col("qa"), col("qb")))
    val quant = SimilaritySearch.rerank(scored, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val float = SimilaritySearch.bruteForceTopK(emb.filter(col("vec_id") < 32), emb, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = float.map { case (q, f) => quant(q).intersect(f).size.toDouble / f.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@5 of int8 sweep vs float = $mean")
  }

  test("brute-force kNN: nearest neighbor of a vector is its duplicate") {
    val base = Tables.embeddings(spark, sf()).limit(5)
    val dup = base.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"), col("label"))
    val corpus = base.unionByName(dup)
    val got = SimilaritySearch.bruteForceTopK(base, corpus, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (q, n) => assert(n == q + 100000L) }
  }

  test("PQ: duplicates share codes; ADC rank-1 distance is the code-optimal one") {
    val base = Tables.embeddings(spark, sf()).limit(6)
    val dup = base.select((col("vec_id") + 100000L).as("vec_id"),
      col("embedding"), col("label"))
    val cb = SimilaritySearch.pqSeedCodebooks(4, 4, 16)
    val enc = SimilaritySearch.pqEncode(base.unionByName(dup), cb, 16)
    val codes = enc.collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getInt).toList).toMap
    // identical vectors encode identically
    codes.keys.filter(_ < 100000L).foreach(id =>
      assert(codes(id) == codes(id + 100000L)))
    // a query's duplicate carries the query's own argmin codes, so its
    // ADC distance is the minimum any code word can achieve — rank 1
    // must sit at exactly that distance
    val all1 = SimilaritySearch.pqAdcTopK(base, enc, cb, 16, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val dupOnly = SimilaritySearch.pqAdcTopK(base,
        enc.filter(col("vec_id") >= 100000L), cb, 16, 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    all1.foreach { case (q, d) => assert(d == dupOnly(q),
      s"query $q: rank-1 adist $d != duplicate's ${dupOnly(q)}") }
  }

  test("Curate pipeline: stage accounting is monotone and budget is respected") {
    val out = graft.core.TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_curate")).toString
    val s = graft.cli.Curate.run(spark, sf(), out, budget = 5000L)
    assert(s.nInput >= s.nAfterExact && s.nAfterExact >= s.nAfterNearDup)
    assert(s.nSelected <= s.nAfterNearDup - s.nDecontaminated)
    assert(s.tokensSelected <= s.tokenBudget)
    assert(s.nSelected > 0, "a 5k-token budget must admit at least one doc")
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() == s.nSelected)
    // the written corpus carries the ORIGINAL text of selected docs only
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val orig = Tables.documents(spark, sf())
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    corpus.select("doc_id", "text").collect()
      .foreach(r => assert(orig(r.getLong(0)) == r.getString(1)))
    val statsJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "stats.json"))
    assert(statsJson.contains(s""""n_selected":${s.nSelected}"""))
    // the training-schedule artifacts cover exactly the selected corpus:
    // the interleave order is a permutation 1..n, and every packed bin
    // fits its 512-token budget with the class invariant
    val order = spark.read.parquet(s"$out/order")
    assert(order.count() == s.nSelected)
    val positions = order.select("position").collect().map(_.getLong(0)).sorted
    assert(positions.toSeq == (1L to s.nSelected).toSeq)
    val packing = spark.read.parquet(s"$out/packing")
    assert(packing.count() == s.nSelected)
    val packed = packing.filter(col("size_class") >= 1L)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(1)))
    packed.groupBy(p => (p._1, p._2)).foreach { case ((cls, bin), rows) =>
      assert(rows.map(_._3).sum <= 512L, s"class $cls bin $bin overflows")
    }
    // the chunks artifact covers every selected doc (token counts below
    // the 256 chunk size → exactly one chunk per doc here) and each
    // chunk is non-empty with the documented start grid
    val chunks = spark.read.parquet(s"$out/chunks")
    assert(chunks.select("doc_id").distinct().count() == s.nSelected)
    chunks.collect().foreach { r =>
      assert(r.getAs[Long]("chunk_len") > 0L)
      assert(r.getAs[Long]("start") == r.getAs[Long]("chunk_idx") * 192L)
    }
    // with the substring-dedup stage on, selection runs over the
    // rewritten text: accounting still monotone, budget still holds,
    // and the corpus text is the kept token stream (tokens only)
    val out2 = graft.core.TempPaths.registered(java.nio.file.Files.createTempDirectory("graft_curate2")).toString
    val s2 = graft.cli.Curate.run(spark, sf(), out2, budget = 5000L,
      spanMinRun = 4)
    assert(s2.tokensSpanRemoved >= 0 && s2.tokensSelected <= s2.tokenBudget)
    assert(s2.nAfterNearDup == s.nAfterNearDup,
      "span dedup rewrites text, it must not change the survivor set")
  }

  test("Curate classifier-quality mode trains in-engine and keeps invariants") {
    val out = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_curate_clf")).toString
    val s = graft.cli.Curate.run(spark, sf(), out, budget = 5000L,
      classifierQuality = true)
    assert(s.nSelected > 0 && s.tokensSelected <= s.tokenBudget)
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.count() == s.nSelected)
    // quality is now a probability: every selected doc scores in [0, 1]
    corpus.select("quality").collect().foreach { r =>
      val q = r.getDouble(0)
      assert(q >= 0.0 && q <= 1.0, s"classifier quality out of range: $q")
    }
    // the scorer changes WHICH docs survive clusters, never HOW MANY:
    // survivor count equals cluster count, invariant across scorers
    val base = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_curate_sw")).toString
    val sw = graft.cli.Curate.run(spark, sf(), base, budget = 5000L)
    assert(s.nAfterNearDup == sw.nAfterNearDup)
  }

  test("Curate paragraph scrub removes corpus-wide boilerplate before selection") {
    // build a corpus dir whose documents carry a shared boilerplate
    // paragraph (the flat testdata has no paragraph structure)
    val dir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_paradocs")).toString
    Tables.documents(spark, sf()).select("doc_id", "text").limit(30)
      .withColumn("text",
        concat(lit("follow us on social media for updates\n\n"), col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_parascrub")).toString
    val s = graft.cli.Curate.run(spark, dir, out, budget = 100000L,
      paraMinDf = 2)
    // every near-dup survivor loses exactly its boilerplate paragraph
    assert(s.parasRemoved == s.nAfterNearDup,
      s"expected one scrubbed paragraph per survivor, got ${s.parasRemoved} of ${s.nAfterNearDup}")
    val corpus = spark.read.parquet(s"$out/corpus").select("text").collect()
    assert(corpus.nonEmpty)
    corpus.foreach(r => assert(!r.getString(0).contains("follow us"),
      "boilerplate must survive in no document"))
    val statsJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "stats.json"))
    assert(statsJson.contains(s""""paras_removed":${s.parasRemoved}"""))
  }

  test("Curate blocklist stage drops offending docs before any dedup work") {
    // plant a banned phrase into a known slice of the corpus
    val dir = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_blockdocs")).toString
    Tables.documents(spark, sf()).select("doc_id", "text").limit(30)
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(lit("Buy Cheap-Pills now! "), col("text")))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_blockout")).toString
    val s = graft.cli.Curate.run(spark, dir, out, budget = 100000L,
      blockPhrases = Seq("cheap pills"))
    assert(s.nBlocked == 6L, s"expected 6 blocked docs, got ${s.nBlocked}")
    assert(s.nAfterExact <= s.nInput - s.nBlocked)
    val ids = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(_ % 5 != 0),
      "no blocked doc may reach the curated corpus")
    val statsJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "stats.json"))
    assert(statsJson.contains(""""n_blocked":6"""))
    // an absent blocklist is a true no-op: identical accounting
    val out2 = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_blockoff")).toString
    val s2 = graft.cli.Curate.run(spark, dir, out2, budget = 100000L)
    assert(s2.nBlocked == 0L && s2.nInput == s.nInput)
  }

  test("Curate mix mode realizes temperature budgets per source with calibrated prefixes") {
    import graft.operators.Curation
    val out = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_mix")).toString
    val s = graft.cli.Curate.runMix(spark, sf(), out, totalBudget = 5000L, tau = 0.5)
    assert(s.nSelected > 0 && s.tokensSelected <= s.totalBudget)
    val mix = spark.read.parquet(s"$out/mixture").collect()
    assert(mix.length == s.nSources && s.nSources > 1)
    // every source respects its own temperature budget
    mix.foreach { r =>
      val (src, budget, selTok) = (r.getAs[String]("source"),
        r.getAs[Long]("budget_tokens"), r.getAs[Long]("sel_tokens"))
      assert(selTok <= budget, s"source $src: $selTok tokens > budget $budget")
    }
    // the selected set per source is EXACTLY the greedy (qnorm DESC, id)
    // prefix under that source's budget — recomputed independently here
    val docs = Tables.documents(spark, sf()).select("doc_id", "source", "text")
    val scored = docs.withColumn("tk", graft.functions.TextFns.tokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("ntok"),
        when(size(col("tk")) > 0,
          graft.core.Cross.r6(graft.functions.TextFns
            .lexiconHits(col("tk"), graft.functions.TextFns.stopwords).cast("double") /
            size(col("tk")).cast("double")))
          .otherwise(0.0).as("quality"))
    val cal = Curation.quantileNormalizeByKey(scored, col("source"),
        col("doc_id"), col("quality"))
      .select(col("key"), col("id"), col("qnorm")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val ntok = scored.select("doc_id", "ntok").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val budgets = mix.map(r =>
      r.getAs[String]("source") -> r.getAs[Long]("budget_tokens")).toMap
    val expected = cal.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy { case (_, id, q) => (-q, id) }.toSeq.flatMap { case (_, id, _) =>
        val t = ntok(id)
        if (cum + t <= budgets(src)) { cum += t; Some(id) } else { cum += t; None }
      }
    }.toSet
    val got = spark.read.parquet(s"$out/corpus")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"mix selection diverged: extra=${got -- expected} missing=${expected -- got}")
  }

  test("Curate ingest mode admits only novel docs and updates stats incrementally") {
    import spark.implicits._
    val base = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_ing_base")).toString
    val s = graft.cli.Curate.run(spark, sf(), base, budget = 5000L)
    // incoming batch: an exact replay of a corpus doc, a near-dup of it
    // (one appended token — shingle sets nearly identical, so LSH bands
    // collide), and two genuinely novel docs
    val donor = spark.read.parquet(s"$base/corpus")
      .orderBy(col("ntok").desc).select("text").head().getString(0)
    val incoming = Seq(
      (9000001L, donor),
      (9000002L, donor + " zzz"),
      (9000003L, "entirely unrelated columnar ingestion probe fixture text one"),
      (9000004L, "another fully novel streaming admission fixture document two")
    ).toDF("doc_id", "text")
    val in = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_ing_in")).toString
    incoming.coalesce(1).write.mode("overwrite").parquet(s"$in/documents.parquet")
    val out = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_ing_out")).toString
    val st = graft.cli.Curate.runIngest(spark, in, base, out)
    assert(st.nIncoming == 4, st)
    assert(st.nExactDup == 1, st)
    assert(st.nNearDup == 1, st)
    assert(st.nAdmitted == 2, st)
    val admitted = spark.read.parquet(s"$out/admitted")
    assert(admitted.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(9000003L, 9000004L))
    // incremental merge must equal base corpus + admitted, exactly —
    // that equivalence is the partial-state contract (q123/q127)
    val baseTok = spark.read.parquet(s"$base/corpus")
      .agg(sum("ntok")).head().getLong(0)
    val admTok = admitted.agg(sum("ntok")).head().getLong(0)
    assert(st.totalDocs == s.nSelected + 2, st)
    assert(st.totalTokens == baseTok + admTok, st)
    val json = java.nio.file.Files.readString(
      java.nio.file.Paths.get(out, "ingest_stats.json"))
    assert(json.contains(s""""n_admitted":2"""), json)
    // the probe-state artifacts (band index + digests + partials) were
    // updated with the admitted docs — replaying the SAME batch against
    // them must now reject everything, without ever reading the corpus
    // text (the artifacts ARE the probe state)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "band_index")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(out, "digests")))
    val out2 = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_ing_out2")).toString
    val st2 = graft.cli.Curate.runIngest(spark, in, out, out2)
    assert(st2.nIncoming == 4, st2)
    assert(st2.nAdmitted == 0, s"replay must admit nothing: $st2")
    assert(st2.nExactDup == 3, s"previously admitted docs are now exact dups: $st2")
    assert(st2.totalDocs == st.totalDocs && st2.totalTokens == st.totalTokens,
      s"stats must be unchanged by an all-rejected batch: $st2 vs $st")
  }

  test("ivfMaintain law: incremental delta fold equals full re-assignment") {
    val emb = Tables.embeddings(spark, sf())
    val base = SimilaritySearch.ivfAssign(emb, 4, 64)
    val upserts = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("label"), reverse(col("embedding")).as("embedding"))
    val deletes = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 9 === 0)
      .select("vec_id")
    val maintained = SimilaritySearch.ivfMaintain(base, upserts, deletes, 4, 64)
      .collect().map(_.toSeq).toSet
    // ground truth: apply the delta to the snapshot, re-assign everything
    val applied = emb.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 9 =!= 0)
      .select("vec_id", "label", "embedding")
      .unionByName(upserts)
    val full = SimilaritySearch.ivfAssign(applied, 4, 64)
      .collect().map(_.toSeq).toSet
    assert(maintained == full)
    // deletes really left; upserts really re-assigned from the new vector
    assert(!maintained.exists(r => r.head.asInstanceOf[Long] % 5 != 0 &&
      r.head.asInstanceOf[Long] % 9 == 0))
  }

  test("RAG pipeline composes: chunk -> hashed embedding -> MMR (q264)") {
    // the e2e gate body over sf0.001: chunking, embedding, and MMR must
    // compose into exactly k diverse picks with the query chunk first
    val out = graft.queries.EmbeddingQueries.q264.fn(spark, sf()).collect()
    assert(out.length == 5, s"expected 5 MMR picks, got ${out.length}")
    assert(out.map(_.getLong(0)).toSeq == (1L to 5L), "ranks must be 1..5")
    val ids = out.map(_.getLong(1))
    assert(ids.distinct.length == 5, "picks must be distinct chunks")
    // round 1 maximizes relevance alone; the query chunk itself is in
    // the pool with rel = cos(q, q) = 1 and the lowest cid, so it wins
    val chunks = graft.operators.Packing.chunkSliding(
      Tables.documents(spark, sf()).filter(col("doc_id") % 11 === 0),
      col("doc_id"), graft.functions.TextFns.tokens(col("text")), 24, 16)
    val minCid = chunks.select(min(col("doc_id") * 1000000L + col("chunk_idx")))
      .head().getLong(0)
    assert(ids.head == minCid, s"rank-1 pick ${ids.head} must be the query chunk $minCid")
    assert(math.abs(out.head.getDouble(2) - 1.0) < 1e-6, "query chunk rel must be 1")
    // later rounds trade relevance for diversity: max_sim is populated
    // and every pick's mmr is no greater than the previous pick's
    val mmrs = out.map(_.getDouble(4))
    assert(mmrs.sliding(2).forall(w => w(0) >= w(1) - 1e-9), "mmr must be non-increasing")
  }

  test("ingest pipeline composes and is batching-independent (q290 core)") {
    // the composed topology (exactly-once dedup -> upsert + KS counts +
    // KMV hour sketches) must produce identical serving tables whether
    // the doubled stream arrives in one batch or file-at-a-time — the
    // associative-merge law the q290 gate relies on
    val ev = Tables.events(spark, sf())
      .select("event_id", "user_id", "event_type", "sec", "value")
    val doubled = ev.unionByName(ev)
    def run(tag: String, oneFilePerTrigger: Boolean) = {
      val replay = java.nio.file.Files.createTempDirectory(s"graft_ing_$tag")
      graft.core.TempPaths.register(replay)
      doubled.repartition(5).write.mode("overwrite").parquet(replay.toString)
      val rdr = spark.readStream.schema(doubled.schema)
      val stream = (if (oneFilePerTrigger) rdr.option("maxFilesPerTrigger", 1) else rdr)
        .parquet(replay.toString)
        .withColumn("etime", col("sec").cast("timestamp"))
      val (u, k, h) = EventStreams.runIngestPipeline(spark,
        EventStreams.exactlyOnceByEventId(stream, extraCols = Seq("value")),
        s"ing_$tag")
      (u.collect().map(_.toSeq).toSet, k.collect().map(_.toSeq).toSet,
        h.collect().map(_.toSeq).toSet)
    }
    val (u1, k1, h1) = run("batched", oneFilePerTrigger = true)
    val (u2, k2, h2) = run("oneshot", oneFilePerTrigger = false)
    assert(u1 == u2, "upsert table must be batching-independent")
    assert(k1 == k2, "KS count state must be batching-independent")
    assert(h1 == h2, "KMV hour sketches must be batching-independent")
    // and the dedup really collapsed the doubled bus: exact event count
    assert(k1.toSeq.map(r => r(2).asInstanceOf[Long] + r(3).asInstanceOf[Long]).sum
      == ev.count())
  }

  test("log fold manifest: a reader resolved before compaction survives it") {
    import graft.operators.Cdc
    val path = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_logman")).toString
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      Cdc.compactLatest(df, "k", "ver")
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i % 7, i.toLong, s"p$i")).toDF("k", "ver", "payload")
    // three deltas below the compactEvery=4 threshold
    (0 until 3).foreach(b => EventStreams.foldLog(path, slice(b * 10, b * 10 + 10), b, 4)(reduce))
    // a reader resolves the manifest NOW (pre-compaction live set)
    val before = EventStreams.readLog(spark, path)(reduce)
    val beforeRows = before.count() // force file resolution
    assert(beforeRows == 7L)
    // the 4th delta triggers compaction: consumed deltas become garbage
    // but stay on disk (one-generation grace)
    EventStreams.foldLog(path, slice(30, 40), 3, 4)(reduce)
    val m1 = EventStreams.readManifest(path)
    assert(m1.live.size == 1 && m1.live.head.startsWith("base_"), m1)
    assert(m1.garbage.toSet ==
      Set("delta_000000000", "delta_000000001", "delta_000000002", "delta_000000003"))
    m1.garbage.foreach(n => assert(new java.io.File(path, n).exists,
      s"grace generation $n deleted too early"))
    // the pre-compaction reader still materializes against its snapshot
    assert(before.count() == 7L, "pre-compaction reader torn by compaction")
    // post-compaction reader sees the fully folded table
    val after = EventStreams.readLog(spark, path)(reduce)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after == (0 until 40).groupBy(_ % 7).map { case (k, g) => k -> g.max.toLong })
    // the NEXT compaction sweeps the grace generation
    (4 until 8).foreach(b => EventStreams.foldLog(path, slice(40 + b * 10, 50 + b * 10), b, 4)(reduce))
    val m2 = EventStreams.readManifest(path)
    assert(m2.live.size == 1 && m2.live.head.startsWith("base_") &&
      m2.live != m1.live, m2)
    Seq("delta_000000000", "delta_000000001", "delta_000000002", "delta_000000003")
      .foreach(n => assert(!new java.io.File(path, n).exists, s"garbage $n not swept"))
    // redelivery idempotence: rewriting an existing delta adds no
    // duplicate manifest entry
    EventStreams.foldLog(path, slice(0, 5), 8, 99)(reduce)
    EventStreams.foldLog(path, slice(0, 5), 8, 99)(reduce)
    val m3 = EventStreams.readManifest(path)
    assert(m3.live.count(_ == "delta_000000008") == 1)
  }

  test("pinned read: folds mixed state and retries past a double-compaction sweep") {
    import graft.operators.Cdc
    val path = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_logpinned")).toString
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      Cdc.compactLatest(df, "k", "ver")
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i % 7, i.toLong, s"p$i")).toDF("k", "ver", "payload")
    (0 until 3).foreach(b =>
      EventStreams.foldLog(path, slice(b * 10, b * 10 + 10), b, 99)(reduce))
    val folded = (0 until 30).groupBy(_ % 7).map { case (k, g) => k -> g.max.toLong }
    // mixed state (3 deltas, no base): the lazy pinned read folds to the
    // same table readLog materializes
    assert(EventStreams.readLogPinned(spark, path)(reduce)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == folded)
    // force the retry: the FIRST use attempt runs TWO compactions before
    // collecting — the second sweeps the first's grace, so the pinned
    // delta files vanish under the read; withPinnedRead must fail loudly
    // on the swept scan and re-resolve the (necessarily newer) manifest
    var attempts = 0
    val got = EventStreams.withPinnedRead(spark, path)(reduce) { df =>
      attempts += 1
      if (attempts == 1) {
        EventStreams.compactLog(spark, path)(reduce)
        EventStreams.compactLog(spark, path)(reduce)
      }
      df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    assert(got == folded, "retried pinned read diverged from the folded table")
    assert(attempts == 2, s"expected exactly one swept-read retry, got $attempts")
  }

  test("log fold: the byte threshold compacts when the count threshold would not") {
    import graft.operators.Cdc
    val path = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_logbytes")).toString
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      Cdc.compactLatest(df, "k", "ver")
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i % 7, i.toLong, s"p$i")).toDF("k", "ver", "payload")
    // count threshold far away (99); byte threshold sized so the FIRST
    // delta stays under it and the second crosses it — first read the
    // first delta's recorded stat off the manifest, then set the
    // threshold between 1x and 2x of it
    EventStreams.foldLog(path, slice(0, 10), 0, 99)(reduce)
    val m0 = EventStreams.readManifest(path)
    val d0 = m0.sizes.getOrElse("delta_000000000", 0L)
    assert(m0.live == Seq("delta_000000000") && d0 > 0L,
      s"first delta must stay uncompacted with a recorded size: $m0")
    val threshold = d0 + 1L
    EventStreams.foldLog(path, slice(10, 20), 1, 99, threshold)(reduce)
    val m1 = EventStreams.readManifest(path)
    assert(m1.live.size == 1 && m1.live.head.startsWith("base_"),
      s"accumulated delta bytes (~${2 * d0}) crossed $threshold but no " +
        s"compaction ran: $m1")
    assert(m1.consumed == Seq((0L, 1L)), m1)
    // the base carries its own size stat, so the NEXT byte decision
    // (which ignores bases) still reads only delta stats
    assert(m1.sizes.keySet == m1.live.toSet && m1.sizes(m1.live.head) > 0L, m1)
    // folded content is the same as an eager fold
    val after = EventStreams.readLog(spark, path)(reduce)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after == (0 until 20).groupBy(_ % 7).map { case (k, g) => k -> g.max.toLong })
  }

  test("log fold: a redelivered already-compacted batchId stays a no-op") {
    import graft.operators.Cdc
    val path = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_logredeliver")).toString
    // additive reduce makes a double-fold VISIBLE (latest-wins would
    // mask it): any re-added delta doubles its keys' counts
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("k").agg(org.apache.spark.sql.functions.sum("c").as("c"))
    def slice(b: Int) = (0 until 10).map(i => (i % 5, 1L)).toDF("k", "c")
    // four deltas trigger a compaction that consumes batchIds 0..3
    (0 until 4).foreach(b => EventStreams.foldLog(path, slice(b), b, 4)(reduce))
    val m1 = EventStreams.readManifest(path)
    assert(m1.live.size == 1 && m1.live.head.startsWith("base_"), m1)
    assert(m1.consumed == Seq((0L, 3L)), m1)
    val before = EventStreams.readLog(spark, path)(reduce)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(before == (0 until 5).map(_ -> 8L).toMap)
    // redeliver batchId 2 (its delta dir is garbage-on-grace): must not
    // re-enter live, must not rewrite the swept-soon dir, must not
    // double its rows
    EventStreams.foldLog(path, slice(2), 2, 99)(reduce)
    val m2 = EventStreams.readManifest(path)
    assert(!m2.live.contains("delta_000000002"),
      "consumed batchId re-entered the live set")
    assert(!(m2.live.toSet & m2.garbage.toSet).exists(_ => true),
      "a name is both live and garbage")
    val after = EventStreams.readLog(spark, path)(reduce)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(after == before, "redelivered compacted batch folded twice")
    // and a redelivery of a still-LIVE delta skips the rewrite entirely
    EventStreams.foldLog(path, slice(9), 9, 99)(reduce)
    val t0 = new java.io.File(path, "delta_000000009").lastModified()
    Thread.sleep(5)
    EventStreams.foldLog(path, slice(9), 9, 99)(reduce)
    assert(new java.io.File(path, "delta_000000009").lastModified() == t0,
      "already-live delta dir rewritten under readers")
  }

  test("log fold: a reader stalled across two compactions still answers") {
    import graft.operators.Cdc
    val path = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_logstall")).toString
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      Cdc.compactLatest(df, "k", "ver")
    def slice(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i % 7, i.toLong, s"p$i")).toDF("k", "ver", "payload")
    (0 until 3).foreach(b => EventStreams.foldLog(path, slice(b * 10, b * 10 + 10), b, 4)(reduce))
    // the stall seam: after readLog resolves the manifest, TWO
    // compaction cycles run (the second sweeps the first's grace
    // garbage — the resolved files are physically gone when the read
    // finally happens); the retry must re-resolve and answer
    var stalled = false
    val got = EventStreams.readLog(spark, path, beforeRead = () => {
      if (!stalled) {
        stalled = true
        (3 until 11).foreach(b =>
          EventStreams.foldLog(path, slice(b * 10, b * 10 + 10), b, 4)(reduce))
        // the pre-stall live set must be physically gone
        Seq("delta_000000000", "delta_000000001", "delta_000000002").foreach(n =>
          assert(!new java.io.File(path, n).exists, s"$n survived two sweeps"))
      }
    })(reduce).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == (0 until 110).groupBy(_ % 7).map { case (k, g) => k -> g.max.toLong },
      "stalled reader answered wrong after retry")
  }

  test("log fold CAS: concurrent writers and compactions lose nothing") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import graft.operators.Cdc
    val path = graft.core.TempPaths.registered(
      java.nio.file.Files.createTempDirectory("graft_logcas")).toString
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      Cdc.compactLatest(df, "k", "ver")
    // 4 writers x 6 batches each, disjoint batchId spaces, overlapping
    // keys (latest-wins must resolve across writers), aggressive
    // compactEvery so fold/compact commits race constantly
    val writers = 4
    val batches = 6
    def rowsOf(w: Int, b: Int) = (0 until 25)
      .map(i => (i % 13, (w * 1000 + b * 10).toLong + i % 3, s"w$w-b$b-$i"))
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try (0 until batches).foreach { b =>
            EventStreams.foldLog(path,
              rowsOf(w, b).toDF("k", "ver", "payload"),
              (w * 100 + b).toLong, compactEvery = 3)(reduce)
            // at-least-once source: every batch REDELIVERS once, racing
            // other writers' appends and compactions — whether the
            // first delivery is still live or already compacted, the
            // redelivery must be a no-op
            EventStreams.foldLog(path,
              rowsOf(w, b).toDF("k", "ver", "payload"),
              (w * 100 + b).toLong, compactEvery = 3)(reduce)
          } catch { case t: Throwable => errs.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(300, TimeUnit.SECONDS), "writers hung")
    assert(errs.isEmpty, s"writer failures: ${errs.toArray.mkString("; ")}")
    // no delta committed by any writer was lost: the folded table equals
    // the single-pass latest-wins over the union of every batch
    val union = (0 until writers).flatMap(w =>
      (0 until batches).flatMap(b => rowsOf(w, b)))
    val expected = union.groupBy(_._1).map { case (k, g) =>
      k -> g.maxBy(r => (r._2, r._3))._3
    }
    val got = EventStreams.readLog(spark, path)(reduce)
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(got == expected, "concurrent fold lost or duplicated a delta")
    // the manifest chain is a single total order: every generation from
    // 1 to latest was committed exactly once (CAS allows no gaps)
    val (latest, m) = EventStreams.readManifestGen(path)
    assert(latest >= writers.toLong * batches, s"suspiciously few commits: $latest")
    (1L to latest).foreach { g =>
      assert(new java.io.File(path, f"manifest.$g%09d").exists, s"gap at gen $g")
    }
    // physical dirs referenced by the final manifest all exist
    m.live.foreach(n => assert(new java.io.File(path, n).exists, s"missing $n"))
  }

  test("adaptive stream shuffle sizing derives from replay bytes, clamps, restores") {
    val dir = java.nio.file.Files.createTempDirectory("graft_adapt_stream")
    graft.core.TempPaths.register(dir)
    val df = spark.range(0, 1000).selectExpr("id AS user_id", "id AS sec")
    df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    def stream = spark.readStream.schema(df.schema).parquet(dir.toString).toDF()
    // a few KB of replay → bytes found, derived count 1 (< session's 4)
    assert(EventStreams.streamInputBytes(stream).exists(_ > 0L))
    assert(EventStreams.streamShufflePartitions(spark, stream).contains(1))
    // pathGlobFilter (the single-file-table shape) sizes just the match
    val glob = spark.readStream.schema(
        spark.read.parquet(s"${sf()}/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf()).toDF()
    val globBytes = EventStreams.streamInputBytes(glob)
    assert(globBytes.exists(b =>
      b > 0L && b < new java.io.File(sf()).listFiles.map(_.length).sum))
    // batch plan (no streaming file source) → None → conf untouched
    assert(EventStreams.streamInputBytes(df).isEmpty)
    // the override covers exactly the body and restores even on throw
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    EventStreams.withStreamShuffleConf(spark, stream) {
      assert(spark.conf.get(key) == "1")
    }
    assert(spark.conf.get(key) == before)
    intercept[RuntimeException] {
      EventStreams.withStreamShuffleConf(spark, stream) {
        assert(spark.conf.get(key) == "1"); throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) == before)
  }
}
