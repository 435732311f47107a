package graft.perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.{Cli, Evaluate, Monitor, Predict, Train}
import graft.core.Tables
import graft.model.{AlsModel, Recommender}
import graft.sources.ModelIO

/** One timed call into the program: its wall and CPU seconds, whether it
  * threw, the text it returned (checked afterwards by run.py) and, in a
  * traced run, the per-layer counter deltas it caused. */
final case class Op(pass: Int, name: String, wallS: Double, cpuS: Double,
    ok: Boolean, err: String, out: String, layers: Map[String, Double])

/** A workload: how its session is built, the operations of one pass,
  * and (traced runs only) extra layer probes. */
trait Workload {
  def session(cpus: String): SparkSession
  /** Passes a run makes at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** First pass whose times count (0: the cold pass counts too). */
  def firstTimedPass: Int = 0
  def pass(spark: SparkSession, p: Int): Seq[(String, () => String)]
  def probes(spark: SparkSession): Map[String, Double] = Map.empty
  /** Anything else run.py needs to check the outputs. */
  def extra: Map[String, Any] = Map.empty
}

object Timer {
  /** Seconds `f` takes: the median of `reps` runs after one untimed run. */
  def median(reps: Int)(f: => Unit): Double = {
    f
    val xs = Seq.fill(reps) { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.sorted
    xs(xs.size / 2)
  }
}

object Main {
  val Families: Seq[String] = Seq("mg", "cm")
  val Models: Seq[String] = Seq("baseline", "itemcf", "als")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val traced = o("trace") == "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "2")
    val w: Workload = o("workload") match {
      case "recsys" => new Recsys(o("data"), work)
      case "query_mix" => new QueryMix(o("data"), work, o("gates"), o("seed").toLong)
      case "monitor" => new MonitorRuns(o("data"), work)
      case other => sys.error(s"unknown workload $other")
    }
    val spark = w.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val readyMs = System.currentTimeMillis()
    val seconds = o("seconds").toDouble
    val ops = ArrayBuffer.empty[Op]
    val start = System.nanoTime()
    var p = 0
    while (p < w.minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      w.pass(spark, p).foreach { case (name, f) => ops += timed(spark, tracer, p, name, f) }
      p += 1
    }
    val probes = tracer.map(_ => w.probes(spark) ++ Plans.probes(spark)).getOrElse(Map.empty)
    Files.writeString(Paths.get(o("out")), Json.obj(Seq(
      "ready_ms" -> readyMs,
      "passes" -> p,
      "first_timed_pass" -> w.firstTimedPass,
      "probes" -> probes,
      "extra" -> w.extra,
      "ops" -> ops.map(op => Map(
        "pass" -> op.pass, "name" -> op.name, "wall_s" -> op.wallS, "cpu_s" -> op.cpuS,
        "ok" -> op.ok, "err" -> op.err, "out" -> op.out, "layers" -> op.layers)).toSeq)))
    spark.stop()
  }

  private def timed(spark: SparkSession, tracer: Option[Tracer], p: Int, name: String,
      f: () => String): Op = {
    val before = tracer.map(_.snapshot())
    val c0 = Jvm.cpuNanos()
    val t0 = System.nanoTime()
    val (ok, err, out) =
      try (true, "", f())
      catch { case NonFatal(e) => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}", "") }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Jvm.cpuNanos() - c0) / 1e9
    val t1 = System.currentTimeMillis()
    val layers = tracer.map { t =>
      val d = Tracer.delta(t.snapshot(), before.get)
      val trig = t.drainTriggers()
      d ++ Map("driver.idle_s" -> math.max(0.0, wall - d("exec.busy_s"))) ++
        (if (trig.isEmpty) Map.empty else {
          val s = trig.map(_._2).sorted
          val lastEnd = trig.map { case (start, ms) => start + ms }.max
          Map("streaming.trigger_p50_s" -> s(s.size / 2) / 1e3,
            "streaming.replay_s" -> s.sum / 1e3,
            "streaming.panel_read_s" -> math.max(0L, t1 - lastEnd) / 1e3)
        })
    }.getOrElse(Map.empty)
    reset(spark)
    Op(p, name, wall, cpu, ok, err, out, layers)
  }

  /** Drop what an operation can leave in the shared session (cached
    * relations, persisted and checkpointed RDDs, temp views) and collect
    * garbage, so every operation starts from the same state. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    System.gc()
  }

  /** A per-pass copy of the input tables made of hard links: a fresh
    * path, so path-keyed caches (FitCache, file listings) start cold in
    * every pass, as they do for a CLI user, without copying bytes. */
  def linkTables(from: String, to: String): String = {
    val dst = Files.createDirectories(Paths.get(to))
    new File(from).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.createLink(dst.resolve(f.getName), f.toPath)
    }
    to
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Regular files under `path`, recursively. */
  def filesUnder(path: String): Seq[java.nio.file.Path] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Nil
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toList
  }
}

/** Train → Predict → Evaluate for each model through the CLI entry
  * points, on a session from `Cli.session()`. */
final class Recsys(data: String, work: String) extends Workload {
  import Main._

  def session(cpus: String): SparkSession = Cli.session()

  def pass(spark: SparkSession, p: Int): Seq[(String, () => String)] = {
    val dir = s"$work/pass$p"
    val d = linkTables(data, s"$dir/data")
    Models.map(m => s"train.$m" -> (() => { Train.runWith(spark, m, d, s"$dir/art/$m", Map.empty); "" })) ++
      Models.map(m => s"predict.$m" -> (() => { Predict.run(spark, m, d, s"$dir/art/$m", s"$dir/pred/$m"); "" })) ++
      Models.map(m => s"evaluate.$m" -> (() => Evaluate.run(spark, s"$dir/pred/$m", d)))
  }

  /** The model layer's frames to `noop`, and the JSON sink's own cost:
    * each model's prediction frame built as Predict.run builds it, timed
    * to `noop` and through savePredictionsJson. */
  override def probes(spark: SparkSession): Map[String, Double] = {
    val dir = s"$work/probe"
    val d = linkTables(data, s"$dir/data")
    val reviews = Tables.reviews(spark, d)
    val art = s"$work/pass0/art"
    val pairs = Cli.testPairs(spark, d)
    val pw = Timer.median(1)(noop(Recommender.pairWeights(reviews, 2)))
    val topk = Timer.median(1)(noop(Recommender.topNeighborsAgg(
      Recommender.pairWeights(reviews, 2), "cosine", 10)))
    var alsSeed = 1000L
    val als = Timer.median(1) {
      alsSeed += 1
      AlsModel.fit(Recommender.dedupReviews(reviews), AlsModel.Params(seed = alsSeed))
    }
    def frame(m: String): DataFrame = m match {
      case "baseline" =>
        pairs.join(ModelIO.loadTable(spark, s"$art/$m/user_avg"), Seq("user_id"), "left")
          .join(ModelIO.loadTable(spark, s"$art/$m/biz_avg"), Seq("business_id"), "left")
          .select(col("user_id"), col("business_id"),
            round(coalesce((col("user_avg") + col("biz_avg")) / 2.0,
              col("user_avg"), col("biz_avg"), lit(2.5)), 6).as("pred"))
      case "itemcf" =>
        Recommender.itemCfPredict(pairs, ModelIO.loadTable(spark, s"$art/$m/ratings"),
          ModelIO.loadTable(spark, s"$art/$m/neighbors"))
      case _ => AlsModel.predict(ModelIO.loadAls(s"$art/$m/als"), pairs)
    }
    val perModel = Models.map { m =>
      val nop = Timer.median(1)(noop(frame(m)))
      val json = Timer.median(1)(ModelIO.savePredictionsJson(frame(m), s"$dir/pred/$m"))
      (m, nop, json)
    }
    Map("model.pair_weights_s" -> pw,
      "model.topk_neighbors_s" -> topk,
      "model.als_fit_s" -> als,
      "sources.write_s" -> perModel.map { case (_, n, j) => math.max(0.0, j - n) }.sum,
      "sources.written_mb" -> Seq("art", "pred").flatMap(d => filesUnder(s"$work/pass0/$d"))
        .map(Files.size).sum / 1048576.0) ++
      perModel.map { case (m, n, _) => s"model.predict_frame.${m}_s" -> n }
  }
}

/** A committed list of batch gates, each materialized in full: the
  * first pass writes each result to parquet (run.py checks it against
  * the gate's DuckDB oracle), later passes to Spark's `noop` sink. */
final class QueryMix(data: String, work: String, gateFile: String, seed: Long) extends Workload {
  private val gates: Seq[String] = {
    val names = scala.io.Source.fromFile(gateFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    new scala.util.Random(seed).shuffle(names)
  }
  private lazy val fns = graft.SparkEntry.queries

  def session(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .getOrCreate()

  gates.foreach(g => require(fns.contains(g), s"gate $g is not registered"))
  // the cold pass, then at least two warm passes; only the warm ones are timed
  override def minPasses: Int = 3
  override def firstTimedPass: Int = 1

  /** Each gate's DuckDB oracle, for run.py's compare. */
  override def extra: Map[String, Any] =
    Map("oracles" -> gates.map(g => g -> graft.SparkEntry.oracleSql.getOrElse(g, "")).toMap)

  def pass(spark: SparkSession, p: Int): Seq[(String, () => String)] = gates.map { g =>
    g -> (() => {
      val df = fns(g)(spark, data)
      if (p == 0) df.write.mode("overwrite").parquet(s"$work/check/$g") else Main.noop(df)
      ""
    })
  }
}

/** `Monitor.run` for each sketch family on a session built like
  * `Monitor.main`'s; each run's printed panel is kept for the checks. */
final class MonitorRuns(data: String, work: String) extends Workload {
  import Main._

  def session(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .appName("graft-monitor")
      .getOrCreate()
  private def panel(spark: SparkSession, tables: String, serve: String, fam: String): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      Monitor.run(spark, tables, serve, 16, 24L, fam)
    }
    buf.toString("UTF-8")
  }

  def pass(spark: SparkSession, p: Int): Seq[(String, () => String)] =
    Families.map(f => s"monitor.$f" -> (() => panel(spark, data, s"$work/pass$p/$f", f)))

  override def probes(spark: SparkSession): Map[String, Double] =
    Map("streaming.serve_files" ->
      filesUnder(s"$work/pass0").count(_.toString.endsWith(".parquet")).toDouble)
}

/** The hand-written hot loops of graft.plans on fixed synthetic input,
  * outside any gate: nanoseconds per input row, inputs cached first so
  * only the operator is timed. */
object Plans {
  import graft.plans.{FloatVectorDot, MinHashSigs, TopKAgg}

  def probes(spark: SparkSession): Map[String, Double] = {
    def perRow(rows: Long, input: DataFrame)(op: DataFrame => DataFrame): Double = {
      val in = input.cache()
      in.count()
      val s = Timer.median(3)(Main.noop(op(in)))
      in.unpersist(blocking = true)
      s * 1e9 / rows
    }
    val n = 400000L
    val topk = perRow(n, spark.range(0, n).selectExpr("id % 4001 AS k",
      "CAST((id * 7919) % 100003 AS DOUBLE) AS w", "id AS v"))(
      _.groupBy("k").agg(TopKAgg.topK(col("w"), col("v"), 10).as("top")))
    val m = 50000L
    val minhash = perRow(m, spark.range(0, m).select(
      array((0 until 32).map(i => (col("id") * 2654435761L + i * 40503L) % 2147483647L): _*).as("hx")))(
      _.select(MinHashSigs.sigs(col("hx"), 64).as("s")))
    val dot = perRow(m, spark.range(0, m).select(
      array((0 until 64).map(i => ((col("id") + i) % 97).cast("float")): _*).as("a"),
      array((0 until 64).map(i => ((col("id") * 3 + i) % 89).cast("float")): _*).as("b")))(
      _.select(FloatVectorDot.dot(col("a"), col("b")).as("d")))
    Map("plans.topk_agg_ns_per_row" -> topk,
      "plans.minhash_ns_per_row" -> minhash,
      "plans.vector_dot_ns_per_row" -> dot)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
