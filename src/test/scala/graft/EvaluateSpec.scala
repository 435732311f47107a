package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.cli.Evaluate
import graft.core.Tables
import graft.model.Recommender

/** `Evaluate.run` computes its report in one aggregate. On hand-built
  * prediction files with every edge the format admits, it must return
  * exactly what the two-action formulation returns: an inferred-schema
  * JSON read, [[Recommender.rmse]]`.head()`, and the `left_anti`
  * missing-pairs count. */
class EvaluateSpec extends SparkSpec {

  /** The first ground-truth (user_id, business_id) pairs. */
  private lazy val pair: Seq[(Long, Long)] =
    Recommender.dedupReviews(Tables.reviews(spark, sf()))
      .select("user_id", "business_id").orderBy("user_id", "business_id")
      .limit(8).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The two-action report, as `Evaluate.run` computed it before. */
  private def twoAction(predPath: String): String = {
    val raw = spark.read.json(predPath)
    val preds = raw.select(Seq(col("user_id"), col("business_id"), col("stars").as("pred")) ++
      (if (raw.columns.contains("decision")) Seq(col("decision")) else Nil): _*)
    val gt = Recommender.dedupReviews(Tables.reviews(spark, sf()))
    val rmseRow = Recommender.rmse(preds, gt).head()
    val rmse =
      if (rmseRow.isNullAt(0)) "\"N/A\""
      else {
        val v = rmseRow.getDouble(0)
        if (java.lang.Double.isFinite(v)) v.toString else "\"" + v + "\""
      }
    val missing = gt.join(preds, Seq("user_id", "business_id"), "left_anti").count()
    val byDecision =
      if (!preds.columns.contains("decision")) ""
      else Recommender.rmseByDecision(preds, gt).orderBy("decision").collect()
        .map(r => s""""${r.getString(0)}":{"rmse":${r.getDouble(1)},"n":${r.getLong(2)}}""")
        .mkString(""","by_decision":{""", ",", "}")
    s"""{"rmse":$rmse,"missing_pairs":$missing$byDecision}"""
  }

  /** Write `lines` as a one-file prediction directory; return its path. */
  private def predFile(lines: String*): String = {
    val dir = graft.core.TempPaths.registered(Files.createTempDirectory("graft_eval"))
    Files.writeString(dir.resolve("part-00000.json"), lines.mkString("", "\n", "\n"))
    dir.toString
  }

  private def line(u: Long, b: Long, stars: String, decision: String = null): String =
    s"""{"user_id":$u,"business_id":$b""" +
      (if (stars == null) "" else s""","stars":$stars""") +
      (if (decision == null) "" else s""","decision":${graft.core.Json.str(decision)}""") + "}"

  private def check(path: String): String = {
    val got = Evaluate.run(spark, path, sf())
    assert(got == twoAction(path))
    // the report is strict JSON whatever the predictions held
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(got)
    got
  }

  test("plain predictions: matched, missing and extra pairs") {
    val lines = (0 until 5).map { i => val (u, b) = pair(i); line(u, b, s"${1.5 + i * 0.7}") } :+
      line(999999L, 999999L, "4.0")
    val got = check(predFile(lines: _*))
    val gtCount = Recommender.dedupReviews(Tables.reviews(spark, sf())).count()
    assert(got.contains(s""""missing_pairs":${gtCount - 5}"""), got)
    assert(!got.contains("by_decision"))
  }

  test("NaN stars, quoted and bare, are excluded from rmse but not missing") {
    val (u0, b0) = pair(0); val (u1, b1) = pair(1); val (u2, b2) = pair(2)
    check(predFile(line(u0, b0, "\"NaN\""), line(u1, b1, "NaN"), line(u2, b2, "3.25")))
  }

  test("a line without stars counts in rmse's n but not its sum") {
    val (u0, b0) = pair(0); val (u1, b1) = pair(1)
    check(predFile(line(u0, b0, null), line(u1, b1, "2.0")))
  }

  test("duplicate pair lines count once per match") {
    val (u0, b0) = pair(0); val (u1, b1) = pair(1)
    check(predFile(line(u0, b0, "4.0"), line(u0, b0, "1.0"), line(u0, b0, "4.0"),
      line(u1, b1, "2.5")))
  }

  test("zero matched pairs gives N/A") {
    val got = check(predFile(line(999999L, 1L, "3.0"), line(999998L, 2L, "\"NaN\"")))
    assert(got.startsWith("""{"rmse":"N/A","""), got)
    val (u0, b0) = pair(0)
    assert(check(predFile(line(u0, b0, "NaN"))).startsWith("""{"rmse":"N/A","""))
  }

  test("Infinity stars keep the report parseable") {
    val (u0, b0) = pair(0); val (u1, b1) = pair(1)
    check(predFile(line(u0, b0, "\"Infinity\""), line(u1, b1, "3.0")))
    check(predFile(line(u0, b0, "Infinity")))
  }

  test("decision-tagged files get the per-decision breakdown, untagged ones do not") {
    val (u0, b0) = pair(0); val (u1, b1) = pair(1); val (u2, b2) = pair(2)
    val tagged = check(predFile(line(u0, b0, "4.0", "both"), line(u1, b1, "2.0", "cold"),
      line(u2, b2, "3.0"), line(999999L, 1L, "3.0", "user_only")))
    assert(tagged.contains(""""by_decision":{"""), tagged)
    // a tag only on lines that match no ground truth still makes a
    // tagged file (an empty breakdown), as a column-presence test did
    val unmatched = check(predFile(line(999999L, 1L, "3.0", "cold")))
    assert(unmatched.contains(""""by_decision":{}"""), unmatched)
    assert(!check(predFile(line(u0, b0, "4.0"))).contains("by_decision"))
  }

  test("predictions written by Predict evaluate as before") {
    val dir = graft.core.TempPaths.registered(Files.createTempDirectory("graft_eval_cli")).toString
    graft.cli.Train.runWith(spark, "baseline", sf(), s"$dir/model", Map.empty)
    graft.cli.Predict.run(spark, "baseline", sf(), s"$dir/model", s"$dir/preds")
    check(s"$dir/preds")
  }

  test("a decision tag with a quote or a backslash keeps the report strict JSON") {
    val (u0, b0) = pair(0); val (u1, b1) = pair(1)
    val tags = Seq("say \"hi\"", "back\\slash")
    val got = Evaluate.run(spark, predFile(line(u0, b0, "4.0", tags(0)),
      line(u1, b1, "2.0", tags(1))), sf())
    val byDecision = new com.fasterxml.jackson.databind.ObjectMapper().readTree(got)
      .get("by_decision")
    tags.foreach(t => assert(byDecision.get(t).get("n").asLong == 1L, got))
  }
}
