package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Cross, Json, Tables}
import graft.model._
import graft.sources.ModelIO

/** CLI entry points mirroring the reference's train.py / predict.py /
  * scripts/evaluate.py surface (SURVEY.md §3), with the same
  * registry-dispatch shape as models/__init__.py:6-11.
  *
  * Usage:
  *   runMain graft.cli.Train   <model> <sfDir> <artifactDir>
  *   runMain graft.cli.Predict <model> <sfDir> <artifactDir> <outPath>
  *   runMain graft.cli.Evaluate <predPath> <sfDir>
  * where <model> ∈ {baseline, itemcf, usercf, als, hybrid}.
  */
object Cli {
  /** [[graft.SessionHygiene.session]], under the name the benchmark
    * harness compiles against. */
  def session(): SparkSession = graft.SessionHygiene.session()

  def testPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).filter(pmod(col("c_custkey"), lit(19)) === 0)
      .select(col("c_custkey").as("user_id"))
      .crossJoin(Tables.part(spark, dir).filter(pmod(col("p_partkey"), lit(23)) === 0)
        .select(col("p_partkey").as("business_id")))

  val models: Seq[String] = Seq("baseline", "itemcf", "usercf", "content", "als", "hybrid", "hybridmlp")
}

/** S8: config-file driven training — the reference's `train.py
  * --config config.json` surface. The model comes from the config's
  * registry `class`, the artifact dir from its `mdl_file`, and the data
  * dir from its `training_data` unless overridden on the command line.
  * Usage: runMain graft.cli.TrainConfig <configPath> [sfDir] */
object TrainConfig {
  def main(args: Array[String]): Unit = {
    val cfgPath = args(0)
    val spark = Cli.session()
    val cfg = graft.sources.ConfigSource.load(spark, cfgPath)
    val model = graft.sources.ConfigSource.modelKey(cfg)
    val sfDir = args.lift(1).getOrElse(cfg.trainingData)
    Train.runWith(spark, model, sfDir, cfg.mdlFile, cfg.hpParams)
    spark.stop()
  }
}

object Train {
  def main(args: Array[String]): Unit = {
    val Array(model, sfDir, artifactDir) = args.take(3)
    run(model, sfDir, artifactDir, Map.empty)
  }

  /** Train with the reference's hp_params honored (S8): MIN_CORRATED /
    * K_NEIGHS / METRIC.active+min_value (item- and user-CF,
    * config_item_cf.json), TOP_TFIDF (content), RANK / MAX_ITER /
    * REG_PARAM (ALS), GBT_ITER (hybrid). Unknown keys are ignored like
    * the reference's loader; values are JSON scalars rendered as strings
    * (ints may arrive as "3" or "3.0"). */
  def run(model: String, sfDir: String, artifactDir: String, hp: Map[String, String]): Unit = {
    val spark = Cli.session()
    runWith(spark, model, sfDir, artifactDir, hp)
    spark.stop()
  }

  def runWith(spark: SparkSession, model: String, sfDir: String,
      artifactDir: String, hp: Map[String, String]): Unit = {
    def hpInt(k: String, d: Int): Int = hp.get(k).map(_.toDouble.toInt).getOrElse(d)
    def hpDouble(k: String, d: Double): Double = hp.get(k).map(_.toDouble).getOrElse(d)
    // reference metric names (models/item_cf_model.py:167): pears/cos/jacc
    val metricCol = hp.getOrElse("METRIC.active", "cos") match {
      case "pears" | "pearson" => "pearson"
      case "jacc" | "jaccard" => "jaccard"
      case _ => "cosine"
    }
    val reviews = Tables.reviews(spark, sfDir)
    model match {
      case "baseline" =>
        ModelIO.saveTable(Recommender.userAvg(reviews), s"$artifactDir/user_avg")
        ModelIO.saveTable(Recommender.bizAvg(reviews), s"$artifactDir/biz_avg")
      case "itemcf" =>
        // bounded-heap top-k aggregate: shuffles <= k rows per group
        // (hash-equal to the window path, proven by gate q77)
        ModelIO.saveTable(
          Recommender.topNeighborsAgg(
              Recommender.pairWeights(reviews, hpInt("MIN_CORRATED", 2)),
              metricCol, hpInt("K_NEIGHS", 10))
            .select("biz", "neighbor", "w"),
          s"$artifactDir/neighbors")
        ModelIO.saveTable(Recommender.dedupReviews(reviews), s"$artifactDir/ratings")
      case "usercf" =>
        ModelIO.saveTable(
          UserCF.topSimilar(
              UserCF.similarUsers(spark, reviews,
                hpInt("N_MIN_HASHES", 16), hpInt("ROWS_PER_BAND", 2),
                hpDouble("METRIC.min_value", 0.1)),
              hpInt("K_NEIGHS", 5))
            .select("user_id", "neighbor", "w"),
          s"$artifactDir/similar_users")
        ModelIO.saveTable(Recommender.dedupReviews(reviews), s"$artifactDir/ratings")
      case "content" =>
        val tfidf = ContentBased.bizTfidf(Tables.bizText(spark, sfDir)).cache()
        val bizProf = ContentBased.bizProfiles(tfidf,
          ContentBased.vocabulary(tfidf, hpInt("TOP_TFIDF", 50)))
        ModelIO.saveTable(bizProf, s"$artifactDir/biz_prof")
        ModelIO.saveTable(ContentBased.userProfiles(reviews, bizProf), s"$artifactDir/user_prof")
      case "als" =>
        // trained and saved once, straight to the artifact: a FitCache
        // round trip would save, reload and save the same factors again
        ModelIO.saveAls(
          AlsModel.train(Recommender.dedupReviews(reviews),
            AlsModel.Params(rank = hpInt("RANK", 8), maxIter = hpInt("MAX_ITER", 5),
              regParam = hpDouble("REG_PARAM", 0.2))),
          s"$artifactDir/als")
      case "hybrid" =>
        val fitted = HybridModel.fit(reviews, gbtIter = hpInt("GBT_ITER", 5))
        ModelIO.saveAls(fitted.als, s"$artifactDir/als")
        fitted.gbt.write.overwrite().save(s"$artifactDir/gbt")
      case "hybridmlp" =>
        // reference-exact head (scripts/train_hybrid.py:101-110); the
        // distributed GBT 'hybrid' stays the default
        val fitted = HybridModel.fitMlp(reviews,
          mlpParams = MlpRegressor.Params(epochs = hpInt("MLP_EPOCHS", 50)))
        ModelIO.saveAls(fitted.als, s"$artifactDir/als")
        ModelIO.saveMlp(spark, fitted.mlp, s"$artifactDir/mlp")
      case other => sys.error(s"unknown model '$other' (expected ${Cli.models.mkString("/")})")
    }
  }
}

object Predict {
  def main(args: Array[String]): Unit = {
    val Array(model, sfDir, artifactDir, outPath) = args.take(4)
    val spark = Cli.session()
    run(spark, model, sfDir, artifactDir, outPath)
    println(s"[predict] wrote ${ModelIO.loadPredictionsJson(spark, outPath).count()} predictions to $outPath")
    spark.stop()
  }

  def run(spark: SparkSession, model: String, sfDir: String,
      artifactDir: String, outPath: String): Unit = {
    val pairs = Cli.testPairs(spark, sfDir)
    val preds = model match {
      case "baseline" =>
        val ua = ModelIO.loadTable(spark, s"$artifactDir/user_avg")
        val ba = ModelIO.loadTable(spark, s"$artifactDir/biz_avg")
        pairs.join(ua, Seq("user_id"), "left").join(ba, Seq("business_id"), "left")
          .select(col("user_id"), col("business_id"),
            round(coalesce((col("user_avg") + col("biz_avg")) / 2.0,
              col("user_avg"), col("biz_avg"), lit(2.5)), 6).as("pred"))
      case "itemcf" =>
        Recommender.itemCfPredict(pairs,
          ModelIO.loadTable(spark, s"$artifactDir/ratings"),
          ModelIO.loadTable(spark, s"$artifactDir/neighbors"))
      case "usercf" =>
        UserCF.predict(pairs,
          ModelIO.loadTable(spark, s"$artifactDir/ratings"),
          ModelIO.loadTable(spark, s"$artifactDir/similar_users"))
      case "content" =>
        // decision-tagged form: the tag rides into the JSON so Evaluate
        // can print the per-rule breakdown like the reference evaluator
        ContentBased.predictRuled(pairs, Tables.reviews(spark, sfDir),
            ModelIO.loadTable(spark, s"$artifactDir/user_prof"),
            ModelIO.loadTable(spark, s"$artifactDir/biz_prof"),
            ContentBased.DecisionRule.Geometric)
          .select("user_id", "business_id", "pred", "decision")
      case "als" =>
        AlsModel.predict(ModelIO.loadAls(s"$artifactDir/als"), pairs)
      case "hybrid" =>
        val fitted = HybridModel.Fitted(
          ModelIO.loadAls(s"$artifactDir/als"),
          org.apache.spark.ml.regression.GBTRegressionModel.load(s"$artifactDir/gbt"))
        HybridModel.predict(fitted, pairs, Tables.reviews(spark, sfDir))
      case "hybridmlp" =>
        HybridModel.predictMlp(
          HybridModel.FittedMlp(
            ModelIO.loadAls(s"$artifactDir/als"),
            ModelIO.loadMlp(spark, s"$artifactDir/mlp")),
          pairs, Tables.reviews(spark, sfDir))
      case other => sys.error(s"unknown model '$other'")
    }
    ModelIO.savePredictionsJson(preds, outPath)
  }
}

object Evaluate {
  def main(args: Array[String]): Unit = {
    val Array(predPath, sfDir) = args.take(2)
    val spark = Cli.session()
    println(run(spark, predPath, sfDir))
    spark.stop()
  }

  /** Overall RMSE + missing count, plus — when the predictions carry a
    * `decision` tag — the per-decision-rule breakdown, mirroring the
    * reference evaluator's two-part report (scripts/evaluate.py:87-121:
    * overall first, then compute_decision_rmse re-filters per rule).
    *
    * One aggregate over `gt FULL JOIN preds` gives all three overall
    * figures (the ground truth is deduplicated once, not per figure):
    *   - rmse: [[Recommender.rmse]]'s semantics — every (prediction
    *     line, ground-truth pair) match with a non-NaN `pred` counts,
    *     a duplicate line once per match, and a null `pred` counts
    *     without adding to the sum (`!isnan(null)` is true);
    *   - missing pairs: ground-truth pairs with no prediction line;
    *   - tagged: some line, matched or not, carries a `decision`. */
  def run(spark: SparkSession, predPath: String, sfDir: String): String = {
    val preds = ModelIO.loadPredictionsJson(spark, predPath)
    val gt = Recommender.dedupReviews(Tables.reviews(spark, sfDir))
    val inGt = col("in_gt").isNotNull
    val predicted = col("predicted").isNotNull
    val scored = inGt && predicted && !isnan(col("pred"))
    val se = (col("pred") - col("stars")) * (col("pred") - col("stars"))
    val row = gt.withColumn("in_gt", lit(true))
      .join(preds.withColumn("predicted", lit(true)), Seq("user_id", "business_id"), "full")
      .agg(
        Cross.r6(sqrt(Cross.dsum(when(scored, se), 6) / count(when(scored, lit(1))))).as("rmse"),
        count(when(inGt && !predicted, lit(1))).as("missing"),
        count(col("decision")).as("tagged"))
      .head()
    // zero matched pairs → "N/A", the reference evaluator's sentinel
    // (scripts/evaluate.py:100-102), not a crash on a null aggregate;
    // a non-finite rmse (corrupt artifact with Infinity stars) is quoted
    // so the report stays parseable JSON
    val rmse =
      if (row.isNullAt(0)) "\"N/A\""
      else {
        val v = row.getDouble(0)
        if (java.lang.Double.isFinite(v)) v.toString else "\"" + v + "\""
      }
    val byDecision =
      if (row.getLong(2) == 0) ""
      else Recommender.rmseByDecision(preds, gt).orderBy("decision").collect()
        .map { r =>
          // the tag comes from the input file, so it is escaped; an
          // untagged group keeps its "null" key
          val tag = Json.str(String.valueOf(r.getString(0)))
          s"""$tag:{"rmse":${r.getDouble(1)},"n":${r.getLong(2)}}"""
        }
        .mkString(""","by_decision":{""", ",", "}")
    s"""{"rmse":$rmse,"missing_pairs":${row.getLong(1)}$byDecision}"""
  }
}
