package graft.model

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel}
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ALS matrix factorization (R2 — reference scripts/train_als.py:89-99)
  * plus the reference's NaN→2.5 cold-start repair (P9,
  * scripts/train_als.py:109) and RMSE evaluation (R1).
  *
  * The reference assigns contiguous int ids with zipWithIndex + driver
  * dicts (scripts/train_als.py:55-57); the star-schema ids here are
  * already dense integers, so they cast directly — for string ids a
  * StringIndexer slots in front (SURVEY.md §1.5).
  */
object AlsModel {

  final case class Params(
      rank: Int = 8, maxIter: Int = 5, regParam: Double = 0.2, seed: Long = 42L)

  /** (user_id, business_id, stars) as the (user, item, rating) frame
    * MLlib's ALS reads. */
  private def ratings(reviews: DataFrame): DataFrame =
    reviews.select(
      col("user_id").cast("int").as("user"),
      col("business_id").cast("int").as("item"),
      col("stars").cast("float").as("rating"))

  /** Fit on (user_id, business_id, stars), uncached: the live model,
    * for a caller that persists it itself (the `Train` CLI saves it
    * once, straight to its artifact path). */
  def train(reviews: DataFrame, p: Params = Params()): ALSModel =
    new ALS()
      .setRank(p.rank).setMaxIter(p.maxIter).setRegParam(p.regParam)
      .setSeed(p.seed)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("nan")
      .fit(ratings(reviews))

  /** [[train]] routed through the session [[graft.core.FitCache]]:
    * identical (training relation, params) pairs fit once and every
    * caller loads the same persisted artifact — semantics unchanged
    * (the seeded fit is deterministic), duplicate wall-clock gone, and
    * the disk-backed reload survives the between-gate SessionHygiene
    * reset. */
  def fit(reviews: DataFrame, p: Params = Params()): ALSModel =
    graft.core.FitCache.getOrFit(ratings(reviews), p, "als")(train(reviews, p))(
      (m, path) => m.write.overwrite().save(path))(ALSModel.load)

  /** [[predict]] plus the raw cold-start flag: is_cold = the model scored
    * NaN/null BEFORE the 2.5 repair. With coldStartStrategy "nan" that is
    * exactly the unseen-user-or-item pair set, so is_cold is
    * oracle-checkable (NOT IN the training key sets) even though the
    * scores themselves aren't — the production cold-start-rate telemetry
    * column, and the q80/q83 driver-verdict hook. */
  def predictFlagged(model: ALSModel, pairs: DataFrame): DataFrame = {
    val scored = model.transform(pairs.select(
      col("user_id"), col("business_id"),
      col("user_id").cast("int").as("user"),
      col("business_id").cast("int").as("item")))
    scored.select(col("user_id"), col("business_id"),
      when(isnan(col("prediction")) || col("prediction").isNull, 2.5)
        .otherwise(col("prediction").cast("double")).as("pred"),
      (isnan(col("prediction")) || col("prediction").isNull).as("is_cold"))
  }

  /** Predict stars for (user_id, business_id) pairs; NaN/missing → 2.5. */
  def predict(model: ALSModel, pairs: DataFrame): DataFrame =
    predictFlagged(model, pairs).drop("is_cold")

  /** A10: ALS over string-keyed reviews (real Yelp ids are strings).
    * The reference builds contiguous int ids with zipWithIndex into
    * driver-side dicts (scripts/train_als.py:55-57); here StringIndexer
    * fits the id mapping distributed and serializable. handleInvalid
    * "keep" maps ids unseen at fit time to one extra bucket, which ALS
    * (coldStartStrategy "nan") scores NaN → the 2.5 repair — the same
    * cold-start surface as the int-id path. */
  final case class StringIdAls(
      userIndex: StringIndexerModel, itemIndex: StringIndexerModel, model: ALSModel)

  def fitStringIds(reviews: DataFrame, p: Params = Params()): StringIdAls = {
    val ui = new StringIndexer().setInputCol("user_id").setOutputCol("user_idx")
      .setHandleInvalid("keep").fit(reviews)
    val bi = new StringIndexer().setInputCol("business_id").setOutputCol("item_idx")
      .setHandleInvalid("keep").fit(reviews)
    val indexed = bi.transform(ui.transform(reviews)).select(
      col("user_idx").cast("int").as("user_id"),
      col("item_idx").cast("int").as("business_id"),
      col("stars"))
    StringIdAls(ui, bi, fit(indexed, p))
  }

  /** [[predictStringIds]] plus the raw cold-start flag (see
    * [[predictFlagged]]): unseen strings index into the handleInvalid
    * "keep" bucket, which has no ALS factor, so is_cold is again exactly
    * the unseen-user-or-item set — checkable from the raw key sets. */
  def predictStringIdsFlagged(m: StringIdAls, pairs: DataFrame): DataFrame = {
    val idx = m.itemIndex.transform(m.userIndex.transform(pairs))
      .select(col("user_id"), col("business_id"),
        col("user_idx").cast("int").as("user"),
        col("item_idx").cast("int").as("item"))
    m.model.transform(idx)
      .select(col("user_id"), col("business_id"),
        when(isnan(col("prediction")) || col("prediction").isNull, 2.5)
          .otherwise(col("prediction").cast("double")).as("pred"),
        (isnan(col("prediction")) || col("prediction").isNull).as("is_cold"))
  }

  /** Predict for string-keyed (user_id, business_id) pairs; unseen ids
    * and NaN factors fall back to 2.5 like [[predict]]. */
  def predictStringIds(m: StringIdAls, pairs: DataFrame): DataFrame =
    predictStringIdsFlagged(m, pairs).drop("is_cold")

  /** Grid search over rank × regParam on a seeded 90/10 split, best RMSE
    * wins (reference scripts/train_als.py:89-99 greed: rank {40,50} ×
    * reg {0.2,0.4}; sizes are caller-chosen here). */
  def gridSearch(reviews: DataFrame, ranks: Seq[Int], regs: Seq[Double],
      maxIter: Int = 5, seed: Long = 42L): (Params, Double, ALSModel) = {
    val Array(train, holdout) = reviews.randomSplit(Array(0.9, 0.1), seed)
    train.cache(); holdout.cache()
    val results = for (r <- ranks; reg <- regs) yield {
      val p = Params(rank = r, maxIter = maxIter, regParam = reg, seed = seed)
      val m = fit(train, p)
      (p, evaluate(m, holdout), m)
    }
    train.unpersist(); holdout.unpersist()
    results.minBy(_._2)
  }

  /** Deterministic k-fold cross-validated RMSE: folds come from the
    * content-hash bucket of the (user, business) pair — stable across
    * runs, partitionings, and cluster sizes, unlike randomSplit (the R7
    * rationale applied to CV). Returns the mean holdout RMSE over the k
    * (train = k−1 folds, eval = 1 fold) rotations — the model-selection
    * primitive gridSearch's single fixed holdout can't provide when the
    * holdout is small or unlucky. */
  def crossValidate(reviews: DataFrame, p: Params = Params(), k: Int = 5): Double = {
    require(k >= 2, s"need k >= 2 folds, got $k")
    val bucketed = reviews.withColumn("__fold",
      graft.operators.Sampling.hashBucket(
        concat_ws("|", col("user_id").cast("string"), col("business_id").cast("string")), k))
      .cache()
    val rmses = (0 until k).map { f =>
      val m = fit(bucketed.filter(col("__fold") =!= f))
      evaluate(m, bucketed.filter(col("__fold") === f).drop("__fold"))
    }
    bucketed.unpersist()
    rmses.sum / k
  }

  /** RMSE on a labeled holdout via MLlib's RegressionEvaluator (R1). */
  def evaluate(model: ALSModel, labeled: DataFrame): Double = {
    val scored = predict(model, labeled.select("user_id", "business_id"))
      .join(labeled, Seq("user_id", "business_id"))
    new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("stars").setPredictionCol("pred")
      .evaluate(scored)
  }
}
