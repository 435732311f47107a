package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Cross

/** Relational recommender core: rating averages, cold-start baseline,
  * item-item collaborative filtering, and RMSE evaluation.
  *
  * Input contract: a `reviews` DataFrame with columns
  * `(user_id, business_id, stars: double)` — the reference's
  * `train_review.json` surface (reference README.md:38).
  *
  * Everything is expressed as DataFrame algebra — no collect, no driver
  * maps (the reference's collectAsMap-in-closure pattern, SURVEY.md §2.4
  * A9, is replaced by broadcast/shuffle joins chosen by Catalyst):
  *  - averages are algebraic aggregates (map-side partial agg);
  *  - pair generation self-joins on user_id so only users' own baskets
  *    multiply (never a global cartesian), with `a < b` halving the
  *    triangle (reference models/item_cf_model.py:78, P7);
  *  - per-pair weights are single-pass grouped aggregates over the joined
  *    co-ratings (Pearson via exact decimal moments);
  *  - scoring is a join of the test pairs against top-k neighbor lists
  *    (per-group window top-k, T2) and the user's own ratings.
  */
object Recommender {

  /** One rating per (user, business): mean of repeated interactions,
    * rounded so downstream joins see stable doubles. The CF operators all
    * consume this canonical form. */
  def dedupReviews(reviews: DataFrame): DataFrame =
    reviews.groupBy("user_id", "business_id")
      .agg(Cross.r6(Cross.davg(col("stars"), 2)).as("stars"))

  /** Per-user mean stars (A1 — reference models/content_based_model.py:354-378). */
  def userAvg(reviews: DataFrame): DataFrame =
    reviews.groupBy("user_id").agg(Cross.davg(col("stars"), 2).as("user_avg"))

  /** Per-business mean stars. */
  def bizAvg(reviews: DataFrame): DataFrame =
    reviews.groupBy("business_id").agg(Cross.davg(col("stars"), 2).as("biz_avg"))

  /** Cold-start cascade baseline (reference models/content_based_model.py:
    * 509-530 degenerate form): both avgs → their mean; one → it; none → 2.5. */
  def baselinePredict(pairs: DataFrame, reviews: DataFrame): DataFrame =
    pairs
      .join(userAvg(reviews), Seq("user_id"), "left")
      .join(bizAvg(reviews), Seq("business_id"), "left")
      .select(col("user_id"), col("business_id"),
        Cross.r6(coalesce(
          (col("user_avg") + col("biz_avg")) / 2.0,
          col("user_avg"), col("biz_avg"), lit(2.5))).as("pred"))

  /** Largest per-group term count for which the scaled-int64 moment sums
    * (each term ≤ (5·10^6)² = 2.5·10^13) provably stay inside int64:
    * 2^63 / 2.5·10^13 ≈ 3.68·10^5. Beyond this the non-ANSI long sum would
    * wrap silently; the weight operators raise instead of emitting garbage. */
  val MaxMomentTerms = 350000

  /** Fail loudly (executor-side, codegen'd) if a moment-sum group exceeds
    * the int64-safe bound — returns `v` unchanged otherwise. */
  private def momentSafe(n: Column, v: Column): Column =
    when(n > MaxMomentTerms, raise_error(
      lit(s"graft: moment group exceeds $MaxMomentTerms ratings — " +
        "int64 moment sums would overflow; cap baskets (maxBasket) or " +
        "pre-filter frequent raters")))
      .otherwise(v)

  /** Skew guard for the user self-join (the quadratic step of the CF
    * chain): cap every user's basket at `maxBasket` ratings, keeping a
    * deterministic prefix (lowest business ids). One power user with 100k
    * ratings would otherwise contribute 5·10^9 pairs inside a single join
    * key — AQE splits oversized partitions but cannot split the per-key
    * quadratic blowup itself. `maxBasket <= 0` disables the cap. The CF
    * gates run capped AND mirror the identical cap in their oracles
    * (RecommenderQueries.rcapCte), so the comparison verifies the cap
    * logic itself and stays valid at any scale factor. */
  private def capBasket(r: DataFrame, maxBasket: Int): DataFrame =
    if (maxBasket <= 0) r
    else {
      val w = Window.partitionBy("user_id").orderBy("business_id")
      r.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= maxBasket).drop("_rk")
    }

  /** Business pairs co-rated by ≥ `minCorated` users (P4/P7/J1): self-join
    * on user, triangular predicate, grouped count. `maxBasket` bounds the
    * per-user pair fan-out at maxBasket²/2 (see [[capBasket]]). */
  def coRatedPairs(reviews: DataFrame, minCorated: Int, maxBasket: Int = 0): DataFrame = {
    val r = capBasket(dedupReviews(reviews), maxBasket)
    r.as("a").join(r.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.business_id") < col("b.business_id"))
      .groupBy(col("a.business_id").as("biz_a"), col("b.business_id").as("biz_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCorated)
  }

  /** Item-item similarity weights over co-ratings: co-rated-only Pearson
    * (M2, reference utils/metrics.py:72-94), rating-vector cosine (M1/M3)
    * and rater-set Jaccard (X11), one grouped pass + two size joins. */
  def pairWeights(reviews: DataFrame, minCorated: Int, maxBasket: Int = 0): DataFrame = {
    val r = capBasket(dedupReviews(reviews), maxBasket)
    val co = r.as("a").join(r.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.business_id") < col("b.business_id"))
      .select(col("a.business_id").as("biz_a"), col("b.business_id").as("biz_b"),
        col("a.stars").as("sa"), col("b.stars").as("sb"))
    // Moments accumulate as scaled 64-bit integers: stars are exact 6-dp
    // values ≤ 5, so sa·1e6 is an exact integer and Σ (sa6·sb6) stays well
    // inside int64 (≤ 3·10^13 per term). Long sums are order-free and one
    // 8-byte buffer per column — far lighter than decimal aggregation over
    // millions of mostly-discarded pair groups. The reconstructed doubles
    // (x / 10^k) are the nearest-double of the same exact rationals the
    // decimal path produced, so the oracle's decimal formulation still
    // hash-matches.
    val co6 = co.select(col("biz_a"), col("biz_b"),
      round(col("sa") * 1e6).cast("long").as("sa6"),
      round(col("sb") * 1e6).cast("long").as("sb6"))
    val grouped = co6.groupBy("biz_a", "biz_b")
      .agg(count(lit(1)).as("n_common"),
        sum(col("sa6")).as("sx6"), sum(col("sb6")).as("sy6"),
        sum(col("sa6") * col("sa6")).as("sxx12"),
        sum(col("sb6") * col("sb6")).as("syy12"),
        sum(col("sa6") * col("sb6")).as("sxy12"))
      .filter(col("n_common") >= minCorated)
      .select(col("biz_a"), col("biz_b"), col("n_common"), {
        val n = col("n_common").cast("double")
        val sx = col("sx6").cast("double") / 1e6
        val sy = col("sy6").cast("double") / 1e6
        val sxx = col("sxx12").cast("double") / 1e12
        val syy = col("syy12").cast("double") / 1e12
        val sxy = col("sxy12").cast("double") / 1e12
        val prod = (n * sxx - sx * sx) * (n * syy - sy * sy)
        guardNaN(when(prod <= 0.0, lit(0.0))
          .otherwise((n * sxy - sx * sy) / sqrt(prod))).as("pearson")
      }, (col("sxy12").cast("double") / 1e12).as("dot"))
    val sq = r.select(col("business_id"), round(col("stars") * 1e6).cast("long").as("s6"))
      .groupBy("business_id")
      .agg((sum(col("s6") * col("s6")).cast("double") / 1e12).as("sumsq"),
        count(lit(1)).as("n"))
    grouped
      .join(sq.select(col("business_id").as("biz_a"), col("sumsq").as("qa"), col("n").as("na")), "biz_a")
      .join(sq.select(col("business_id").as("biz_b"), col("sumsq").as("qb"), col("n").as("nb")), "biz_b")
      .select(col("biz_a"), col("biz_b"), col("n_common"), {
        // guard EVERY moment-derived output: a caller selecting only
        // cosine would otherwise let Catalyst prune the pearson guard away
        // and silently wrap (round-2 review finding)
        val guard = greatest(col("n_common"), col("na"), col("nb"))
        momentSafe(guard, Cross.r6(col("pearson"))).as("pearson")
      },
        momentSafe(greatest(col("n_common"), col("na"), col("nb")),
          Cross.r6(col("dot") / (sqrt(col("qa")) * sqrt(col("qb"))))).as("cosine"),
        Cross.r6(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double")).as("jaccard"))
  }

  /** T2 via the bounded [[graft.plans.TopKPairs]] Catalyst aggregate: the
    * k-bounded heap makes partial aggregation cap map-side state at k
    * entries per group, so the shuffle carries ≤ k entries per group per
    * map partition — the 100 TB formulation of [[topNeighbors]], whose
    * window variant must shuffle and sort every candidate row first.
    * Gate-proven hash-equal to the window formulation (q77 runs this
    * against q64's oracle). */
  /** Symmetrize (biz_a, biz_b, w) into per-direction (biz, neighbor, w)
    * rows by EXPLODING a 2-element array instead of UNION ALL of two
    * selects: semantically identical, but the union's branches each
    * re-evaluate the whole upstream plan (the triangular co-rated join —
    * exchange reuse only dedups the shuffles, not the probe-side work),
    * while the explode is one pass producing both directions per row. */
  private def symmetrizeDirections(weights: DataFrame, weightCol: String): DataFrame =
    weights.select(explode(array(
        struct(col("biz_a").as("biz"), col("biz_b").as("neighbor")),
        struct(col("biz_b").as("biz"), col("biz_a").as("neighbor")))).as("d"),
        col(weightCol).as("w"))
      .select(col("d.biz").as("biz"), col("d.neighbor").as("neighbor"), col("w"))

  def topNeighborsAgg(weights: DataFrame, weightCol: String, k: Int): DataFrame = {
    val sym = symmetrizeDirections(weights, weightCol)
    sym.groupBy("biz")
      .agg(graft.plans.TopKAgg.topK(col("w"), col("neighbor"), k).as("top"))
      .select(col("biz"), posexplode(col("top")))
      .select(col("biz"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor"), col("col.w").as("w"))
  }

  /** M3: dense Pearson — correlation of the two items' FULL user-dimension
    * rating vectors, zeros for unrated users (scipy semantics; reference
    * models/item_cf_model.py:154-157, config-selected at
    * config/config_item_cf.json:8-11). Selectable alongside the co-rated
    * variant [[pairWeights]], mirroring the reference's metric switch.
    *
    * Scale note — the densification is algebraic, not physical: with
    * U = |users|, sx = Σ r_a, sxx = Σ r_a² (zero entries contribute
    * nothing) and sxy = Σ_{co-raters} r_a·r_b,
    *   pearson = (U·sxy − sx·sy) / √((U·sxx − sx²)(U·syy − sy²)).
    * So no U-length vectors are ever materialized: one co-rated join for
    * sxy, one per-item aggregate, one 1-row user count — the same cost as
    * the co-rated variant. Moments accumulate as scaled int64 (see
    * [[pairWeights]]); the oracle mirrors the identical integer algebra.
    */
  def pairWeightsDense(reviews: DataFrame, minCorated: Int, maxBasket: Int = 0): DataFrame = {
    val r = capBasket(dedupReviews(reviews), maxBasket)
    val r6 = r.select(col("user_id"), col("business_id"),
      round(col("stars") * 1e6).cast("long").as("s6"))
    val co = r6.as("a").join(r6.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.business_id") < col("b.business_id"))
      .select(col("a.business_id").as("biz_a"), col("b.business_id").as("biz_b"),
        col("a.s6").as("sa6"), col("b.s6").as("sb6"))
    val g = co.groupBy("biz_a", "biz_b")
      .agg(count(lit(1)).as("n_common"), sum(col("sa6") * col("sb6")).as("sxy12"))
      .filter(col("n_common") >= minCorated)
    val it = r6.groupBy("business_id")
      .agg(sum(col("s6")).as("sx6"), sum(col("s6") * col("s6")).as("sxx12"),
        count(lit(1)).as("nr"))
    val users = r.agg(countDistinct(col("user_id")).as("nu"))
    g.join(it.select(col("business_id").as("biz_a"),
        col("sx6").as("xa6"), col("sxx12").as("xaa12"), col("nr").as("nra")), "biz_a")
      .join(it.select(col("business_id").as("biz_b"),
        col("sx6").as("xb6"), col("sxx12").as("xbb12"), col("nr").as("nrb")), "biz_b")
      .crossJoin(broadcast(users))
      .select(col("biz_a"), col("biz_b"), col("n_common"), {
        val nu = col("nu").cast("double")
        val sx = col("xa6").cast("double") / 1e6
        val sy = col("xb6").cast("double") / 1e6
        val sxx = col("xaa12").cast("double") / 1e12
        val syy = col("xbb12").cast("double") / 1e12
        val sxy = col("sxy12").cast("double") / 1e12
        val prod = (nu * sxx - sx * sx) * (nu * syy - sy * sy)
        momentSafe(greatest(col("n_common"), col("nra"), col("nrb")),
          Cross.r6(guardNaN(when(prod <= 0.0, lit(0.0))
            .otherwise((nu * sxy - sx * sy) / sqrt(prod))))).as("pearson_dense")
      })
  }

  /** Zero out NaN/null similarity (zero-variance co-rating groups). */
  private def guardNaN(c: Column): Column =
    when(c.isNull || isnan(c), 0.0).otherwise(c)

  /** Symmetrized top-k neighbor lists by a weight column (T2 window). */
  def topNeighbors(weights: DataFrame, weightCol: String, k: Int): DataFrame = {
    val sym = symmetrizeDirections(weights, weightCol)
    val win = Window.partitionBy("biz").orderBy(col("w").desc, col("neighbor"))
    sym.withColumn("rank", row_number().over(win)).filter(col("rank") <= k)
  }

  /** Item-CF prediction (M5): weighted average of the user's ratings on
    * the target's top-k neighbors, Σw·r / Σ|w|; no neighbor → 2.5
    * (reference models/item_cf_model.py:356-366). */
  def itemCfPredict(pairs: DataFrame, reviews: DataFrame,
      neighbors: DataFrame): DataFrame = {
    val matched = pairs
      .join(neighbors.withColumnRenamed("biz", "business_id"), Seq("business_id"), "left")
      .join(reviews.select(col("user_id"), col("business_id").as("neighbor"), col("stars")),
        Seq("user_id", "neighbor"), "left")
    matched
      .groupBy("user_id", "business_id")
      .agg(
        Cross.dxsum(when(col("stars").isNotNull, col("w")).otherwise(0.0), coalesce(col("stars"), lit(0.0))).as("num"),
        Cross.dsum(when(col("stars").isNotNull, abs(col("w"))).otherwise(0.0), 6).as("den"))
      .select(col("user_id"), col("business_id"),
        Cross.r6(when(col("den") > 0.0, col("num") / col("den")).otherwise(2.5)).as("pred"))
  }

  /** A prediction that counts toward RMSE: a finite number — not null,
    * NaN or ±Infinity. `!isnan(null)` alone is true, so a null would
    * count as a match with zero error; an infinite error would count in
    * n but not in the sum, where `Cross.dsum`'s decimal cast nulls it. */
  def scored(pred: Column): Column =
    pred.isNotNull && !isnan(pred) && abs(pred) =!= Double.PositiveInfinity

  /** Per-decision-rule RMSE breakdown (P10 — reference
    * scripts/evaluate.py:104-121 re-filters predictions per rule):
    * expects a `decision` column tagging which rule produced each row. */
  def rmseByDecision(preds: DataFrame, gt: DataFrame): DataFrame =
    preds.filter(scored(col("pred")))
      .join(gt, Seq("user_id", "business_id"))
      .groupBy("decision")
      .agg(Cross.r6(sqrt(Cross.dsum(
          (col("pred") - col("stars")) * (col("pred") - col("stars")), 6) /
        count(lit(1)))).as("rmse"),
        count(lit(1)).as("n"))

  /** RMSE over joined (prediction, ground truth), skipping missing pairs
    * and unscored predictions (M8 — reference scripts/evaluate.py:87-102). */
  def rmse(preds: DataFrame, gt: DataFrame): DataFrame =
    preds.filter(scored(col("pred")))
      .join(gt, Seq("user_id", "business_id"))
      .select(((col("pred") - col("stars")) * (col("pred") - col("stars"))).as("se"))
      .agg(Cross.r6(sqrt(Cross.dsum(col("se"), 6) / count(lit(1)))).as("rmse"))
}
