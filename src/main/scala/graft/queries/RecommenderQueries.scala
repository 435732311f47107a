package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Cross, Tables}
import graft.model.Recommender

/** Recommender gate queries. The star schema stands in for the reference's
  * review corpus: (o_custkey, l_partkey, quantity-derived stars) is the
  * `reviews` relation (see Tables.reviews), and the whole CF pipeline —
  * averages, cold-start baseline, co-rated pair mining, Pearson/cosine/
  * Jaccard weights, top-k neighbors, weighted-average scoring, RMSE — is
  * verified end-to-end against DuckDB running the identical algebra.
  */
object RecommenderQueries {

  private def ds(e: String, s: Int = 2) = Cross.dsumSql(e, s)

  private val reviewsCte =
    """reviews AS (
      |  SELECT o_custkey AS user_id, l_partkey AS business_id,
      |         CAST((CAST(l_quantity AS BIGINT) % 5) + 1 AS DOUBLE) AS stars
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)""".stripMargin

  private val rdedupCte =
    s"""rdedup AS (
       |  SELECT user_id, business_id,
       |         (round((${ds("stars")} / COUNT(*)) + 1e-9, 6) + 0.0) AS stars
       |  FROM reviews GROUP BY user_id, business_id)""".stripMargin

  /** The CF gates run Spark with maxBasket = [[MaxBasketGate]] and the
    * oracle applies the IDENTICAL cap, so the comparison verifies the cap
    * logic itself and stays valid at any scale factor (round-2 review: an
    * uncapped oracle silently depends on no user exceeding the cap). */
  private val MaxBasketGate = 1024

  private val rcapCte =
    s"""rcap AS (
       |  SELECT user_id, business_id, stars FROM (
       |    SELECT user_id, business_id, stars,
       |           row_number() OVER (PARTITION BY user_id ORDER BY business_id) AS rk
       |    FROM rdedup) t
       |  WHERE rk <= $MaxBasketGate)""".stripMargin

  private val avgCtes =
    s"""uavg AS (SELECT user_id, ${ds("stars")} / COUNT(*) AS user_avg
       |         FROM reviews GROUP BY user_id),
       |bavg AS (SELECT business_id, ${ds("stars")} / COUNT(*) AS biz_avg
       |         FROM reviews GROUP BY business_id)""".stripMargin

  /** Test-pair slice: a deterministic customer × part grid that includes
    * ids with no review history (exercises the cold-start cascade). */
  private val pairsCte =
    """pairs AS (
      |  SELECT c_custkey AS user_id, p_partkey AS business_id
      |  FROM customer CROSS JOIN part
      |  WHERE c_custkey % 19 = 0 AND p_partkey % 23 = 0)""".stripMargin

  private def pairsDF(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.customer(spark, dir).filter(pmod(col("c_custkey"), lit(19)) === 0)
      .select(col("c_custkey").as("user_id"))
      .crossJoin(Tables.part(spark, dir).filter(pmod(col("p_partkey"), lit(23)) === 0)
        .select(col("p_partkey").as("business_id")))

  /** A1: user and business rating averages in one relation. */
  val q60 = QueryDef(
    "q60_rating_avgs",
    s"""WITH $reviewsCte,
       |$avgCtes
       |SELECT kind, id, avg_stars FROM (
       |  SELECT 'user' AS kind, user_id AS id, (round((user_avg) + 1e-9, 6) + 0.0) AS avg_stars FROM uavg
       |  UNION ALL
       |  SELECT 'biz' AS kind, business_id AS id, (round((biz_avg) + 1e-9, 6) + 0.0) AS avg_stars FROM bavg) t
       |ORDER BY kind, id""".stripMargin) { (spark, dir) =>
    val r = Tables.reviews(spark, dir)
    Recommender.userAvg(r)
      .select(lit("user").as("kind"), col("user_id").as("id"), Cross.r6(col("user_avg")).as("avg_stars"))
      .union(Recommender.bizAvg(r)
        .select(lit("biz").as("kind"), col("business_id").as("id"), Cross.r6(col("biz_avg")).as("avg_stars")))
      .orderBy("kind", "id")
  }

  /** P9/J7: cold-start cascade baseline prediction over the pair grid. */
  val q61 = QueryDef(
    "q61_baseline_predict",
    s"""WITH $reviewsCte,
       |$avgCtes,
       |$pairsCte
       |SELECT p.user_id, p.business_id,
       |  (round((COALESCE((user_avg + biz_avg) / 2.0, user_avg, biz_avg, 2.5)) + 1e-9, 6) + 0.0) AS pred
       |FROM pairs p
       |LEFT JOIN uavg u ON p.user_id = u.user_id
       |LEFT JOIN bavg b ON p.business_id = b.business_id
       |ORDER BY p.user_id, p.business_id""".stripMargin) { (spark, dir) =>
    Recommender.baselinePredict(pairsDF(spark, dir), Tables.reviews(spark, dir))
      .orderBy("user_id", "business_id")
  }

  /** P4/P7/J1: co-rated business pairs (≥ 2 common raters). */
  val q62 = QueryDef(
    "q62_corated_pairs",
    s"""WITH $reviewsCte,
       |$rdedupCte,
       |$rcapCte
       |SELECT a.business_id AS biz_a, b.business_id AS biz_b, COUNT(*) AS n_common
       |FROM rcap a JOIN rcap b
       |  ON a.user_id = b.user_id AND a.business_id < b.business_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY biz_a, biz_b""".stripMargin) { (spark, dir) =>
    Recommender.coRatedPairs(Tables.reviews(spark, dir), 2, maxBasket = MaxBasketGate)
      .orderBy("biz_a", "biz_b")
  }

  private def weightsCtes(minCorated: Int) =
    s"""co AS (
       |  SELECT a.business_id AS biz_a, b.business_id AS biz_b,
       |         round(a.stars * 1e6)::BIGINT AS sa6, round(b.stars * 1e6)::BIGINT AS sb6
       |  FROM rcap a JOIN rcap b
       |    ON a.user_id = b.user_id AND a.business_id < b.business_id),
       |g AS (
       |  SELECT biz_a, biz_b, COUNT(*) AS n_common,
       |         SUM(sa6)::BIGINT AS sx6, SUM(sb6)::BIGINT AS sy6,
       |         SUM(sa6 * sa6)::BIGINT AS sxx12, SUM(sb6 * sb6)::BIGINT AS syy12,
       |         SUM(sa6 * sb6)::BIGINT AS sxy12
       |  FROM co GROUP BY biz_a, biz_b HAVING COUNT(*) >= $minCorated),
       |sq AS (
       |  SELECT business_id, SUM(s6 * s6)::BIGINT::DOUBLE / 1e12 AS sumsq, COUNT(*) AS n
       |  FROM (SELECT business_id, round(stars * 1e6)::BIGINT AS s6 FROM rcap) t
       |  GROUP BY business_id),
       |weights AS (
       |  SELECT biz_a, biz_b, n_common,
       |    (round((CASE WHEN (n_common::DOUBLE * (sxx12::DOUBLE / 1e12) - (sx6::DOUBLE / 1e6) * (sx6::DOUBLE / 1e6))
       |                   * (n_common::DOUBLE * (syy12::DOUBLE / 1e12) - (sy6::DOUBLE / 1e6) * (sy6::DOUBLE / 1e6)) <= 0.0 THEN 0.0
       |          ELSE (n_common::DOUBLE * (sxy12::DOUBLE / 1e12) - (sx6::DOUBLE / 1e6) * (sy6::DOUBLE / 1e6)) /
       |               sqrt((n_common::DOUBLE * (sxx12::DOUBLE / 1e12) - (sx6::DOUBLE / 1e6) * (sx6::DOUBLE / 1e6))
       |                  * (n_common::DOUBLE * (syy12::DOUBLE / 1e12) - (sy6::DOUBLE / 1e6) * (sy6::DOUBLE / 1e6))) END) + 1e-9, 6) + 0.0) AS pearson,
       |    (round(((sxy12::DOUBLE / 1e12) / (sqrt(qa.sumsq) * sqrt(qb.sumsq))) + 1e-9, 6) + 0.0) AS cosine,
       |    (round((n_common::DOUBLE / (qa.n + qb.n - n_common)::DOUBLE) + 1e-9, 6) + 0.0) AS jaccard
       |  FROM g
       |  JOIN sq qa ON biz_a = qa.business_id
       |  JOIN sq qb ON biz_b = qb.business_id)""".stripMargin

  /** M1/M2/M3/X11: item-item similarity weights (Pearson over co-ratings,
    * rating-vector cosine, rater-set Jaccard). */
  val q63 = QueryDef(
    "q63_pair_weights",
    s"""WITH $reviewsCte,
       |$rdedupCte,
       |$rcapCte,
       |${weightsCtes(3)}
       |SELECT biz_a, biz_b, n_common, pearson, cosine, jaccard FROM weights
       |ORDER BY biz_a, biz_b""".stripMargin) { (spark, dir) =>
    Recommender.pairWeights(Tables.reviews(spark, dir), 3, maxBasket = MaxBasketGate)
      .orderBy("biz_a", "biz_b")
  }

  /** T2: symmetrized top-5 neighbors per business by cosine weight. */
  val q64 = QueryDef(
    "q64_topk_neighbors",
    s"""WITH $reviewsCte,
       |$rdedupCte,
       |$rcapCte,
       |${weightsCtes(2)},
       |sym AS (
       |  SELECT biz_a AS biz, biz_b AS neighbor, cosine AS w FROM weights
       |  UNION ALL
       |  SELECT biz_b AS biz, biz_a AS neighbor, cosine AS w FROM weights),
       |ranked AS (
       |  SELECT biz, neighbor, w,
       |         row_number() OVER (PARTITION BY biz ORDER BY w DESC, neighbor) AS rank
       |  FROM sym)
       |SELECT biz, rank, neighbor, w FROM ranked WHERE rank <= 5
       |ORDER BY biz, rank""".stripMargin) { (spark, dir) =>
    Recommender.topNeighbors(Recommender.pairWeights(Tables.reviews(spark, dir), 2, maxBasket = MaxBasketGate), "cosine", 5)
      .select("biz", "rank", "neighbor", "w")
      .orderBy("biz", "rank")
  }

  /** T2 through the custom bounded top-k Catalyst aggregate
    * (plans.TopKPairs): SAME oracle as the window-based q64 — the gate
    * proves the k-heap aggregate and the window formulation are
    * hash-identical while the aggregate shuffles ≤ k rows per group per
    * partition. */
  val q77 = QueryDef(
    "q77_topk_agg",
    s"""WITH $reviewsCte,
       |$rdedupCte,
       |$rcapCte,
       |${weightsCtes(2)},
       |sym AS (
       |  SELECT biz_a AS biz, biz_b AS neighbor, cosine AS w FROM weights
       |  UNION ALL
       |  SELECT biz_b AS biz, biz_a AS neighbor, cosine AS w FROM weights),
       |ranked AS (
       |  SELECT biz, neighbor, w,
       |         row_number() OVER (PARTITION BY biz ORDER BY w DESC, neighbor) AS rank
       |  FROM sym)
       |SELECT biz, rank, neighbor, w FROM ranked WHERE rank <= 5
       |ORDER BY biz, rank""".stripMargin) { (spark, dir) =>
    Recommender.topNeighborsAgg(
        Recommender.pairWeights(Tables.reviews(spark, dir), 2, maxBasket = MaxBasketGate), "cosine", 5)
      .orderBy("biz", "rank")
  }

  /** M3: dense Pearson (full user dimension incl. zeros — scipy semantics,
    * reference models/item_cf_model.py:154-157) via the algebraic identity
    * pearson = (U·sxy − sx·sy)/√((U·sxx − sx²)(U·syy − sy²)) — no dense
    * vectors are materialized on either engine. */
  val q74 = QueryDef(
    "q74_pearson_dense",
    s"""WITH $reviewsCte,
       |$rdedupCte,
       |$rcapCte,
       |co AS (
       |  SELECT a.business_id AS biz_a, b.business_id AS biz_b,
       |         round(a.stars * 1e6)::BIGINT AS sa6, round(b.stars * 1e6)::BIGINT AS sb6
       |  FROM rcap a JOIN rcap b
       |    ON a.user_id = b.user_id AND a.business_id < b.business_id),
       |g AS (
       |  SELECT biz_a, biz_b, COUNT(*) AS n_common, SUM(sa6 * sb6)::BIGINT AS sxy12
       |  FROM co GROUP BY biz_a, biz_b HAVING COUNT(*) >= 3),
       |it AS (
       |  SELECT business_id, SUM(s6)::BIGINT AS sx6, SUM(s6 * s6)::BIGINT AS sxx12
       |  FROM (SELECT business_id, round(stars * 1e6)::BIGINT AS s6 FROM rcap) t
       |  GROUP BY business_id),
       |u AS (SELECT COUNT(DISTINCT user_id) AS nu FROM rcap)
       |SELECT biz_a, biz_b, n_common,
       |  (round((CASE WHEN (nu::DOUBLE * (qa.sxx12::DOUBLE / 1e12) - (qa.sx6::DOUBLE / 1e6) * (qa.sx6::DOUBLE / 1e6))
       |                 * (nu::DOUBLE * (qb.sxx12::DOUBLE / 1e12) - (qb.sx6::DOUBLE / 1e6) * (qb.sx6::DOUBLE / 1e6)) <= 0.0 THEN 0.0
       |        ELSE (nu::DOUBLE * (sxy12::DOUBLE / 1e12) - (qa.sx6::DOUBLE / 1e6) * (qb.sx6::DOUBLE / 1e6)) /
       |             sqrt((nu::DOUBLE * (qa.sxx12::DOUBLE / 1e12) - (qa.sx6::DOUBLE / 1e6) * (qa.sx6::DOUBLE / 1e6))
       |                * (nu::DOUBLE * (qb.sxx12::DOUBLE / 1e12) - (qb.sx6::DOUBLE / 1e6) * (qb.sx6::DOUBLE / 1e6))) END) + 1e-9, 6) + 0.0) AS pearson_dense
       |FROM g
       |JOIN it qa ON biz_a = qa.business_id
       |JOIN it qb ON biz_b = qb.business_id
       |CROSS JOIN u
       |ORDER BY biz_a, biz_b""".stripMargin) { (spark, dir) =>
    Recommender.pairWeightsDense(Tables.reviews(spark, dir), 3, maxBasket = MaxBasketGate)
      .orderBy("biz_a", "biz_b")
  }

  /** M5: item-CF weighted-average prediction over the pair grid. */
  val q65 = QueryDef(
    "q65_itemcf_predict",
    s"""WITH $reviewsCte,
       |$rdedupCte,
       |$rcapCte,
       |${weightsCtes(2)},
       |sym AS (
       |  SELECT biz_a AS biz, biz_b AS neighbor, cosine AS w FROM weights
       |  UNION ALL
       |  SELECT biz_b AS biz, biz_a AS neighbor, cosine AS w FROM weights),
       |nb AS (
       |  SELECT biz, neighbor, w FROM (
       |    SELECT biz, neighbor, w,
       |           row_number() OVER (PARTITION BY biz ORDER BY w DESC, neighbor) AS rank
       |    FROM sym) t WHERE rank <= 5),
       |$pairsCte,
       |matched AS (
       |  SELECT p.user_id, p.business_id,
       |         CASE WHEN ur.stars IS NOT NULL THEN nb.w ELSE 0.0 END AS wn,
       |         COALESCE(ur.stars, 0.0) AS sn,
       |         CASE WHEN ur.stars IS NOT NULL THEN abs(nb.w) ELSE 0.0 END AS aw
       |  FROM pairs p
       |  LEFT JOIN nb ON p.business_id = nb.biz
       |  LEFT JOIN rdedup ur ON ur.user_id = p.user_id AND ur.business_id = nb.neighbor),
       |scored AS (
       |  SELECT user_id, business_id,
       |         ${Cross.dxsumSql("wn", "sn")} AS num, ${ds("aw", 6)} AS den
       |  FROM matched GROUP BY user_id, business_id)
       |SELECT user_id, business_id,
       |  (round((CASE WHEN den > 0.0 THEN num / den ELSE 2.5 END) + 1e-9, 6) + 0.0) AS pred
       |FROM scored
       |ORDER BY user_id, business_id""".stripMargin) { (spark, dir) =>
    val r = Tables.reviews(spark, dir)
    val nb = Recommender.topNeighbors(Recommender.pairWeights(r, 2, maxBasket = MaxBasketGate), "cosine", 5)
      .select("biz", "neighbor", "w")
    Recommender.itemCfPredict(pairsDF(spark, dir), Recommender.dedupReviews(r), nb)
      .orderBy("user_id", "business_id")
  }

  /** M8: end-to-end RMSE of the baseline predictor on a held-out slice. */
  val q66 = QueryDef(
    "q66_rmse_eval",
    s"""WITH $reviewsCte,
       |$rdedupCte,
       |$avgCtes,
       |gt AS (SELECT user_id, business_id, stars FROM rdedup WHERE user_id % 7 = 3),
       |preds AS (
       |  SELECT g.user_id, g.business_id,
       |    (round((COALESCE((user_avg + biz_avg) / 2.0, user_avg, biz_avg, 2.5)) + 1e-9, 6) + 0.0) AS pred
       |  FROM gt g
       |  LEFT JOIN uavg u ON g.user_id = u.user_id
       |  LEFT JOIN bavg b ON g.business_id = b.business_id)
       |SELECT (round((sqrt(${ds("(pred - stars) * (pred - stars)", 6)} / COUNT(pred))) + 1e-9, 6) + 0.0) AS rmse
       |FROM preds JOIN gt USING (user_id, business_id)
       |WHERE isfinite(pred)""".stripMargin) { (spark, dir) =>
    val r = Tables.reviews(spark, dir)
    val gt = Recommender.dedupReviews(r).filter(pmod(col("user_id"), lit(7)) === 3)
    val preds = Recommender.baselinePredict(gt.select("user_id", "business_id"), r)
    Recommender.rmse(preds, gt)
  }

  /** A13/A14: per-user rating map (reference builds driver dicts
    * {biz: stars}, models/item_cf_model.py:346-353); emitted as a sorted
    * entry string so map ordering cannot affect the hash compare. */
  val q69 = QueryDef(
    "q69_user_rating_maps",
    s"""WITH $reviewsCte,
       |$rdedupCte
       |SELECT user_id, COUNT(*) AS n_rated,
       |  string_agg(business_id::VARCHAR || '=' || stars::VARCHAR, ','
       |             ORDER BY business_id) AS ratings
       |FROM rdedup
       |WHERE user_id % 101 = 0
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin) { (spark, dir) =>
    Recommender.dedupReviews(Tables.reviews(spark, dir))
      .filter(pmod(col("user_id"), lit(101)) === 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_rated"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("business_id"),
            concat(col("business_id").cast("string"), lit("="), col("stars").cast("string")).as("e")))),
          s => s.getField("e"))).as("ratings"))
      .orderBy("user_id")
  }

  /** Top-k ranking metrics (Ranking.metricsAtK): precision@5 / recall /
    * MRR / NDCG@5 per user, predictions = each user's top-5 items by
    * (stars desc, id), ground truth = their 4+-star items. DCG gains are
    * 6-dp literals rendered into BOTH engines (the minhash-coefficient
    * pattern) and summed in decimal, so NDCG is hash-exact — including
    * the all-branches cases (no hit → 0 metrics, |gt| > k → capped
    * ideal DCG). */
  val q114 = QueryDef(
    "q114_ranking_metrics", {
      import graft.model.Ranking
      s"""WITH $reviewsCte,
         |$rdedupCte,
         |pred AS (
         |  SELECT user_id, business_id,
         |         row_number() OVER (PARTITION BY user_id
         |                            ORDER BY stars DESC, business_id) AS rank
         |  FROM rdedup),
         |gt AS (SELECT user_id, business_id FROM rdedup WHERE stars >= 4.0),
         |hits AS (
         |  SELECT p.user_id, COUNT(*) AS n_hits, MIN(p.rank) AS first_hit,
         |         ${Cross.dsumSql("gain", 6)} AS dcg
         |  FROM pred p
         |  JOIN gt ON p.user_id = gt.user_id AND p.business_id = gt.business_id
         |  JOIN ${Ranking.gainsSql(5)} ON p.rank = g.rank
         |  WHERE p.rank <= 5
         |  GROUP BY p.user_id),
         |base AS (SELECT user_id, COUNT(*) AS n_gt FROM gt GROUP BY user_id)
         |SELECT base.user_id, n_gt, COALESCE(n_hits, 0) AS n_hits,
         |  (round((COALESCE(n_hits, 0)::DOUBLE / 5.0) + 1e-9, 6) + 0.0) AS precision_k,
         |  (round((COALESCE(n_hits, 0)::DOUBLE / n_gt::DOUBLE) + 1e-9, 6) + 0.0) AS recall,
         |  (round((CASE WHEN first_hit IS NULL THEN 0.0
         |         ELSE 1.0 / first_hit::DOUBLE END) + 1e-9, 6) + 0.0) AS mrr,
         |  (round((COALESCE(dcg, 0.0) / idcg) + 1e-9, 6) + 0.0) AS ndcg
         |FROM base
         |LEFT JOIN hits ON base.user_id = hits.user_id
         |JOIN ${Ranking.idcgSql(5)} ON least(n_gt, 5) = ideal.m
         |ORDER BY base.user_id""".stripMargin
    }) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val r = Recommender.dedupReviews(Tables.reviews(spark, dir))
    val pred = r.withColumn("rank",
      row_number().over(Window.partitionBy("user_id")
        .orderBy(col("stars").desc, col("business_id"))))
      .select("user_id", "business_id", "rank")
    val gt = r.filter(col("stars") >= 4.0).select("user_id", "business_id")
    graft.model.Ranking.metricsAtK(spark, pred, gt, 5).orderBy("user_id")
  }

  val all: Seq[QueryDef] = Seq(q60, q61, q62, q63, q64, q65, q66, q69, q74, q77, q114)
}
