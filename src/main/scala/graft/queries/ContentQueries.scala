package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Cross, Tables}
import graft.functions.TextSql
import graft.model.ContentBased

/** Content-based model gate queries (the reference flagship): business
  * TF-IDF profiles from document text, top-V vocabulary, user profiles,
  * profile cosine, geometric decision rule with cold-start cascade — the
  * entire train+predict path hash-verified against a DuckDB CTE mirror.
  *
  * Businesses get text deterministically: part p reads document
  * p_partkey mod |documents|.
  */
object ContentQueries {

  private val V = 50

  private def ds(e: String, s: Int = 6) = Cross.dsumSql(e, s)

  private val bizTextCte =
    """biztext AS (
      |  SELECT p_partkey AS business_id, d.text AS text
      |  FROM part JOIN documents d
      |    ON d.doc_id = p_partkey % (SELECT COUNT(*) FROM documents))""".stripMargin

  private val reviewsCtes =
    s"""reviews AS (
       |  SELECT o_custkey AS user_id, l_partkey AS business_id,
       |         CAST((CAST(l_quantity AS BIGINT) % 5) + 1 AS DOUBLE) AS stars
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |rdedup AS (
       |  SELECT user_id, business_id,
       |         (round((${Cross.dsumSql("stars", 2)} / COUNT(*)) + 1e-9, 6) + 0.0) AS stars
       |  FROM reviews GROUP BY user_id, business_id)""".stripMargin

  private val tfidfCtes =
    s"""tok AS (SELECT business_id, unnest(${TextSql.contentTokens("text")}) AS term FROM biztext),
       |tfr AS (SELECT business_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT term, COUNT(*) AS df
       |        FROM (SELECT DISTINCT business_id, term FROM tok) t GROUP BY term),
       |nb AS (SELECT COUNT(DISTINCT business_id) AS n FROM biztext),
       |tfidf AS (
       |  SELECT business_id, term, (round((tf * log2(n::DOUBLE / df::DOUBLE)) + 1e-9, 6) + 0.0) AS tfidf
       |  FROM tfr JOIN dfr USING (term) CROSS JOIN nb),
       |vocab AS (
       |  SELECT term, (round((MAX(tfidf)) + 1e-9, 6) + 0.0) AS max_tfidf FROM tfidf GROUP BY term
       |  ORDER BY max_tfidf DESC, term LIMIT $V),
       |bprof AS (
       |  SELECT business_id, t.term AS term, tfidf AS w
       |  FROM tfidf t JOIN vocab v ON t.term = v.term)""".stripMargin

  private val profileCtes =
    s"""rated AS (SELECT user_id, business_id FROM rdedup),
       |nrated AS (SELECT user_id, COUNT(*) AS n_rated FROM rated GROUP BY user_id),
       |up1 AS (
       |  SELECT user_id, term, ${ds("w")} AS sw
       |  FROM rated JOIN bprof USING (business_id) GROUP BY user_id, term),
       |uprof AS (
       |  SELECT user_id, term, (round((sw / n_rated::DOUBLE) + 1e-9, 6) + 0.0) AS uw
       |  FROM up1 JOIN nrated USING (user_id))""".stripMargin

  private def bizTextDF(spark: SparkSession, dir: String): DataFrame =
    Tables.bizText(spark, dir)

  /** T1/A6: top-V vocabulary by max TF-IDF. */
  val q70 = QueryDef(
    "q70_tfidf_vocab",
    s"""WITH $bizTextCte,
       |$tfidfCtes
       |SELECT term, max_tfidf FROM vocab
       |ORDER BY max_tfidf DESC, term""".stripMargin) { (spark, dir) =>
    ContentBased.vocabulary(ContentBased.bizTfidf(bizTextDF(spark, dir)).cache(), V)
      .orderBy(col("max_tfidf").desc, col("term"))
  }

  /** A12/M9: user profile vectors (long form) for a user sample. */
  val q71 = QueryDef(
    "q71_user_profiles",
    s"""WITH $bizTextCte,
       |$reviewsCtes,
       |$tfidfCtes,
       |$profileCtes
       |SELECT user_id, term, uw FROM uprof
       |WHERE user_id % 97 = 0
       |ORDER BY user_id, term""".stripMargin) { (spark, dir) =>
    val tfidf = ContentBased.bizTfidf(bizTextDF(spark, dir)).cache()
    val bizProf = ContentBased.bizProfiles(tfidf, ContentBased.vocabulary(tfidf, V))
    ContentBased.userProfiles(Tables.reviews(spark, dir), bizProf)
      .filter(pmod(col("user_id"), lit(97)) === 0)
      .orderBy("user_id", "term")
  }

  /** M1/M7: full content-based predict over the pair grid (cosine +
    * geometric rule + cold-start cascade). */
  val q72 = QueryDef(
    "q72_content_predict",
    s"""WITH $bizTextCte,
       |$reviewsCtes,
       |$tfidfCtes,
       |$profileCtes,
       |pairs AS (
       |  SELECT c_custkey AS user_id, p_partkey AS business_id
       |  FROM customer CROSS JOIN part
       |  WHERE c_custkey % 19 = 0 AND p_partkey % 23 = 0),
       |dots AS (
       |  SELECT p.user_id, p.business_id, ${Cross.dxsumSql("uw", "w")} AS dot
       |  FROM pairs p
       |  JOIN uprof u ON p.user_id = u.user_id
       |  JOIN bprof b ON b.business_id = p.business_id AND b.term = u.term
       |  GROUP BY p.user_id, p.business_id),
       |un AS (SELECT user_id, ${Cross.dxsumSql("uw", "uw")} AS usq FROM uprof GROUP BY user_id),
       |bn AS (SELECT business_id, ${Cross.dxsumSql("w", "w")} AS bsq FROM bprof GROUP BY business_id),
       |cosed AS (
       |  SELECT p.user_id, p.business_id,
       |    (round((CASE WHEN dot IS NULL OR usq IS NULL OR bsq IS NULL
       |                    OR usq = 0.0 OR bsq = 0.0 THEN 0.0
       |          ELSE dot / (sqrt(usq) * sqrt(bsq)) END) + 1e-9, 6) + 0.0) AS cos
       |  FROM pairs p
       |  LEFT JOIN dots d ON p.user_id = d.user_id AND p.business_id = d.business_id
       |  LEFT JOIN un ON p.user_id = un.user_id
       |  LEFT JOIN bn ON p.business_id = bn.business_id),
       |uavg AS (SELECT user_id, ${Cross.dsumSql("stars", 2)} / COUNT(*) AS user_avg
       |         FROM reviews GROUP BY user_id),
       |bavg AS (SELECT business_id, ${Cross.dsumSql("stars", 2)} / COUNT(*) AS biz_avg
       |         FROM reviews GROUP BY business_id)
       |SELECT c.user_id, c.business_id, c.cos,
       |  (round((CASE
       |    WHEN user_avg IS NOT NULL AND biz_avg IS NOT NULL
       |      THEN c.cos * user_avg + (1.0 - c.cos) * biz_avg
       |    WHEN user_avg IS NOT NULL THEN user_avg
       |    WHEN biz_avg IS NOT NULL THEN biz_avg
       |    ELSE 2.5 END) + 1e-9, 6) + 0.0) AS pred
       |FROM cosed c
       |LEFT JOIN uavg u ON c.user_id = u.user_id
       |LEFT JOIN bavg b ON c.business_id = b.business_id
       |ORDER BY c.user_id, c.business_id""".stripMargin) { (spark, dir) =>
    val bt = bizTextDF(spark, dir)
    val tfidf = ContentBased.bizTfidf(bt).cache()
    val bizProf = ContentBased.bizProfiles(tfidf, ContentBased.vocabulary(tfidf, V))
    val reviews = Tables.reviews(spark, dir)
    val pairs = Tables.customer(spark, dir).filter(pmod(col("c_custkey"), lit(19)) === 0)
      .select(col("c_custkey").as("user_id"))
      .crossJoin(Tables.part(spark, dir).filter(pmod(col("p_partkey"), lit(23)) === 0)
        .select(col("p_partkey").as("business_id")))
    ContentBased.predict(pairs, reviews,
        ContentBased.userProfiles(reviews, bizProf), bizProf)
      .orderBy("user_id", "business_id")
  }

  /** Shared predict-side CTEs: pairs grid, cosine, averages, decision tag.
    * The grid mixes known ids with shifted ids that have no review history
    * so all four decision branches (both/user_only/biz_only/cold) actually
    * occur — a grid of only-known ids would land every row in 'both'. */
  private val predictCtes =
    s"""pu AS (
       |  SELECT user_id FROM (
       |    SELECT c_custkey AS user_id FROM customer WHERE c_custkey % 19 = 0
       |    ORDER BY user_id LIMIT 100)
       |  UNION ALL
       |  SELECT user_id FROM (
       |    SELECT c_custkey + 10000000 AS user_id FROM customer WHERE c_custkey % 97 = 0
       |    ORDER BY user_id LIMIT 16)),
       |pb AS (
       |  SELECT business_id FROM (
       |    SELECT p_partkey AS business_id FROM part WHERE p_partkey % 23 = 0
       |    ORDER BY business_id LIMIT 110)
       |  UNION ALL
       |  SELECT business_id FROM (
       |    SELECT p_partkey + 10000000 AS business_id FROM part WHERE p_partkey % 101 = 0
       |    ORDER BY business_id LIMIT 20)),
       |pairs AS (SELECT user_id, business_id FROM pu CROSS JOIN pb),
       |dots AS (
       |  SELECT p.user_id, p.business_id, ${Cross.dxsumSql("uw", "w")} AS dot
       |  FROM pairs p
       |  JOIN uprof u ON p.user_id = u.user_id
       |  JOIN bprof b ON b.business_id = p.business_id AND b.term = u.term
       |  GROUP BY p.user_id, p.business_id),
       |un AS (SELECT user_id, ${Cross.dxsumSql("uw", "uw")} AS usq FROM uprof GROUP BY user_id),
       |bn AS (SELECT business_id, ${Cross.dxsumSql("w", "w")} AS bsq FROM bprof GROUP BY business_id),
       |cosed AS (
       |  SELECT p.user_id, p.business_id,
       |    (round((CASE WHEN dot IS NULL OR usq IS NULL OR bsq IS NULL
       |                    OR usq = 0.0 OR bsq = 0.0 THEN 0.0
       |          ELSE dot / (sqrt(usq) * sqrt(bsq)) END) + 1e-9, 6) + 0.0) AS cos
       |  FROM pairs p
       |  LEFT JOIN dots d ON p.user_id = d.user_id AND p.business_id = d.business_id
       |  LEFT JOIN un ON p.user_id = un.user_id
       |  LEFT JOIN bn ON p.business_id = bn.business_id),
       |uavg AS (SELECT user_id, ${Cross.dsumSql("stars", 2)} / COUNT(*) AS user_avg
       |         FROM reviews GROUP BY user_id),
       |bavg AS (SELECT business_id, ${Cross.dsumSql("stars", 2)} / COUNT(*) AS biz_avg
       |         FROM reviews GROUP BY business_id),
       |sel AS (
       |  SELECT c.user_id, c.business_id, c.cos, user_avg, biz_avg,
       |    CASE WHEN user_avg IS NOT NULL AND biz_avg IS NOT NULL THEN 'both'
       |         WHEN user_avg IS NOT NULL THEN 'user_only'
       |         WHEN biz_avg IS NOT NULL THEN 'biz_only'
       |         ELSE 'cold' END AS decision
       |  FROM cosed c
       |  LEFT JOIN uavg u ON c.user_id = u.user_id
       |  LEFT JOIN bavg b ON c.business_id = b.business_id)""".stripMargin

  private def ruleSql(rule: String, bothExpr: String) =
    s"""SELECT '$rule' AS rule, user_id, business_id, cos, decision,
       |  (round((CASE WHEN decision = 'both' THEN $bothExpr
       |        WHEN decision = 'user_only' THEN user_avg
       |        WHEN decision = 'biz_only' THEN biz_avg
       |        ELSE 2.5 END) + 1e-9, 6) + 0.0) AS pred FROM sel""".stripMargin

  private def sharedInputs(spark: SparkSession, dir: String) = {
    val tfidf = ContentBased.bizTfidf(bizTextDF(spark, dir)).cache()
    val bizProfFull = ContentBased.bizProfiles(tfidf, ContentBased.vocabulary(tfidf, V)).cache()
    // reviews is a lineitem⋈orders join referenced from FOUR separate
    // subtrees of the q76 plan (user profiles, user avg, biz avg, the
    // dedup'd ground truth) — Catalyst does not dedupe common subtrees
    // across joins, so uncached it pays the join four times (measured
    // ~2 s of q76's 10 s). 600k × 3 narrow columns; SessionHygiene
    // releases it between gates.
    val reviews = Tables.reviews(spark, dir).cache()
    // Capped test grid: strides alone would scale the grid quadratically
    // with SF (1M pairs at sf0.1 — a test set should not outgrow the
    // corpus); ORDER BY + LIMIT pins each side deterministically, sized so
    // the sf0.01 grid is unchanged (79+16 users, 87+20 businesses).
    val c = Tables.customer(spark, dir)
    val p = Tables.part(spark, dir)
    val pu = c.filter(pmod(col("c_custkey"), lit(19)) === 0)
      .select(col("c_custkey").as("user_id")).orderBy("user_id").limit(100)
      .union(c.filter(pmod(col("c_custkey"), lit(97)) === 0)
        .select((col("c_custkey") + 10000000L).as("user_id")).orderBy("user_id").limit(16))
    val pb = p.filter(pmod(col("p_partkey"), lit(23)) === 0)
      .select(col("p_partkey").as("business_id")).orderBy("business_id").limit(110)
      .union(p.filter(pmod(col("p_partkey"), lit(101)) === 0)
        .select((col("p_partkey") + 10000000L).as("business_id")).orderBy("business_id").limit(20))
    // Prune the PROFILE build to the grid's entities (round 14, guide
    // §3.2 semi-join pre-filter): q75/q76 read profiles only for grid
    // pairs, but userProfiles otherwise folds rated×bizProf for EVERY
    // user (the gate's dominant shuffle) and profileCosine's norm
    // aggregates run over every entity. Values are untouched: a user's
    // profile is a function of that user's own reviews and the GLOBAL
    // tfidf/df table (which stays unpruned — bizProfFull feeds the
    // user-profile fold so non-grid rated businesses still contribute),
    // and the shifted synthetic grid ids never had profiles either way.
    val userProf = ContentBased.userProfiles(
      reviews.join(pu, Seq("user_id"), "left_semi"), bizProfFull).cache()
    val bizProf = bizProfFull.join(pb, Seq("business_id"), "left_semi").cache()
    (reviews, userProf, bizProf, pu.crossJoin(pb))
  }

  /** M7: all three decision rules (linear slope=0.7 bias=0.5, geometric,
    * constant — reference models/content_based_model.py:516-524 +
    * config/config_content.json defaults), tagged with the decision branch. */
  val q75 = QueryDef(
    "q75_content_rules",
    s"""WITH $bizTextCte,
       |$reviewsCtes,
       |$tfidfCtes,
       |$profileCtes,
       |$predictCtes
       |SELECT rule, user_id, business_id, cos, decision, pred FROM (
       |${ruleSql("constant", "5.0 * cos")}
       |UNION ALL
       |${ruleSql("geometric", "cos * user_avg + (1.0 - cos) * biz_avg")}
       |UNION ALL
       |${ruleSql("linear", "user_avg + 0.7 * (cos - 0.5)")}) t
       |ORDER BY rule, user_id, business_id""".stripMargin) { (spark, dir) =>
    import ContentBased.DecisionRule
    val (reviews, userProf, bizProf, pairs) = sharedInputs(spark, dir)
    Seq("constant" -> DecisionRule.Constant,
        "geometric" -> DecisionRule.Geometric,
        "linear" -> DecisionRule.Linear())
      .map { case (nm, rule) =>
        ContentBased.predictRuled(pairs, reviews, userProf, bizProf, rule)
          .select(lit(nm).as("rule"), col("user_id"), col("business_id"),
            col("cos"), col("decision"), col("pred"))
      }
      .reduce(_ union _)
      .orderBy("rule", "user_id", "business_id")
  }

  /** P10: per-decision-branch RMSE breakdown of the geometric rule against
    * the observed ratings (reference scripts/evaluate.py:104-121). */
  val q76 = QueryDef(
    "q76_rmse_by_decision",
    s"""WITH $bizTextCte,
       |$reviewsCtes,
       |$tfidfCtes,
       |$profileCtes,
       |$predictCtes,
       |preds AS (${ruleSql("geometric", "cos * user_avg + (1.0 - cos) * biz_avg")}),
       |gt AS (
       |  SELECT user_id, business_id, stars FROM rdedup
       |  UNION ALL
       |  SELECT user_id, business_id, 3.0 AS stars FROM pairs
       |  WHERE user_id >= 10000000 OR business_id >= 10000000)
       |SELECT decision,
       |  (round((sqrt(${ds("(pred - stars) * (pred - stars)")} / COUNT(pred))) + 1e-9, 6) + 0.0) AS rmse,
       |  COUNT(pred) AS n
       |FROM preds JOIN gt USING (user_id, business_id)
       |WHERE isfinite(pred)
       |GROUP BY decision
       |ORDER BY decision""".stripMargin) { (spark, dir) =>
    val (reviews, userProf, bizProf, pairs) = sharedInputs(spark, dir)
    val preds = ContentBased.predictRuled(pairs, reviews, userProf, bizProf,
      ContentBased.DecisionRule.Geometric)
    // Observed ratings only ever land in the 'both' branch (a reviewed
    // pair implies both averages exist), so the breakdown gate would
    // never see the other arms; synthetic held-out ratings for the
    // shifted-id grid rows put user_only/biz_only/cold in the output too.
    val synth = pairs
      .filter(col("user_id") >= 10000000L || col("business_id") >= 10000000L)
      .select(col("user_id"), col("business_id"), lit(3.0).as("stars"))
    val gt = graft.model.Recommender.dedupReviews(reviews).union(synth)
    graft.model.Recommender.rmseByDecision(preds, gt)
      .orderBy("decision")
  }

  /** M9: the reference's selectable profile encodings — 'onehot' (binary
    * presence) and 'continuous' (GLOBAL top-term TF-IDF value, the SURVEY
    * §7.3.2 trap) — for both entity kinds, hash-verified. */
  val q84 = QueryDef(
    "q84_profile_encodings",
    s"""WITH $bizTextCte,
       |$reviewsCtes,
       |$tfidfCtes,
       |btok AS (SELECT DISTINCT business_id AS entity_id, term FROM tok),
       |utok AS (
       |  SELECT DISTINCT r.user_id AS entity_id, t.term
       |  FROM rdedup r JOIN tok t ON r.business_id = t.business_id)
       |SELECT encoding, kind, entity_id, term, w FROM (
       |  SELECT 'onehot' AS encoding, 'biz' AS kind, b.entity_id, b.term, 1.0 AS w
       |  FROM btok b JOIN vocab v ON b.term = v.term
       |  UNION ALL
       |  SELECT 'continuous', 'biz', b.entity_id, b.term, v.max_tfidf
       |  FROM btok b JOIN vocab v ON b.term = v.term
       |  UNION ALL
       |  SELECT 'onehot', 'user', u.entity_id, u.term, 1.0
       |  FROM utok u JOIN vocab v ON u.term = v.term
       |  UNION ALL
       |  SELECT 'continuous', 'user', u.entity_id, u.term, v.max_tfidf
       |  FROM utok u JOIN vocab v ON u.term = v.term) t
       |ORDER BY encoding, kind, entity_id, term""".stripMargin) { (spark, dir) =>
    val bt = bizTextDF(spark, dir)
    val tfidf = ContentBased.bizTfidf(bt).cache()
    val vocab = ContentBased.vocabulary(tfidf, V).cache()
    // bizTok from the CACHED tfidf instead of a fresh tokenize pass
    // (round 15, guide §2.4): tfidf already holds exactly the distinct
    // (business, term) pairs — the old explode + vocab-join + distinct
    // chain re-tokenized the whole corpus a second time (third, before
    // bizTfidf's own df leg was deduplicated) to rebuild the same set.
    // Prune to the vocabulary BEFORE the user fan-out join: the
    // encoding only keeps vocab terms anyway, and joining rated pairs
    // against the full token table first multiplies every rater by every
    // token of the business (~40x more rows for identical output).
    // cache both pruned token tables: they are small (entities × ≤V vocab
    // terms) and each feeds TWO union arms
    val bizTok = tfidf.select(col("business_id").as("entity_id"), col("term"))
      .join(vocab.select("term"), "term")
      .cache()
    // distinct ONCE at build (a user rating two businesses sharing a
    // term duplicates (user, term)); the arms then pass
    // assumeDistinct — four per-arm set-semantics shuffles become one
    val userTok = graft.model.Recommender.dedupReviews(Tables.reviews(spark, dir))
      .select(col("user_id"), col("business_id"))
      .join(bizTok.select(col("entity_id").as("business_id"), col("term")), "business_id")
      .select(col("user_id").as("entity_id"), col("term"))
      .distinct()
      .cache()
    val arms = for {
      enc <- Seq("onehot", "continuous")
      (kind, toks) <- Seq("biz" -> bizTok, "user" -> userTok)
    } yield ContentBased.encodedProfiles(toks, vocab, enc, assumeDistinct = true)
      .select(lit(enc).as("encoding"), lit(kind).as("kind"),
        col("entity_id"), col("term"), col("w"))
    arms.reduce(_ union _).orderBy("encoding", "kind", "entity_id", "term")
  }

  /** S9: sparse-artifact round-trip with a TRUE oracle — user profiles go
    * long-form → (size, indices[], values[]) JSON lines → back to long
    * form, and must still hash-match DuckDB computing the profiles
    * directly from the base tables. */
  val q89 = QueryDef(
    "q89_sparse_artifact_roundtrip",
    s"""WITH $bizTextCte,
       |$reviewsCtes,
       |$tfidfCtes,
       |$profileCtes
       |SELECT user_id, term, uw FROM uprof
       |WHERE user_id % 31 = 0
       |ORDER BY user_id, term""".stripMargin) { (spark, dir) =>
    import graft.sources.ModelIO
    val tfidf = ContentBased.bizTfidf(bizTextDF(spark, dir)).cache()
    val vocab = ContentBased.vocabulary(tfidf, V).cache()
    val bizProf = ContentBased.bizProfiles(tfidf, vocab)
    val uprof = ContentBased.userProfiles(Tables.reviews(spark, dir), bizProf)
      .filter(pmod(col("user_id"), lit(31)) === 0)
    val vocabIndex = vocab
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("max_tfidf").desc, col("term"))) - 1)
      .select("term", "idx").cache()
    // pid-keyed path + overwrite (TempPaths): stable within a run, safe
    // across concurrent runs, deleted at exit
    val tmp = graft.core.TempPaths.gatePath("sparse_gate")
    ModelIO.saveSparseArtifact(
      uprof.select(col("user_id").as("entity_id"), col("term"), col("uw").as("w")),
      vocabIndex, V, s"$tmp/profiles")
    ModelIO.loadSparseArtifact(spark, s"$tmp/profiles", vocabIndex)
      .select(col("entity_id").as("user_id"), col("term"), col("w").as("uw"))
      .orderBy("user_id", "term")
  }

  val all: Seq[QueryDef] = Seq(q70, q71, q72, q75, q76, q84, q89)
}
