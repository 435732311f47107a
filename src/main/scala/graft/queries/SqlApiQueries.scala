package graft.queries

import graft.core.{Cross, Tables}
import graft.functions.{GraftFunctions, TextSql, VectorSql}
import graft.streaming.Replay

/** Pure-SQL API gates: the graft_* function surface registered into the
  * session's FunctionRegistry and driven entirely through `spark.sql`,
  * proving a SQL-only user reaches the same operators (and the same
  * oracle-verified results) as the DataFrame API — both lower to the
  * identical Column expressions.
  */
object SqlApiQueries {

  /** Scalar surface from SQL: tokenization, language-ID, content-token
    * counts, fingerprint hashing — grouped per language. */
  val q102 = QueryDef(
    "q102_sql_scalar_api",
    s"""WITH d AS (
       |  SELECT doc_id,
       |         ${TextSql.langId(TextSql.tokens("text"))} AS lang,
       |         len(${TextSql.contentTokens("text")}) AS n_content,
       |         ${Cross.hash64Sql(TextSql.fingerprint("text"))} % 1000 AS fp_bucket
       |  FROM documents)
       |SELECT lang, COUNT(*) AS n, SUM(n_content)::BIGINT AS total_content,
       |       MIN(fp_bucket) AS min_bucket
       |FROM d GROUP BY lang
       |ORDER BY lang""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("graft_docs")
    spark.sql(
      """WITH d AS (
        |  SELECT doc_id,
        |         graft_lang_id(graft_tokens(text)) AS lang,
        |         size(graft_content_tokens(text)) AS n_content,
        |         graft_hash64(graft_fingerprint(text)) % 1000 AS fp_bucket
        |  FROM graft_docs)
        |SELECT lang, COUNT(*) AS n, SUM(n_content) AS total_content,
        |       MIN(fp_bucket) AS min_bucket
        |FROM d GROUP BY lang
        |ORDER BY lang""".stripMargin)
  }

  /** The bounded top-k AGGREGATE from SQL (graft_top_k + posexplode):
    * per-label top-2 vectors by L2 norm — the same TopKPairs plan the
    * DataFrame path uses, reached through the function registry. */
  val q103 = QueryDef(
    "q103_sql_topk_agg",
    s"""WITH n AS (
       |  SELECT label, vec_id, ${VectorSql.norm2("embedding")} AS nrm
       |  FROM embeddings),
       |ranked AS (
       |  SELECT label, vec_id, nrm,
       |         row_number() OVER (PARTITION BY label ORDER BY nrm DESC, vec_id) AS rank
       |  FROM n)
       |SELECT label, rank, vec_id, ${Cross.r6Sql("nrm")} AS nrm
       |FROM ranked WHERE rank <= 2
       |ORDER BY label, rank""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("graft_emb")
    spark.sql(
      """SELECT label, pos + 1 AS rank, e.id AS vec_id, graft_r6(e.w) AS nrm
        |FROM (
        |  SELECT label, graft_top_k(graft_norm2(embedding), vec_id, 2) AS top
        |  FROM graft_emb GROUP BY label)
        |LATERAL VIEW posexplode(top) t AS pos, e
        |ORDER BY label, rank""".stripMargin)
  }

  /** Z-order keys from pure SQL (graft_zvalue): the same bit-interleave
    * expression the DataFrame path uses (q117), reached through the
    * function registry. */
  val q126 = QueryDef(
    "q126_sql_zvalue",
    s"""WITH e AS (
       |  SELECT event_id, user_id, floor(epoch(ts))::BIGINT // 3600 AS hr FROM events)
       |SELECT event_id,
       |  ${graft.operators.Layout.zValueSql("user_id", "hr", 12)} AS z
       |FROM e
       |ORDER BY event_id""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_events")
    spark.sql(
      """SELECT event_id, graft_zvalue(user_id, sec div 3600, 12) AS z
        |FROM graft_events
        |ORDER BY event_id""".stripMargin)
  }

  /** LSH banding from pure SQL: the native zero-shuffle signature
    * expression (graft_shingle_hashes → graft_minhash_sigs, the q138
    * path) driven entirely through the function registry, band keys cut
    * from the signature ARRAY with slice (no ordered aggregation
    * needed — array order IS h_idx order), then the q32 band-bucket
    * self-join. Proves a SQL-only user can run the dedup blocker
    * end-to-end; the oracle is the q32 exploded-relation formulation,
    * so the two formulations' equivalence is re-proven through the SQL
    * surface. */
  val q175 = QueryDef(
    "q175_sql_lsh_candidates",
    s"""WITH tok AS (SELECT doc_id, ${TextSql.tokens("text")} AS tk FROM documents),
       |sh AS (SELECT DISTINCT doc_id, unnest(${TextSql.shingles("tk", 3)}) AS s FROM tok),
       |hx AS (SELECT doc_id, ${Cross.hash31Sql("s")} AS x FROM sh),
       |sigs AS (
       |  SELECT doc_id, h_idx, MIN(${graft.functions.HashFns.happlySql}) AS sig
       |  FROM hx CROSS JOIN ${graft.functions.HashFns.minhashParamsSql(16)}
       |  GROUP BY doc_id, h_idx),
       |bands AS (
       |  SELECT doc_id, h_idx // 2 AS band,
       |         string_agg(sig::VARCHAR, ',' ORDER BY h_idx) AS bkey
       |  FROM sigs GROUP BY doc_id, h_idx // 2)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("graft_docs")
    spark.sql(
      """WITH sigs AS (
        |  SELECT doc_id,
        |    graft_minhash_sigs(graft_shingle_hashes(graft_shingles(graft_tokens(text), 3)), 16) AS sig
        |  FROM graft_docs
        |  WHERE size(graft_shingles(graft_tokens(text), 3)) > 0),
        |bands AS (
        |  SELECT doc_id, band, concat_ws(',', slice(sig, band * 2 + 1, 2)) AS bkey
        |  FROM sigs LATERAL VIEW explode(sequence(0, 7)) b AS band)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b
        |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** The drift-bin and pack-class scalars from SQL: a pure-SQL user
    * bins event values for a PSI table (graft_psi_bin — the same
    * clamped key q211/q214 fold on) and assigns harmonic size classes
    * to documents (graft_pack_class — q213's class arithmetic),
    * cross-tabulated per event type / size class. */
  val q226 = QueryDef(
    "q226_sql_drift_pack",
    s"""WITH b AS (
       |  SELECT event_type,
       |         LEAST(GREATEST(floor((value - 0.0) / 50.0)::BIGINT, 0), 9) AS bin
       |  FROM events),
       |e AS (SELECT event_type, bin, COUNT(*) AS n FROM b GROUP BY 1, 2),
       |t AS (SELECT doc_id, len(${TextSql.tokens("text")})::BIGINT AS ntok FROM documents),
       |pc AS (
       |  SELECT CASE WHEN ntok > 64 THEN -1
       |              WHEN ntok <= 0 THEN 8
       |              ELSE LEAST(8, 64 // ntok) END AS size_class,
       |         COUNT(*) AS n_docs
       |  FROM t GROUP BY 1)
       |SELECT 'psi' AS family, event_type AS k, bin AS v, n FROM e
       |UNION ALL
       |SELECT 'pack', size_class::VARCHAR, NULL, n_docs FROM pc
       |ORDER BY family, k, v""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_events")
    Tables.documents(spark, dir).createOrReplaceTempView("graft_docs")
    spark.sql(
      """WITH e AS (
        |  SELECT event_type, graft_psi_bin(value, 0.0, 500.0, 10) AS bin,
        |         COUNT(*) AS n
        |  FROM graft_events GROUP BY 1, 2),
        |pc AS (
        |  SELECT graft_pack_class(size(graft_tokens(text)), 64, 8) AS size_class,
        |         COUNT(*) AS n_docs
        |  FROM graft_docs GROUP BY 1)
        |SELECT 'psi' AS family, event_type AS k, bin AS v, n FROM e
        |UNION ALL
        |SELECT 'pack', CAST(size_class AS STRING), NULL, n_docs FROM pc
        |ORDER BY family, k, v""".stripMargin)
  }

  /** The Misra–Gries AGGREGATE from pure SQL (graft_misra_gries): the
    * q270 guarantee reduction with the summary built by
    * `spark.sql(...)` through the function registry — same
    * MisraGriesSummary plan as the DataFrame path, same
    * order-independent oracle. */
  val q278 = QueryDef(
    "q278_sql_misra_gries",
    """WITH exact AS (SELECT event_type AS key, COUNT(*) AS n FROM events GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tn FROM exact)
      |SELECT key, CAST(n AS BIGINT) AS n,
      |       CAST(1 AS BIGINT) AS present, CAST(1 AS BIGINT) AS bounds_ok
      |FROM exact CROSS JOIN tot
      |WHERE n * 9 > tn
      |ORDER BY key""".stripMargin) { (spark, dir) =>
    GraftFunctions.register(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_ev")
    val summary = spark.sql(
      """SELECT e.key AS key, e.est AS est
        |FROM (SELECT graft_misra_gries(CAST(event_type AS STRING), 8) AS s FROM graft_ev)
        |LATERAL VIEW explode(s) t AS e""".stripMargin)
    graft.operators.Sketches.misraGriesHeavyFrom(summary,
      Tables.events(spark, dir), org.apache.spark.sql.functions.col("event_type"), k = 8)
  }

  /** The KMV sketch from pure SQL (graft_kmv over graft_hash64): the
    * q280 global sketch built by `spark.sql(...)` through the function
    * registry — same KmvMinValues plan as the DataFrame path, same
    * raw-sketch oracle (the strongest sketch verdict: the KMV of a
    * fixed multiset is unique, so SQL path ≡ DataFrame path ≡ DuckDB
    * mirror, value for value). */
  val q282 = QueryDef("q282_sql_kmv", EventQueries.q280.oracle) { (spark, dir) =>
    GraftFunctions.register(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_ev_kmv")
    val folded = spark.sql(
      """SELECT graft_kmv(graft_hash64(CAST(user_id AS STRING)), 64) AS sketch
        |FROM graft_ev_kmv""".stripMargin)
    graft.operators.Sketches.kmvEstimate(folded, 64)
      .select("rn", "h", "n_kept", "est_micro")
      .orderBy("rn")
  }

  /** The quantile sketch from pure SQL — BOTH registry entries in one
    * statement: `graft_gk` builds per-event-type summaries, and
    * `graft_gk_merge` folds the summary OBJECTS into the global sketch
    * (the roll-up aggregate, no raw rescan). Same guarantee reduction
    * and oracle as the streaming fold (q288): the merged sketch is
    * bound by the same order-independent rank-error guarantees however
    * it was accumulated. */
  val q289 = QueryDef("q289_sql_gk", EventQueries.q288.oracle) { (spark, dir) =>
    import org.apache.spark.sql.functions.col
    GraftFunctions.register(spark)
    Tables.events(spark, dir).createOrReplaceTempView("graft_ev_gk")
    val sk = spark.sql(
      """SELECT graft_gk_merge(sk, 2048) AS sk FROM (
        |  SELECT event_type, graft_gk(CAST(value AS DOUBLE), 2048) AS sk
        |  FROM graft_ev_gk GROUP BY event_type)""".stripMargin)
    val est = graft.operators.Sketches.gkQuantiles(sk, Seq(0.1, 0.5, 0.9))
    graft.operators.Sketches.gkRankCheck(est,
        Tables.events(spark, dir).select(col("value").cast("double").as("v")),
        Nil, epsDen = 40)
      .orderBy("phi")
  }

  /** The decayed counter from pure SQL: `graft_decayed(t, x, h)` folds
    * the one-pass rebasing aggregate per key in a plain GROUP BY —
    * same guarantee reduction and oracle as the streaming fold (q308):
    * exact n/t_ref anchors plus the n·1e-6 closeness flag against the
    * two-pass decimal reference. */
  val q309 = QueryDef("q309_sql_decayed", EventQueries.q308.oracle) { (spark, dir) =>
    import org.apache.spark.sql.functions.col
    GraftFunctions.register(spark)
    Tables.events(spark, dir)
      .selectExpr("CAST(event_type AS STRING) AS key",
        "CAST(sec AS LONG) AS t", "CAST(value AS DOUBLE) AS x")
      .createOrReplaceTempView("graft_ev_decayed")
    val folded = spark.sql(
      "SELECT key, graft_decayed(t, x, 86400) AS d FROM graft_ev_decayed GROUP BY key")
      .select(col("key"), col("d.n").as("n"), col("d.t_ref").as("t_ref"),
        col("d.sum").as("agg_sum"))
    EventQueries.decayedCheckFrame(spark, dir, folded)
  }

  /** The monitor-cube READ CONTRACT as one SQL view: the Update-mode
    * emission log of any [[graft.streaming.SlidingMonitor]] monitor
    * keys each (key, quantum)'s summaries by a per-key monotone
    * version, and the live cube is latest-version-per-(key, quantum) —
    * the `max_by(col, ver)` idiom every gate re-derives. Exposed once
    * so panel consumers (and the q323 gate) read the cube through one
    * definition. `cols` are the summary columns to carry (e.g. "sk", or
    * "n"/"entries"). */
  def monitorLatestSql(emissionsView: String, cols: Seq[String]): String = {
    require(cols.nonEmpty, "monitor cube read needs summary columns")
    val picks = cols.map(c => s"max_by($c, ver) AS $c").mkString(", ")
    s"SELECT key, q, $picks FROM $emissionsView WHERE q >= 0 GROUP BY key, q"
  }

  /** The COUNT-MIN monitor's cube read as one SQL view — the ADDITIVE
    * twin of [[monitorLatestSql]]: CM emissions are per-trigger DELTA
    * cells ([[graft.streaming.SlidingMonitor]]'s round-12 contract),
    * so the live cube is dedup-to-one-row-per-(key, quantum, version)
    * — the at-least-once idempotency key — then SUM per cell.
    * `SlidingMonitor.cmCubeFromDeltas` is this read as DataFrame
    * algebra; panel consumers on a SQL-only surface use this
    * definition. Returns (key, q, idx, cnt) rows. */
  def monitorDeltaSumSql(emissionsView: String): String =
    s"""SELECT key, q, idx, SUM(cnt) AS cnt FROM (
       |  SELECT key, q, ver, entries
       |  FROM $emissionsView WHERE q >= 0
       |  GROUP BY key, q, ver, entries) d
       |LATERAL VIEW inline(entries) cells
       |GROUP BY key, q, idx""".stripMargin

  /** The DECAYED-MG monitor's read as one SQL view — the third read
    * contract beside [[monitorLatestSql]] (replacement) and
    * [[monitorDeltaSumSql]] (additive): one row per LIVE key. The
    * subtlety this pins is the eviction-aware ORDER: versions restart
    * at 1 when an evicted key is re-admitted, so "latest" is
    * max_by(…, struct(t_ref, ver)) — event time first, bare `ver`
    * would serve stale pre-eviction rows — and a key whose
    * (t_ref, ver)-newest row is a tombstone (w = 0; tombstones carry
    * their lifetime's t_ref, so the struct totally orders the log) is
    * EVICTED and must not appear, rather than served empty. Returns
    * (key, t_ref, w, entries). */
  def monitorDecayedLatestSql(emissionsView: String): String =
    s"""SELECT key, s.t_ref AS t_ref, s.w AS w, s.entries AS entries FROM (
       |  SELECT key, max_by(struct(t_ref, w, entries), struct(t_ref, ver)) AS s
       |  FROM $emissionsView GROUP BY key)
       |WHERE s.w > 0""".stripMargin

  /** The MG monitor's cube read from pure SQL ([[monitorLatestSql]]):
    * replay the per-event-type heavy-hitter monitor, register its
    * emission log, and answer per (key, quantum) entirely in SQL —
    * exact n (the cube's n is the quantum's exact count whatever the
    * trigger cadence), the k-bound on the kept set, and the MG mass
    * invariant (Σ est ≤ n — a summary can never claim more mass than
    * its quantum holds). */
  val q323 = QueryDef(
    "q323_sql_monitor_cube",
    s"""SELECT event_type AS key, floor(epoch(ts))::BIGINT//3600 AS q,
       |       COUNT(*)::BIGINT AS n, 1::BIGINT AS k_ok, 1::BIGINT AS mass_ok
       |FROM events GROUP BY 1, 2 ORDER BY key, q""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.functions.{col, expr}
    import graft.streaming.{EventStreams, SlidingMonitor}
    val ev = Tables.events(spark, dir)
    val stream = Replay.of(ev.select(col("event_type").cast("string").as("key"),
      expr("sec div 3600").as("q"), col("user_id").cast("string").as("item")),
      "q323", 4).stream()
    EventStreams.runToCompletion(spark,
        SlidingMonitor.mgQuantumMonitor(stream, 32).toDF(),
        "q323_mg_emissions", mode = "update")
      .createOrReplaceTempView("graft_mg_emissions")
    spark.sql(
      s"""WITH cube AS (
         |  ${monitorLatestSql("graft_mg_emissions", Seq("n", "entries"))})
         |SELECT key, q, n,
         |       CAST(size(entries) <= 32 AS LONG) AS k_ok,
         |       CAST(aggregate(entries, 0L, (acc, e) -> acc + e.est) <= n
         |         AS LONG) AS mass_ok
         |FROM cube ORDER BY key, q""".stripMargin)
  }

  /** The monitor cube MATERIALIZED: the always-on MG monitor's
    * Update-mode emissions fold straight into the log-structured
    * serving table (foldLog: delta appends + CAS manifest + threshold
    * compaction) keyed by (key, quantum) with the monotone version as
    * the latest-wins rule — `monitorLatestSql` as a continuously
    * maintained TABLE instead of a view over the emission log. This is
    * the production panel topology end-to-end: monitor state → bounded
    * per-trigger emissions → incrementally compacted serving table, no
    * emission-log scan at read time. Verified with q323's oracle: the
    * served table's n per (key, quantum) is the exact count, the kept
    * set is k-bounded, and the MG mass invariant holds. */
  val q326 = QueryDef("q326_monitor_log_serving", q323.oracle) {
    (spark, dir) =>
    import org.apache.spark.sql.functions._
    import graft.streaming.{EventStreams, SlidingMonitor}
    val ev = Tables.events(spark, dir)
    val stream = Replay.of(ev.select(col("event_type").cast("string").as("key"),
      expr("sec div 3600").as("q"), col("user_id").cast("string").as("item")),
      "q326", 4).stream()
    val emissions = SlidingMonitor.mgQuantumMonitor(stream, 32).toDF()
      .withColumn("kq", concat_ws("#", col("key"), col("q")))
    val path = graft.core.TempPaths.gatePath("q326_serving")
    graft.core.TempPaths.clearDir(path)
    val served = EventStreams.runUpsertLogToCompletion(spark, emissions,
      path, name = "q326_monitor_serve", compactEvery = 3, mode = "update")(
      graft.operators.Cdc.compactLatest(_, "kq", "ver"))
    served
      .select(col("key"), col("q"), col("n"),
        (size(col("entries")) <= 32).cast("long").as("k_ok"),
        (aggregate(col("entries"), lit(0L), (acc, e) =>
          acc + e.getField("est")) <= col("n")).cast("long").as("mass_ok"))
      .orderBy("key", "q")
  }

  /** The monitor version contract UNDER REDELIVERY — the at-least-once
    * scenario the SlidingMonitor scaladoc documents, driven instead of
    * asserted. The COUNT-MIN monitor is the adversarial choice: its
    * emissions are ADDITIVE deltas, so a re-folded batch genuinely
    * double-counts unless the serving fold's no-op machinery holds
    * (MG/GK latest-wins reads are idempotent by content; sums are
    * not). The gate folds the delta emissions into the log-structured
    * serving table batch-by-batch and redelivers one batch TWICE —
    * once while its delta is still LIVE in the manifest (the
    * already-live check must skip the rewrite AND the re-commit) and
    * once after a compaction CONSUMED it (the consumed-batchId-range
    * check must make it a no-op; re-adding would fold its cells
    * twice). The served cube must then match a direct batch build
    * cell-for-cell, and each (key, quantum)'s row-0 mass must equal
    * the exact event count — any double-count inflates both. */
  val q331 = QueryDef(
    "q331_monitor_serving_redelivery",
    """SELECT event_type AS key, floor(epoch(ts))::BIGINT // 3600 AS q,
      |       COUNT(*)::BIGINT AS n, 1::BIGINT AS cells_match
      |FROM events GROUP BY 1, 2 ORDER BY key, q""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.functions._
    import graft.streaming.{EventStreams, SlidingMonitor}
    val ev = Tables.events(spark, dir)
    val emissions = cmEmissions(ev, "q331")
    val path = graft.core.TempPaths.gatePath("q331_serving")
    graft.core.TempPaths.clearDir(path)
    // additive serving fold (the shared cmAdditiveReduce): a valid
    // one-shot associative reduce (reduce(reduce(A) ∪ B) =
    // reduce(A ∪ B)), and exactly the fold a redelivered delta would
    // corrupt
    val reduce = SlidingMonitor.cmAdditiveReduce _
    val saved = java.nio.file.Files.createTempDirectory("graft_redeliver_saved")
    graft.core.TempPaths.register(saved)
    EventStreams.drain(emissions, "q331_redeliver", "update") { (batch, id) =>
      val slice = batch.select("key", "q", "entries")
      // keep the batch bytes so the post-compaction redelivery below
      // replays the REAL rows, not a recomputation
      slice.write.mode("overwrite").parquet(s"$saved/b$id")
      EventStreams.foldLog(path, slice, id, compactEvery = 3)(reduce)
      if (id == 1L) // at-least-once: duplicate of a still-LIVE batch
        EventStreams.foldLog(path,
          batch.sparkSession.read.parquet(s"$saved/b$id"), id,
          compactEvery = 3)(reduce)
    }
    // redeliver batch 0 AFTER a compaction consumed it: the manifest's
    // consumed-batchId ranges must no-op it
    EventStreams.foldLog(path, spark.read.parquet(s"$saved/b0"), 0L,
      compactEvery = 3)(reduce)
    val served = EventStreams.readLog(spark, path)(reduce)
    val direct = graft.operators.SlidingSketches.cmHourly(ev, col("user_id"),
      col("sec"), 3600L, depth = 4, width = 32, key = col("event_type"))
    cmCellsCheck(explodeCells(served, "cnt"), direct)
  }

  /** The per-event-type count-min monitor (depth 4, width 32) over a
    * 4-file replay of `ev`: its delta emissions. */
  private def cmEmissions(ev: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val stream = Replay.of(
      ev.select(col("user_id"), col("event_type"), col("sec")), name, 4).stream()
    graft.streaming.SlidingMonitor.cmQuantumMonitor(
      graft.operators.SlidingSketches.cmKeyRows(stream, col("user_id"), col("sec"),
        3600L, key = col("event_type")), depth = 4, width = 32).toDF()
  }

  /** (key, q, entries) → (key, q, idx, cnt-as-`name`) cell rows. */
  private def explodeCells(df: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col("key"), col("q"), explode(col("entries")).as("e"))
      .select(col("key"), col("q"), col("e.idx").as("idx"),
        col("e.cnt").as(name))
  }

  /** Compare a reconstructed CM cube (cell rows) against the direct
    * batch build: per (key, quantum), `cells_match` = every cell equal
    * on a full outer join, `n` = row-0 mass (row-0 cells partition the
    * events, so n is the exact count — any double-fold inflates it,
    * any lost delta deflates it). */
  private def cmCellsCheck(cells: org.apache.spark.sql.DataFrame,
      direct: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    cells
      .join(explodeCells(direct, "dcnt"), Seq("key", "q", "idx"), "full")
      .groupBy("key", "q")
      .agg(sum(when(col("cnt") === col("dcnt"), 0L).otherwise(1L)).as("bad"),
        sum(when(col("idx") < 32L, col("cnt")).otherwise(0L)).as("n"))
      .select(col("key"), col("q"), col("n"),
        (col("bad") === 0L).cast("long").as("cells_match"))
      .orderBy("key", "q")
  }

  /** The CM monitor's cube from pure SQL ([[monitorDeltaSumSql]]) —
    * q323's read-contract gate for the additive family member: replay
    * the per-event-type count-min monitor, register its delta emission
    * log as a view, reconstruct the cube entirely in SQL (distinct
    * (key, q, ver, cell) then sum), and require cell-for-cell equality
    * with the direct batch build plus the exact row-0 count per
    * quantum. */
  val q333 = QueryDef(
    "q333_sql_cm_cube",
    """SELECT event_type AS key, floor(epoch(ts))::BIGINT // 3600 AS q,
      |       COUNT(*)::BIGINT AS n, 1::BIGINT AS cells_match
      |FROM events GROUP BY 1, 2 ORDER BY key, q""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.functions.col
    import graft.operators.{SlidingSketches => SS}
    import graft.streaming.{EventStreams, SlidingMonitor}
    val ev = Tables.events(spark, dir)
    EventStreams.runToCompletion(spark, cmEmissions(ev, "q333"),
        "q333_cm_emissions", mode = "update")
      .createOrReplaceTempView("graft_cm_emissions")
    val cube = spark.sql(monitorDeltaSumSql("graft_cm_emissions"))
    val direct = SS.cmHourly(ev, col("user_id"), col("sec"), 3600L,
      depth = 4, width = 32, key = col("event_type"))
    cmCellsCheck(cube, direct)
  }

  /** PINNED read of the MONITOR serving table under a racing
    * compactor — q338's contract on the ADDITIVE reduce family: the
    * ANN gate exercises latest-wins, where a double-applied reduce is
    * masked by idempotence-per-key; the CM cube's additive fold is the
    * adversarial dual (any torn read that sees a delta twice, or a
    * base and its consumed delta together, INFLATES cells — exactly
    * what q331 proves redelivery cannot do, now required while the
    * files churn underneath the reader). The fixpoint shortcut is also
    * exercised on this family: a compacted manifest's pinned read
    * skips the reduce because summing one-row-per-(key, q) groups is
    * content-identity. Every raced probe must row-equal the quiesced
    * cube; the final frame re-checks cells against the direct batch
    * build, so `cells_match` AND `race_ok` both ride the hash. */
  val q345 = QueryDef(
    "q345_monitor_pinned_read",
    """SELECT event_type AS key, floor(epoch(ts))::BIGINT // 3600 AS q,
      |       COUNT(*)::BIGINT AS n, 1::BIGINT AS cells_match,
      |       1::BIGINT AS race_ok
      |FROM events GROUP BY 1, 2 ORDER BY key, q""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.functions.col
    import graft.operators.{SlidingSketches => SS}
    import graft.streaming.{EventStreams, SlidingMonitor}
    val ev = Tables.events(spark, dir)
    val emissions = cmEmissions(ev, "q345")
    val path = graft.core.TempPaths.gatePath("q345_serving")
    graft.core.TempPaths.clearDir(path)
    val reduce = SlidingMonitor.cmAdditiveReduce _
    EventStreams.drain(emissions, "q345_monitor_serve", "update") { (batch, id) =>
      EventStreams.foldLog(path, batch.select("key", "q", "entries"), id,
        compactEvery = 3)(reduce)
    }
    EventStreams.compactLog(spark, path)(reduce)
    val expected = EventStreams.readCompactedBase(spark, path)
      .orderBy("key", "q").collect().toSeq
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val rotator = new Thread(() => {
      try while (!stop.get())
        EventStreams.compactLog(spark, path)(reduce)
      catch { case t: Throwable => errs.add(t) }
    }, "q345-rotator")
    rotator.start()
    var matched = 0
    val nProbes = 6
    try (1 to nProbes).foreach { _ =>
      val got = EventStreams.withPinnedRead(spark, path)(reduce)(
        df => df.orderBy("key", "q").collect().toSeq)
      if (got == expected) matched += 1
    } finally { stop.set(true); rotator.join() }
    val raceOk = matched == nProbes && errs.isEmpty
    val served = EventStreams.readCompactedBase(spark, path)
    val direct = SS.cmHourly(ev, col("user_id"), col("sec"), 3600L,
      depth = 4, width = 32, key = col("event_type"))
    cmCellsCheck(explodeCells(served, "cnt"), direct)
      .withColumn("race_ok",
        org.apache.spark.sql.functions.lit(if (raceOk) 1L else 0L))
      .orderBy("key", "q")
  }

  /** The decayed-MG monitor's cube from pure SQL
    * ([[monitorDecayedLatestSql]]) — q323's read-contract gate for the
    * dm family, driven UNDER KEY EVICTION because eviction is exactly
    * what makes the read subtle: the time-partitioned ordered replay
    * (q330's) evicts ~30% of the user×type keys mid-stream, versions
    * restart on re-admission, and the gate requires (a) the SQL view's
    * key set to equal the PREDICTED live-key set both ways (an evicted
    * key served = stale read; a live key missing = over-eviction) and
    * (b) the served sketches to pass the q315 weighted-MG guarantee
    * reduction against exact decayed masses on those keys. */
  val q335 = QueryDef(
    "q335_sql_dm_monitor_cube",
    EventQueries.decayedMgEvictOracle(Seq("keys_ok"))) { (spark, dir) =>
    import org.apache.spark.sql.functions._
    import graft.streaming.{EventStreams, SlidingMonitor}
    val ev = Tables.events(spark, dir)
    val keyCol = concat(col("user_id").cast("string"), lit("_"),
      col("event_type").cast("string"))
    val itemCol = floor(col("value")).cast("long").cast("string")
    val halfLife = 3600L
    val retention = 64L * halfLife
    val b = MonitorGate.bounds(ev)
    val stream = Replay.ordered(ev, _.select(keyCol.as("key"),
      col("sec").cast("long").as("t"), itemCol.as("item")), "q335", b.smin, b.smax, 1L)
      .stream()
    EventStreams.runToCompletion(spark,
        SlidingMonitor.decayedMgMonitor(stream, halfLife, 8, evictKeys = true,
          retentionHalfLives = 64L).toDF(),
        "q335_dm_emissions", mode = "update")
      .createOrReplaceTempView("graft_dm_emissions")
    val cube = spark.sql(monitorDecayedLatestSql("graft_dm_emissions"))
      .localCheckpoint(true)
    val expectedLive = ev
      .select(keyCol.as("key"), col("sec").cast("long").as("sec"))
      .groupBy("key").agg(max("sec").as("t_max_k"))
      .filter(MonitorGate.Seconds.live(b, retention))
      .select("key")
      .localCheckpoint(true)
    // the SQL view must serve EXACTLY the predicted live keys
    val keysOk = MonitorGate.sameKeys(cube.select("key"), expectedLive)
    val sk = cube
      .select(col("key"), col("t_ref").as("t_sk"), col("w").as("w_sk"),
        explode(col("entries")).as("e"))
      .select(col("key"), col("t_sk"), col("w_sk"),
        col("e.item").as("item"), col("e.est").as("est"))
    val evLive = ev.select(keyCol.as("key"), col("sec").cast("long").as("sec"),
        itemCol.as("item"))
      .join(broadcast(expectedLive), Seq("key"), "left_semi")
    graft.operators.Analytics.decayedMgHeavyPerKeyFrame(evLive,
        col("key"), col("item"), col("sec"), halfLifeSec = halfLife, k = 8, sk)
      .withColumn("keys_ok", lit(if (keysOk) 1L else 0L))
      .orderBy("key", "item")
  }

  /** GK rank queries from pure SQL over the MONITOR cube — the read
    * that completes the four-family SQL contract (mg latest-wins
    * q323, cm additive q333, dm eviction-aware q335, gk THIS): the
    * always-on GK monitor's emission log resolves to the live cube via
    * [[monitorLatestSql]] and each (key, quantum)'s p50/p99 is
    * answered by the `graft_gk_q` SCALAR over the served summary
    * struct — a SQL-only panel consumer needs no Scala and no raw-data
    * rescan. Verified with the standard guarantee reduction: exact n
    * per quantum, and each estimate's exact rank range within n/40 of
    * the target rank (guaranteed by the merge-and-reduce bound at
    * m = 2048, so the oracle emits the literal). */
  val q336 = QueryDef(
    "q336_sql_gk_monitor_quantiles",
    """WITH g AS (SELECT event_type AS key, floor(epoch(ts))::BIGINT//3600 AS q,
      |           COUNT(*)::BIGINT AS n FROM events GROUP BY 1, 2),
      |p AS (SELECT CAST(unnest([0.5, 0.99]) AS DOUBLE) AS phi)
      |SELECT key, q, phi, n, 1 + CAST(round(phi*(n-1)) AS BIGINT) AS r,
      |       1::BIGINT AS rank_ok
      |FROM g CROSS JOIN p ORDER BY key, q, phi""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.functions.{col, expr}
    import graft.streaming.{EventStreams, SlidingMonitor}
    GraftFunctions.register(spark)
    val ev = Tables.events(spark, dir)
    val stream = Replay.of(ev.select(col("event_type").cast("string").as("key"),
      expr("sec div 3600").as("q"), col("value").cast("double").as("v")),
      "q336", 4).stream()
    EventStreams.runToCompletion(spark,
        SlidingMonitor.gkQuantumMonitor(stream, 2048).toDF(),
        "q336_gk_emissions", mode = "update")
      .createOrReplaceTempView("graft_gk_emissions")
    val est = spark.sql(
      s"""WITH cube AS (
         |  ${monitorLatestSql("graft_gk_emissions", Seq("sk"))}),
         |est AS (
         |  SELECT key, q, CAST(0.5 AS DOUBLE) AS phi, sk.n AS n,
         |         graft_gk_q(sk, 0.5) AS est FROM cube
         |  UNION ALL
         |  SELECT key, q, CAST(0.99 AS DOUBLE) AS phi, sk.n AS n,
         |         graft_gk_q(sk, 0.99) AS est FROM cube)
         |SELECT key, q, phi, n,
         |       1L + CAST(round(phi * (n - 1L)) AS BIGINT) AS r, est
         |FROM est""".stripMargin)
    graft.operators.Sketches.gkRankCheck(est,
        ev.select(col("event_type").cast("string").as("key"),
          expr("sec div 3600").as("q"),
          col("value").cast("double").as("v")),
        Seq("key", "q"), epsDen = 40)
      .orderBy("key", "q", "phi")
  }

  val all: Seq[QueryDef] = Seq(q102, q103, q126, q175, q226, q278, q282, q289, q309, q323, q326, q331, q333, q335, q336, q345)
}
