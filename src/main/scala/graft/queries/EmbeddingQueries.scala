package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Cross, Tables}
import graft.functions.{HashFns, TextSql, VectorFns, VectorSql}
import graft.operators.SimilaritySearch

/** Similarity-search gate queries over `embeddings` (64-dim float
  * vectors): exact brute-force kNN, hyperplane-LSH ANN, label-blocked
  * near-dup, per-dimension statistics, IVF coarse assignment.
  */
object EmbeddingQueries {

  private val Dims = 64
  private val Planes = 8
  private val Cells = 4

  /** Per-query top-`k` of `scored(query_id, neighbor_id, cos)` by cosine
    * (ties to the lower id), cosine rounded to 6 dp. */
  private def cosTopKSql(k: Int): String =
    s"""ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, (round((cos) + 1e-9, 6) + 0.0) AS cos
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Per-query top-3 of `from(query_id, neighbor_id, <dist>)` by ascending
    * `dist` (ties to the lower id). */
  private def ascTopKSql(dist: String, from: String): String =
    s"""ranked AS (
       |  SELECT query_id, neighbor_id, $dist,
       |         row_number() OVER (PARTITION BY query_id ORDER BY $dist, neighbor_id) AS rank
       |  FROM $from)
       |SELECT query_id, rank, neighbor_id, $dist
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Each vector L2-normalized once with its label: `normed(vec_id,
    * label, ne)`, `ne` NULL for a zero vector. */
  private def labelledNormedCte: String =
    s"""nrm AS (
       |  SELECT vec_id, label, embedding,
       |         ${VectorSql.norm2("embedding")} AS nrm
       |  FROM embeddings),
       |normed AS (
       |  SELECT vec_id, label,
       |    CASE WHEN nrm = 0 THEN NULL
       |    ELSE list_transform(range(1, len(embedding) + 1), i -> embedding[i]::DOUBLE / nrm)
       |    END AS ne
       |  FROM nrm)""".stripMargin

  /** Each nonzero vector L2-normalized once: `normed(vec_id, ne)`. */
  private def normedCte: String =
    s"""nrm AS (
       |  SELECT vec_id, embedding, ${VectorSql.norm2("embedding")} AS nrm
       |  FROM embeddings),
       |normed AS (
       |  SELECT vec_id,
       |    list_transform(range(1, len(embedding) + 1),
       |      i -> embedding[i]::DOUBLE / nrm) AS ne
       |  FROM nrm WHERE nrm > 0)""".stripMargin

  /** One `UNION ALL` arm per seed centroid: `cols` of every `source` row
    * with its cell and squared distance `d` to that centroid. */
  private def ivfArmsSql(cols: String, source: String): String =
    (0 until Cells).map { c =>
      val w = HashFns.litVector(s"centroid-$c", Dims)
      s"SELECT $cols, $c AS cell, ${VectorSql.sqDistLit("embedding", w)} AS d FROM $source"
    }.mkString("\nUNION ALL\n")

  /** Each `source` vector's nearest seed centroid (ties to the lower cell)
    * and its rounded distance. */
  private def ivfAssignSql(source: String): String =
    s"""dists AS (
       |${ivfArmsSql("vec_id, label", source)}),
       |ranked AS (
       |  SELECT vec_id, label, cell, d,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM dists)
       |SELECT vec_id, label, cell, (round((d) + 1e-9, 6) + 0.0) AS dist
       |FROM ranked WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  /** The probe of `q(query_id, qe, cell)` into the `corpus` rows of its
    * cell: cosine top-3 per query. */
  private def ivfProbeSql(corpus: String): String =
    s"""scored AS (
       |  SELECT query_id, a.vec_id AS neighbor_id,
       |         ${VectorSql.cosine("qe", "a.embedding")} AS cos
       |  FROM q JOIN $corpus a USING (cell) WHERE query_id <> a.vec_id),
       |${cosTopKSql(3)}""".stripMargin

  /** Exact cosine top-5 for a small broadcast query set. */
  val q40 = QueryDef(
    "q40_knn_brute",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |scored AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         ${VectorSql.cosine("qe", "embedding")} AS cos
       |  FROM q CROSS JOIN embeddings WHERE query_id <> vec_id),
       |${cosTopKSql(5)}""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, 5)
      .orderBy("query_id", "rank")
  }

  /** Label-blocked near-duplicate vectors: cosine ≥ 0.98 within a label.
    * Vectors are L2-normalized once per row, so each pair costs one dot
    * fold instead of three (dot + two norms) — the per-pair work is the
    * hot loop at scale. */
  val q41 = QueryDef(
    "q41_embed_neardup",
    s"""WITH $labelledNormedCte
       |SELECT vec_a, vec_b, (round((cos) + 1e-9, 6) + 0.0) AS cos FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    list_sum(list_transform(range(1, len(a.ne) + 1), i -> a.ne[i] * b.ne[i])) AS cos
       |  FROM normed a JOIN normed b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE a.ne IS NOT NULL AND b.ne IS NOT NULL) t
       |WHERE cos >= 0.35
       |ORDER BY vec_a, vec_b""".stripMargin) { (spark, dir) =>
    // Threshold 0.35, not a production-style 0.9+: the synthetic embeddings
    // are near-uniform (max same-label cosine at sf0.01 is 0.47), so any
    // high cut yields the empty set and the gate proves nothing (round-1
    // verdict). 0.35 verifies ~26 genuine pairs at sf0.01.
    val normed = Tables.embeddings(spark, dir)
      .withColumn("nrm", VectorFns.norm2(col("embedding")))
      .filter(col("nrm") > 0.0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"))
    val a = normed.as("a"); val b = normed.as("b")
    a.join(b, col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", VectorFns.dot(col("a.ne"), col("b.ne")))
      .filter(col("cos") >= 0.35)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        Cross.r6(col("cos")).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** Semantic dedup clusters (SimilaritySearch.embeddingDedupClusters):
    * the q41 near-dup pairs fed through min-label connected components —
    * pair mining → clusters → survivors for the vector modality, full
    * fixpoint verified against a recursive CTE (the q38 pattern). */
  val q122 = QueryDef(
    "q122_embed_dedup_clusters",
    s"""WITH RECURSIVE $labelledNormedCte,
       |edges0 AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b
       |  FROM normed a JOIN normed b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE a.ne IS NOT NULL AND b.ne IS NOT NULL
       |    AND list_sum(list_transform(range(1, len(a.ne) + 1), i -> a.ne[i] * b.ne[i])) >= 0.35),
       |edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
       |reach(src, dst) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS vec_id, MIN(dst) AS cluster,
       |       (src = MIN(dst)) AS is_survivor
       |FROM reach GROUP BY src
       |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    SimilaritySearch.embeddingDedupClusters(Tables.embeddings(spark, dir), minCos = 0.35)
      .orderBy("vec_id")
  }

  private def bucketSql(emb: String): String =
    (0 until Planes).map { p =>
      val w = HashFns.litVector(s"plane-$p", Dims)
      s"(CASE WHEN ${VectorSql.dotLit(emb, w)} > 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Hyperplane-LSH ANN: top-3 within the query's sign bucket. */
  val q42 = QueryDef(
    "q42_ann_lsh",
    s"""WITH hashed AS (
       |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM hashed WHERE vec_id < 32),
       |scored AS (
       |  SELECT query_id, h.vec_id AS neighbor_id,
       |         ${VectorSql.cosine("qe", "h.embedding")} AS cos
       |  FROM q JOIN hashed h USING (bucket) WHERE query_id <> h.vec_id),
       |${cosTopKSql(3)}""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.lshTopK(emb.filter(col("vec_id") < 32), emb, 3, Planes, Dims)
      .orderBy("query_id", "rank")
  }

  /** Per-dimension corpus statistics (A12-analog vector mean, exact). */
  val q43 = QueryDef(
    "q43_dim_stats",
    s"""SELECT dim,
       |  ${Cross.dsumSql("embedding[dim]::DOUBLE", 9)} AS sum_v,
       |  (round((MIN(embedding[dim]::DOUBLE)) + 1e-9, 6) + 0.0) AS min_v,
       |  (round((MAX(embedding[dim]::DOUBLE)) + 1e-9, 6) + 0.0) AS max_v
       |FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS dim) d
       |GROUP BY dim
       |ORDER BY dim""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).as("dim"), col("v").cast("double").as("v"))
      .groupBy("dim")
      .agg(Cross.dsum(col("v"), 9).as("sum_v"),
        Cross.r6(min("v")).as("min_v"),
        Cross.r6(max("v")).as("max_v"))
      .orderBy("dim")
  }

  /** IVF coarse quantization against fixed seed centroids. */
  val q44 = QueryDef(
    "q44_ivf_assign", s"""WITH ${ivfAssignSql("embeddings")}""") { (spark, dir) =>
    SimilaritySearch.ivfAssign(Tables.embeddings(spark, dir), Cells, Dims)
      .orderBy("vec_id")
  }

  /** Incremental IVF maintenance (SimilaritySearch.ivfMaintain): a
    * synthetic CDC tick — every 7th vector upserted with its embedding
    * REVERSED (a real re-embedding), every 13th non-upserted vector
    * tombstoned — folded into the persisted q44 assignment table by
    * anti-join + delta-only re-assignment. The oracle re-assigns the
    * fully APPLIED snapshot from scratch (kept ∪ reversed-upserts
    * through the q44 centroid arms), so hash-equality is the
    * maintenance law maintain(assign(S), Δ) ≡ assign(apply(S, Δ)) —
    * the index never re-quantizes the corpus for a delta. */
  val q268 = QueryDef(
    "q268_incremental_ivf", s"""WITH $servedSnapCtes${ivfAssignSql("snap")}""") { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val baseAssign = SimilaritySearch.ivfAssign(emb, Cells, Dims)
    val upserts = emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("label"), reverse(col("embedding")).as("embedding"))
    val deletes = emb.filter(col("vec_id") % 7 =!= 0 && col("vec_id") % 13 === 0)
      .select("vec_id")
    SimilaritySearch.ivfMaintain(baseAssign, upserts, deletes, Cells, Dims)
      .orderBy("vec_id")
  }

  /** TOMBSTONE GC on the served index — q334's topology with the
    * [[graft.operators.Cdc.compactLatestGc]] reduce: every fold drops
    * rows whose latest version is a tombstone, so the compacted base
    * holds ONLY live rows (without GC a churning key space accretes
    * one tombstone per key ever deleted — at 100 TB the base is
    * eventually mostly tombstones). Safety rests on the per-key
    * version-monotone-across-arrival contract (the operator scaladoc
    * carries the argument), and the gate attacks it three ways: the
    * full build (old versions) is redelivered after a compaction
    * consumed it, the TOMBSTONE tick itself is redelivered after
    * consumption, and one deleted key is RE-CREATED post-GC with a
    * higher version — which must win cleanly precisely because GC only
    * ever removed rows that had lost every future comparison. `gc_ok`
    * asserts the base is tombstone-free; probe results must equal the
    * applied snapshot's (every 7th re-embedded reversed, every 13th
    * other deleted THEN re-created at its original embedding — i.e.
    * only the reversals survive). */
  val q337 = QueryDef(
    "q337_served_ivf_tombstone_gc",
    s"""SELECT t.*, 1::BIGINT AS gc_ok FROM (
       |${ivfMultiprobeOracleWhere("label = 1", source = "snap", prefixCtes =
          """snap AS (
            |  SELECT vec_id, label,
            |         CASE WHEN vec_id % 7 = 0 THEN list_reverse(embedding)
            |              ELSE embedding END AS embedding
            |  FROM embeddings),
            |""".stripMargin)}
       |) t""".stripMargin) { (spark, dir) =>
    import graft.streaming.EventStreams
    val emb = Tables.embeddings(spark, dir)
    val path = graft.core.TempPaths.gatePath("q337_serving")
    graft.core.TempPaths.clearDir(path)
    val reduce = (df: org.apache.spark.sql.DataFrame) =>
      graft.operators.Cdc.compactLatestGc(df, "vec_id", "ver")
    val delPred = col("vec_id") % 7 =!= 0 && col("vec_id") % 13 === 0
    val b0 = servedTick(emb, 0L, deleted = false)
    val b1 = servedTick(emb.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("label"),
        reverse(col("embedding")).as("embedding")), 1L, deleted = false)
    val b2 = servedTick(emb.filter(delPred), 2L, deleted = true)
    val b3 = servedTick(emb.filter(delPred), 3L, deleted = false) // re-creation
    EventStreams.foldLog(path, b0, 0L, compactEvery = 2)(reduce)
    EventStreams.foldLog(path, b1, 1L, compactEvery = 2)(reduce) // compacts
    EventStreams.foldLog(path, b2, 2L, compactEvery = 2)(reduce)
    EventStreams.compactLog(spark, path)(reduce) // GC drops the tombstones
    // post-consumption redeliveries: the stale full build AND the
    // tombstone tick itself — both must no-op via the manifest (the
    // tombstone rows are GONE from the base; only the consumed-range
    // check stands between a redelivery and their resurrection)
    EventStreams.foldLog(path, b0, 0L, compactEvery = 2)(reduce)
    EventStreams.foldLog(path, b2, 2L, compactEvery = 2)(reduce)
    // post-GC re-creation at a higher version, then final compaction
    EventStreams.foldLog(path, b3, 3L, compactEvery = 2)(reduce)
    EventStreams.compactLog(spark, path)(reduce)
    val served = EventStreams.readCompactedBase(spark, path)
      .localCheckpoint(true)
    val gcOk = served.filter(col("deleted")).count() == 0L
    SimilaritySearch.ivfTopKServed(
        served.filter(col("vec_id") < 32).select("vec_id", "embedding"),
        served.filter(col("label") === 1),
        3, Cells, Dims, nProbe = 2)
      .withColumn("gc_ok", lit(if (gcOk) 1L else 0L))
      .orderBy("query_id", "rank")
  }

  /** Shared nProbe=1 IVF oracle (q45 and the bucketed-layout q193 must
    * return the identical result — the layout changes where the join
    * happens, never what it returns). */
  private def ivfNprobe1Oracle: String = ivfNprobe1OracleWhere("")

  /** The same oracle with the CORPUS side filtered by `corpusPred`
    * (queries stay unfiltered) — the q327 metadata-filtered probe. */
  private def ivfNprobe1OracleWhere(corpusPred: String): String = {
    val corpus = if (corpusPred.isEmpty) "assigned"
      else s"(SELECT * FROM assigned WHERE $corpusPred)"
    s"""WITH dists AS (
       |${ivfArmsSql("vec_id, embedding, label", "embeddings")}),
       |assigned AS (
       |  SELECT vec_id, embedding, label, cell FROM (
       |    SELECT vec_id, embedding, label, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM dists) t WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, cell
       |      FROM assigned WHERE vec_id < 32),
       |${ivfProbeSql(corpus)}""".stripMargin
  }

  /** IVF search (nProbe=1): top-3 by exact cosine within the query's own
    * centroid cell — completes the ANN tier ladder (brute → LSH → IVF). */
  val q45 = QueryDef(
    "q45_ivf_topk", ivfNprobe1Oracle) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.ivfTopK(emb.filter(col("vec_id") < 32), emb, 3, Cells, Dims)
      .orderBy("query_id", "rank")
  }

  /** Metadata-FILTERED IVF probe (SimilaritySearch.ivfTopKFiltered):
    * top-3 among label = 1 corpus rows only, queries unfiltered — the
    * pre-filter strategy, exact under the predicate at any selectivity
    * (post-filtering an unfiltered top-k' under-fills whenever a
    * query's k' nearest all fail the predicate; the operator scaladoc
    * carries the argument). The label test reaches the corpus parquet
    * scan as a pushed filter — PlanSpec pins it — so inverted lists
    * shrink before any distance math. Oracle = q45's with the corpus
    * CTE filtered. */
  val q327 = QueryDef(
    "q327_ivf_filtered", ivfNprobe1OracleWhere("label = 1")) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.ivfTopKFiltered(emb.filter(col("vec_id") < 32), emb,
        col("label") === 1, 3, Cells, Dims)
      .orderBy("query_id", "rank")
  }

  /** IVF probe over the cell-CO-LOCATED bucketed layout
    * (SimilaritySearch.ivfTopKBucketed): corpus and probe batch persist
    * bucketed by cell, the inverted-list join meets bucket-to-bucket
    * with zero Exchange (PlanSpec pins the plan), and the results are
    * byte-identical to q45 — same oracle. */
  val q193 = QueryDef(
    "q193_ivf_bucketed", ivfNprobe1Oracle) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.ivfTopKBucketed(emb.filter(col("vec_id") < 32), emb,
        3, Cells, Dims)
      .orderBy("query_id", "rank")
  }

  /** IVF multi-probe (nProbe=2): queries probe their TWO nearest cells —
    * the standard IVF recall knob. Recovers near-cell-boundary neighbors
    * that the q45 single-probe search misses (the planted-recall test in
    * PipelineSpec pins one such query; nProbe=nCells ≡ brute
    * force is pinned there too). */
  /** The nProbe=2 oracle, optionally with the CORPUS side filtered by
    * `corpusPred` (queries stay unfiltered) — shared by q46 and the
    * q332 filtered multiprobe. */
  private def ivfMultiprobeOracleWhere(corpusPred: String,
      source: String = "embeddings", prefixCtes: String = ""): String = {
    val corpus = if (corpusPred.isEmpty) "assigned"
      else s"(SELECT * FROM assigned WHERE $corpusPred)"
    s"""WITH $prefixCtes dists AS (
       |${ivfArmsSql("vec_id, embedding, label", source)}),
       |cells AS (
       |  SELECT vec_id, embedding, label, cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM dists),
       |assigned AS (SELECT vec_id, embedding, label, cell FROM cells WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, cell
       |      FROM cells WHERE rn <= 2 AND vec_id < 32),
       |${ivfProbeSql(corpus)}""".stripMargin
  }

  val q46 = QueryDef(
    "q46_ivf_multiprobe", ivfMultiprobeOracleWhere("")) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.ivfTopK(emb.filter(col("vec_id") < 32), emb, 3, Cells, Dims, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** Filtered multiprobe — the q327 pre-filter COMPOSED with the q46
    * recall knob: a selective predicate shrinks every inverted list,
    * which makes near-cell-boundary misses MORE likely (the filtered
    * list may hold none of the query's true neighbors in its home
    * cell), so the production filtered-search shape probes extra cells
    * rather than overfetching k'. Still exact under the predicate
    * within the probed cells at any selectivity, and the label test
    * still reaches the corpus parquet scan as a pushed filter
    * (PlanSpec pins it for ivfTopKFiltered regardless of nProbe). */
  val q332 = QueryDef(
    "q332_ivf_filtered_multiprobe", ivfMultiprobeOracleWhere("label = 1")) {
    (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.ivfTopKFiltered(emb.filter(col("vec_id") < 32), emb,
        col("label") === 1, 3, Cells, Dims, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** The applied-snapshot CTEs of q268 and the served-index gates: every
    * 7th vector re-embedded reversed, every 13th other tombstoned — the
    * logical content of the served table after the build + CDC ticks. */
  private def servedSnapCtes: String =
    """upd AS (
      |  SELECT vec_id, label, list_reverse(embedding) AS embedding
      |  FROM embeddings WHERE vec_id % 7 = 0),
      |kept AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  WHERE vec_id % 7 <> 0 AND vec_id % 13 <> 0),
      |snap AS (SELECT * FROM kept UNION ALL SELECT * FROM upd),
      |""".stripMargin

  /** One batch of a served IVF table: `rows` with their seed cell,
    * stamped with version `ver` and tombstone flag `deleted`. */
  private def servedTick(rows: org.apache.spark.sql.DataFrame, ver: Long,
      deleted: Boolean): org.apache.spark.sql.DataFrame =
    SimilaritySearch.ivfAssignWithVec(rows, Cells, Dims)
      .withColumn("deleted", lit(deleted)).withColumn("ver", lit(ver))

  private def servedReduce(df: org.apache.spark.sql.DataFrame) =
    graft.operators.Cdc.compactLatest(df, "vec_id", "ver")

  /** The served table behind [[servedSnapCtes]], folded latest-wins at
    * compactEvery = 2 into a fresh `<gate>_serving` path: the full build
    * (ver 0), the re-embeddings (ver 1) and the tombstones (ver 2); the
    * second fold compacts. Returns the path and the three batches. */
  private def buildServed(spark: org.apache.spark.sql.SparkSession, dir: String,
      gate: String): (String, Seq[org.apache.spark.sql.DataFrame]) = {
    val emb = Tables.embeddings(spark, dir)
    val path = graft.core.TempPaths.gatePath(s"${gate}_serving")
    graft.core.TempPaths.clearDir(path)
    val batches = Seq(
      servedTick(emb, 0L, deleted = false),
      servedTick(emb.filter(col("vec_id") % 7 === 0)
        .select(col("vec_id"), col("label"),
          reverse(col("embedding")).as("embedding")), 1L, deleted = false),
      servedTick(emb.filter(col("vec_id") % 7 =!= 0 &&
        col("vec_id") % 13 === 0), 2L, deleted = true))
    batches.zipWithIndex.foreach { case (b, v) =>
      graft.streaming.EventStreams.foldLog(path, b, v.toLong, compactEvery = 2)(servedReduce)
    }
    (path, batches)
  }

  /** nProbe = 2 top-3 over a served table's live rows: queries
    * vec_id < 32, corpus label = 1. */
  private def probeServed(served: org.apache.spark.sql.DataFrame) =
    SimilaritySearch.ivfTopKServed(
        served.filter(!col("deleted") && col("vec_id") < 32)
          .select("vec_id", "embedding"),
        served.filter(!col("deleted") && col("label") === 1),
        3, Cells, Dims, nProbe = 2)
      .orderBy("query_id", "rank")

  /** The SERVED ANN index end-to-end — the maintenance path a 100 TB
    * deployment actually runs, composed from pieces already gated
    * piecewise: inverted lists live as a LOG-STRUCTURED serving table
    * (the q326/q331 foldLog machinery, latest-wins per vec_id) that
    * absorbs a full build plus [[SimilaritySearch.ivfMaintain]]-style
    * CDC ticks (q268's: every 7th vector re-embedded reversed, every
    * 13th other tombstoned) as INCREMENTAL batches — each tick touches
    * O(|delta|) rows, the corpus is never re-quantized — and probes
    * answer FROM the compacted table's stored cells
    * ([[SimilaritySearch.ivfTopKServed]]), composed with the q332
    * recall knob (nProbe = 2) and filter (label = 1, pushed to the
    * compacted base's parquet scan — PlanSpec pins it). The
    * at-least-once story is driven, not assumed: one tick is
    * redelivered while its delta is LIVE and the full build again
    * AFTER compaction consumed it — both must no-op via the manifest.
    * Oracle: the q46/q332 multiprobe oracle over the APPLIED snapshot
    * (maintain(assign(S), delta) == assign(apply(S, delta)), q268's law,
    * extended through the serving table to probe results). The nProbe=2
    * operating point is priced by q341's hash-verified recall curve:
    * recall@3 = 0.767 at sf0.01 (0.378 / 0.933 / 1.0 at depths
    * 1 / 3 / 4), scanning 934 of the exhaustive 1317 candidate rows. */
  val q334 = QueryDef(
    "q334_served_ivf_index", ivfMultiprobeOracleWhere(
      "label = 1", source = "snap", prefixCtes = servedSnapCtes)) { (spark, dir) =>
    import graft.streaming.EventStreams
    val (path, Seq(b0, _, b2)) = buildServed(spark, dir, "q334")
    // at-least-once: redeliver the LIVE tick (manifest already-live
    // no-op), compact to the read-optimized state, then redeliver the
    // CONSUMED full build (consumed-range no-op — re-adding would
    // resurrect deleted vectors and stale assignments)
    EventStreams.foldLog(path, b2, 2L, compactEvery = 2)(servedReduce)
    EventStreams.compactLog(spark, path)(servedReduce)
    EventStreams.foldLog(path, b0, 0L, compactEvery = 2)(servedReduce)
    probeServed(EventStreams.readCompactedBase(spark, path))
  }

  /** PINNED-GENERATION read under a RACING compactor — the last gap
    * between "served index" and "served index you can query during
    * maintenance": q334's probes required [[EventStreams
    * .readCompactedBase]]'s caller-owned quiescence, but an always-on
    * service probes WHILE ticks fold and compactions rotate the base.
    * [[EventStreams.readLogPinned]] pins one manifest generation and
    * reads its live files as bare parquet relations (pushdown
    * preserved — PlanSpec pins it), and [[EventStreams.withPinnedRead]]
    * retries resolve + probe together when a read stalls past the
    * one-generation garbage grace (a swept file fails LOUDLY, never
    * silently wrong). The gate builds q334's table, then probes it
    * repeatedly while a background thread continuously REWRITES the
    * base (content-stable compaction rotations — each commit moves the
    * previous base to garbage and sweeps the one before it) and
    * redelivers already-consumed batches against the manifest: every
    * raced probe must row-equal the quiesced probe taken before the
    * race began. `race_ok` carries (all probes matched ∧ the rotator
    * thread saw no error) into the hash; the oracle is q334's applied
    * snapshot — probe results during maintenance ARE the quiesced
    * results. */
  val q338 = QueryDef(
    "q338_served_ivf_pinned_read",
    s"""SELECT t.*, 1::BIGINT AS race_ok FROM (
       |${ivfMultiprobeOracleWhere("label = 1", source = "snap",
          prefixCtes = servedSnapCtes)}
       |) t""".stripMargin) { (spark, dir) =>
    import graft.streaming.EventStreams
    val (path, Seq(b0, _, b2)) = buildServed(spark, dir, "q338")
    EventStreams.compactLog(spark, path)(servedReduce)
    val expected = probeServed(EventStreams.readCompactedBase(spark, path))
      .collect().toSeq
    // the racing maintainer: content-stable base rotations (files churn,
    // the logical table never changes) plus consumed-batch redeliveries
    // hammering the manifest the probes resolve against
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val rotator = new Thread(() => {
      try while (!stop.get()) {
        EventStreams.compactLog(spark, path)(servedReduce)
        EventStreams.foldLog(path, b0, 0L, compactEvery = 2)(servedReduce)
        EventStreams.foldLog(path, b2, 2L, compactEvery = 2)(servedReduce)
      } catch { case t: Throwable => errs.add(t) }
    }, "q338-rotator")
    rotator.start()
    val nProbes = 6
    var matched = 0
    try (1 to nProbes).foreach { _ =>
      val got = EventStreams.withPinnedRead(spark, path)(servedReduce)(
        served => probeServed(served).collect().toSeq)
      if (got == expected) matched += 1
    } finally { stop.set(true); rotator.join() }
    val raceOk = matched == nProbes && errs.isEmpty
    // the rotator has joined: the table is quiesced and fully compacted,
    // so the returned frame is the plan-visible probe over the bare base
    // relation (PLANS.md shows the pushed predicates, same as q334)
    probeServed(EventStreams.readCompactedBase(spark, path))
      .withColumn("race_ok", lit(if (raceOk) 1L else 0L))
      .orderBy("query_id", "rank")
  }

  /** The q341 oracle: per probe depth, the multiprobe result set scored
    * against the exact brute-force top-3 over the applied snapshot,
    * plus the candidate rows each depth scans — the full recall curve
    * re-derived relationally. */
  private def recallCurveOracle: String = {
    val sweep = (1 to Cells).map { p =>
      s"""SELECT $p AS n_probe, 3 AS k,
         |  (SELECT COUNT(*) FROM (
         |     SELECT query_id, neighbor_id FROM (
         |       SELECT qc.query_id, a.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY qc.query_id ORDER BY ${VectorSql.cosine("qc.qe", "a.embedding")} DESC, a.vec_id) AS rank
         |       FROM (SELECT vec_id AS query_id, embedding AS qe, cell FROM cells WHERE rn <= $p AND vec_id < 32) qc
         |       JOIN corpus a USING (cell) WHERE qc.query_id <> a.vec_id) r
         |     WHERE rank <= 3) g
         |   JOIN truth t ON g.query_id = t.query_id AND g.neighbor_id = t.neighbor_id)::BIGINT AS matched,
         |  (SELECT COUNT(*) FROM truth)::BIGINT AS truth_rows,
         |  (SELECT COUNT(*) FROM (SELECT vec_id AS query_id, cell FROM cells WHERE rn <= $p AND vec_id < 32) qc
         |     JOIN corpus a USING (cell) WHERE qc.query_id <> a.vec_id)::BIGINT AS cand_rows""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${servedSnapCtes}dists AS (
       |${ivfArmsSql("vec_id, embedding, label", "snap")}),
       |cells AS (
       |  SELECT vec_id, embedding, label, cell,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM dists),
       |assigned AS (SELECT vec_id, embedding, label, cell FROM cells WHERE rn = 1),
       |corpus AS (SELECT * FROM assigned WHERE label = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM snap WHERE vec_id < 32),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, a.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY ${VectorSql.cosine("q.qe", "a.embedding")} DESC, a.vec_id) AS rank
       |    FROM q CROSS JOIN corpus a WHERE q.query_id <> a.vec_id) t
       |  WHERE rank <= 3)
       |SELECT n_probe, k, matched, truth_rows, cand_rows,
       |  ${Cross.r6Sql("matched::DOUBLE / truth_rows::DOUBLE")} AS recall
       |FROM ($sweep)
       |ORDER BY n_probe""".stripMargin
  }

  /** Recall curve for the SERVED index (SimilaritySearch
    * .recallCurveServed) — the tuning table q334's nProbe knob was
    * missing: each probe depth 1..nCells scored against the exact
    * brute-force top-3 over the SAME compacted serving table, with the
    * candidate rows that depth scans (what the recall point costs).
    * nProbe = nCells is exhaustive, so the curve must end at recall
    * 1.0 — the oracle re-derives every sweep point relationally over
    * the applied snapshot, so the measured trade-off itself is
    * hash-verified, not just each endpoint. q334's standing nProbe = 2
    * configuration reads its measured recall straight off this
    * table. */
  val q341 = QueryDef(
    "q341_served_ivf_recall_curve", recallCurveOracle) { (spark, dir) =>
    import graft.streaming.EventStreams
    val (path, _) = buildServed(spark, dir, "q341")
    EventStreams.compactLog(spark, path)(servedReduce)
    val served = EventStreams.readCompactedBase(spark, path)
      .localCheckpoint(true)
    SimilaritySearch.recallCurveServed(
        served.filter(!col("deleted") && col("vec_id") < 32)
          .select("vec_id", "embedding"),
        served.filter(!col("deleted") && col("label") === 1),
        3, Cells, Dims, nProbes = 1 to Cells)
      .orderBy("n_probe")
  }

  /** Lloyd-trained IVF centroids (2 rounds from the seed centroids) —
    * the "usable IVF" upgrade: the quantizer adapts to the data instead
    * of staying at the fixed seeds. The oracle unrolls the IDENTICAL two
    * rounds relationally (assign by r6-rounded squared distance, per-dim
    * decimal mean, r6 each round), so the gate verifies the whole
    * training trajectory, not just the final table shape. */
  /** Shared oracle fragments for the Lloyd-trained-IVF gates (q49,
    * q140): seed-centroid VALUES rows and one (assign → recenter)
    * round over the long-form `emb` relation. */
  private def lloydSeedVals: String =
    (0 until Cells).flatMap { c =>
      HashFns.litVector(s"centroid-$c", Dims).zipWithIndex.map {
        case (v, i) => s"($c, ${i + 1}, ${v})"
      }
    }.mkString(", ")

  private def lloydRound(prev: String, n: Int): String =
    lloydRoundOn("emb", prev, n, "")

  /** One Lloyd (assign → recenter) round over an arbitrary long-form
    * embedding relation, with a CTE-name suffix so several independent
    * trainings (the PQ subspaces) can unroll side by side. */
  private def lloydRoundOn(embRel: String, prev: String, n: Int, sfx: String): String =
    s"""d$n$sfx AS (
       |  SELECT vec_id, cell, ${Cross.r6Sql("SUM((e - v) * (e - v))")} AS d
       |  FROM $embRel JOIN $prev USING (dim) GROUP BY vec_id, cell),
       |a$n$sfx AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM d$n$sfx) t WHERE rn = 1),
       |c$n$sfx AS (
       |  SELECT cell, dim, ${Cross.r6Sql(Cross.davgSql("e", 9))} AS v
       |  FROM a$n$sfx JOIN $embRel USING (vec_id) GROUP BY cell, dim)""".stripMargin

  private def lloydEmbCte: String =
    s"""emb AS (
       |  SELECT vec_id, dim, embedding[dim]::DOUBLE AS e
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS dim) dd)""".stripMargin

  /** The q49 unroll: long-form `emb`, seed centroids `c0` and two Lloyd
    * rounds ending at the trained centroids `c2(cell, dim, v)`. */
  private def lloydTrainedCte: String =
    s"""$lloydEmbCte,
       |c0(cell, dim, v) AS (VALUES $lloydSeedVals),
       |${lloydRound("c0", 1)},
       |${lloydRound("c1", 2)}""".stripMargin

  /** [[lloydTrainedCte]] plus every vector's rounded squared distance to
    * every trained centroid, `d3(vec_id, cell, d)`. */
  private def lloydDistCte: String =
    s"""$lloydTrainedCte,
       |d3 AS (
       |  SELECT vec_id, cell, ${Cross.r6Sql("SUM((e - v) * (e - v))")} AS d
       |  FROM emb JOIN c2 USING (dim) GROUP BY vec_id, cell)""".stripMargin

  val q49 = QueryDef(
    "q49_ivf_train",
    s"""WITH $lloydTrainedCte
       |SELECT cell, dim, v FROM c2
       |ORDER BY cell, dim""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cents = SimilaritySearch.ivfTrain(Tables.embeddings(spark, dir), Cells, Dims, iters = 2)
    cents.zipWithIndex.flatMap { case (w, c) =>
      w.zipWithIndex.map { case (v, i) => (c, i + 1, v) }
    }.toSeq.toDF("cell", "dim", "v")
      .orderBy("cell", "dim")
  }

  /** IVF index persistence round-trip (ModelIO.saveCentroids /
    * loadCentroids): the trained quantizer is written to parquet,
    * reloaded, and the search runs against the RELOADED centroids — the
    * deploy-time lifecycle (train once, every search job reloads). The
    * oracle re-trains relationally (the q49 unroll), assigns against
    * the trained centroids, and searches within cells (the q45 shape) —
    * hash-equality proves the artifact round-trip loses not one bit of
    * the quantizer. */
  val q140 = QueryDef(
    "q140_ivf_persist",
    s"""WITH $lloydDistCte,
       |a3 AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM d3) t WHERE rn = 1),
       |assigned AS (
       |  SELECT a3.vec_id, e.embedding, a3.cell
       |  FROM a3 JOIN embeddings e USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, cell
       |      FROM assigned WHERE vec_id < 32),
       |${ivfProbeSql("assigned")}""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cents = SimilaritySearch.ivfTrain(emb, Cells, Dims, iters = 2)
    // pid-keyed path + overwrite (TempPaths): stable within a run, safe
    // across concurrent runs, deleted at exit
    val path = graft.core.TempPaths.gatePath("ivf_gate")
    graft.sources.ModelIO.saveCentroids(spark, cents, path)
    val loaded = graft.sources.ModelIO.loadCentroids(spark, path)
    SimilaritySearch.ivfTopKTrained(emb.filter(col("vec_id") < 32), emb, 3, loaded)
      .orderBy("query_id", "rank")
  }

  /** Symmetric int8 quantization of the embedding corpus — the 4×
    * footprint lever for billion-vector ANN (search the tinyint corpus,
    * rerank the shortlist against float originals). The oracle mirrors
    * the exact scale/code arithmetic, so every single code byte is
    * hash-verified; reconstruction quality is pinned by VectorFnsSpec. */
  val q97 = QueryDef(
    "q97_quantize_i8",
    s"""SELECT vec_id, ${VectorSql.quantScale("embedding")} AS scale,
       |       i - 1 AS dim, (${VectorSql.quantCodes("embedding")})[i] AS code
       |FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i) g
       |ORDER BY vec_id, dim""".stripMargin) { (spark, dir) =>
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFns.quantizeI8(col("embedding")).as("q"))
      .select(col("vec_id"), col("q").getField("scale").as("scale"),
        posexplode(col("q").getField("codes")).as(Seq("dim", "code")))
      .orderBy("vec_id", "dim")
  }

  /** kNN over the QUANTIZED corpus: scoring uses only exact integer
    * sums (the per-vector scales cancel in the cosine) plus one final
    * division, so the quantized sweep is bit-reproducible and the gate
    * can hash-match every rank — not just bound recall. */
  val q98 = QueryDef(
    "q98_quantized_knn",
    s"""WITH qc AS (SELECT vec_id, ${VectorSql.quantCodes("embedding")} AS c FROM embeddings),
       |q AS (SELECT vec_id AS query_id, c AS qa FROM qc WHERE vec_id < 8),
       |scored AS (
       |  SELECT query_id, b.vec_id AS neighbor_id,
       |         ${VectorSql.cosineI8("qa", "b.c")} AS cos
       |  FROM q CROSS JOIN qc b WHERE query_id <> b.vec_id),
       |${cosTopKSql(3)}""".stripMargin) { (spark, dir) =>
    val qc = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorFns.quantizeI8(col("embedding")).getField("codes").as("codes"))
    val queries = qc.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("codes").as("qa"))
    val scored = broadcast(queries)
      .crossJoin(qc.select(col("vec_id").as("neighbor_id"), col("codes").as("qb")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", VectorFns.cosineI8(col("qa"), col("qb")))
    SimilaritySearch.rerank(scored, 3).orderBy("query_id", "rank")
  }

  // Product-quantization gate constants: 64 dims → 4 subspaces of 16,
  // 4 centroids per subspace (tiny on purpose — the gate verifies the
  // encode/ADC algebra, not recall).
  private val PqM = 4
  private val PqSub = Dims / PqM
  private val PqK = 4

  /** The m×k "distance of every vector's subvector to every subspace
    * centroid" arms — shared by the q143 encode oracle and q144's ADC
    * (query rows are the same relation filtered). */
  private def pqArmsSql: String =
    (0 until PqM).flatMap { s =>
      val sub = s"(embedding[${s * PqSub + 1}:${(s + 1) * PqSub}])"
      (0 until PqK).map { c =>
        val w = HashFns.litVector(s"pq-$s-$c", PqSub)
        s"SELECT vec_id, $s AS s, $c AS c, ${Cross.r6Sql(VectorSql.sqDistLit(sub, w))} AS d FROM embeddings"
      }
    }.mkString("\nUNION ALL\n")

  /** [[pqArmsSql]] as `encd(vec_id, s, c, d)`, each vector's argmin
    * `codes(vec_id, s, code)`, the query rows' distances `qd` (vec_id < 8)
    * and every (query, vector) ADC sum `adc(query_id, neighbor_id,
    * adist)`. */
  private def pqAdcCte: String =
    s"""encd AS (
       |$pqArmsSql),
       |codes AS (
       |  SELECT vec_id, s, c AS code FROM (
       |    SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
       |    FROM encd) t WHERE rn = 1),
       |qd AS (SELECT vec_id AS query_id, s, c, d FROM encd WHERE vec_id < 8),
       |adc AS (
       |  SELECT qd.query_id, cd.vec_id AS neighbor_id,
       |         ${Cross.r6Sql("(SUM(qd.d::DECIMAL(18,6)))::DOUBLE")} AS adist
       |  FROM codes cd JOIN qd ON qd.s = cd.s AND qd.c = cd.code AND qd.query_id <> cd.vec_id
       |  GROUP BY qd.query_id, cd.vec_id)""".stripMargin

  /** The IVF-PQ encode: coarse seed-cell `assigned(vec_id, cell)`, the
    * per-dimension residuals re-based into subspaces, their distances
    * `ad(vec_id, s, c, d)` to the flat seed codebook `pqw` and the argmin
    * `codes(vec_id, s, code)`. */
  private def ivfPqCodesCte: String = {
    val pqwVals = (0 until PqM).flatMap { s =>
      (0 until PqK).flatMap { c =>
        HashFns.litVector(s"pq-$s-$c", PqSub).zipWithIndex.map {
          case (v, i) => s"($s, $c, ${i + 1}, ${v})"
        }
      }
    }.mkString(", ")
    s"""$lloydEmbCte,
       |cd AS (
       |${ivfArmsSql("vec_id", "embeddings")}),
       |assigned AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM cd) t WHERE rn = 1),
       |cc(cell, dim, v) AS (VALUES $lloydSeedVals),
       |r AS (
       |  SELECT emb.vec_id, emb.dim, emb.e - cc.v AS e
       |  FROM emb JOIN assigned USING (vec_id)
       |  JOIN cc ON cc.cell = assigned.cell AND cc.dim = emb.dim),
       |rsub AS (
       |  SELECT vec_id, (dim - 1) // $PqSub AS s, ((dim - 1) % $PqSub) + 1 AS dim, e
       |  FROM r),
       |pqw(s, c, dim, wv) AS (VALUES $pqwVals),
       |ad AS (
       |  SELECT rsub.vec_id, pqw.s, pqw.c,
       |         ${Cross.r6Sql("SUM((e - wv) * (e - wv))")} AS d
       |  FROM rsub JOIN pqw ON pqw.s = rsub.s AND pqw.dim = rsub.dim
       |  GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, s, c AS code FROM (
       |  SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
       |  FROM ad) t WHERE rn = 1)""".stripMargin
  }

  /** PQ encode (SimilaritySearch.pqEncode): every vector compresses to
    * m small integers — argmin centroid per subspace, computed in ONE
    * codegen'd projection (no shuffle). The oracle recomputes all m×k
    * subspace distances and takes each argmin relationally, so every
    * single code is hash-verified. */
  val q143 = QueryDef(
    "q143_pq_encode",
    s"""WITH encd AS (
       |$pqArmsSql)
       |SELECT vec_id, s, c AS code FROM (
       |  SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
       |  FROM encd) t WHERE rn = 1
       |ORDER BY vec_id, s""".stripMargin) { (spark, dir) =>
    val cb = SimilaritySearch.pqSeedCodebooks(PqM, PqK, PqSub)
    SimilaritySearch.pqEncode(Tables.embeddings(spark, dir), cb, PqSub)
      .select(col("vec_id"),
        posexplode(array((0 until PqM).map(s => col(s"c$s")): _*)).as(Seq("s", "code")))
      .orderBy("vec_id", "s")
  }

  /** PQ ADC search (SimilaritySearch.pqAdcTopK): queries stay float,
    * the corpus is only its m-integer codes; each pair's approximate
    * distance is the DECIMAL-exact sum of r6-rounded subspace terms, so
    * every rank and every distance hash-matches. Completes the
    * compression ladder: float (q40) → int8 (q98) → PQ codes. */
  val q144 = QueryDef(
    "q144_pq_adc_topk",
    s"""WITH $pqAdcCte,
       |${ascTopKSql("adist", "adc")}""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cb = SimilaritySearch.pqSeedCodebooks(PqM, PqK, PqSub)
    SimilaritySearch.pqAdcTopK(emb.filter(col("vec_id") < 8),
        SimilaritySearch.pqEncode(emb, cb, PqSub), cb, PqSub, 3)
      .orderBy("query_id", "rank")
  }

  /** ADC + exact refine (SimilaritySearch.pqAdcRefineTopK): the q144
    * ADC sweep nominates an 8-deep shortlist per query, then only
    * those rows join back to the float corpus and re-rank by EXACT
    * squared L2 — the FAISS-style refine step that completes the PQ
    * pipeline. The oracle chains the q144 ADC algebra with the exact
    * re-rank, so shortlist membership, every exact distance, and the
    * final ranks all hash-match. */
  val q153 = QueryDef(
    "q153_pq_refine_topk",
    s"""WITH $pqAdcCte,
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
       |    FROM adc) t WHERE rn <= 8),
       |ex AS (
       |  SELECT sh.query_id, sh.neighbor_id,
       |         ${Cross.r6Sql(VectorSql.sqDist("qa.embedding", "nb.embedding"))} AS dist
       |  FROM short sh
       |  JOIN embeddings qa ON qa.vec_id = sh.query_id
       |  JOIN embeddings nb ON nb.vec_id = sh.neighbor_id),
       |${ascTopKSql("dist", "ex")}""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cb = SimilaritySearch.pqSeedCodebooks(PqM, PqK, PqSub)
    SimilaritySearch.pqAdcRefineTopK(emb.filter(col("vec_id") < 8),
        SimilaritySearch.pqEncode(emb, cb, PqSub), emb, cb, PqSub,
        shortlist = 8, k = 3)
      .orderBy("query_id", "rank")
  }

  /** Trained-PQ encode (SimilaritySearch.pqTrain + pqEncode): each
    * subspace's codebook Lloyd-trains independently on its own
    * subvector slice (2 rounds from the shared seed family), then the
    * corpus encodes against the TRAINED codebooks. The oracle unrolls
    * all four trainings side by side (the q49 trajectory discipline,
    * suffixed per subspace) and recomputes every argmin — training,
    * slicing, and encode are verified end to end. */
  val q145 = QueryDef(
    "q145_pq_train_encode", {
      val seedVals = (0 until PqK).flatMap { c =>
        HashFns.litVector(s"centroid-$c", PqSub).zipWithIndex.map {
          case (v, i) => s"($c, ${i + 1}, ${v})"
        }
      }.mkString(", ")
      val subspaces = (0 until PqM).map { s =>
        val lo = s * PqSub + 1
        s"""embs$s AS (
           |  SELECT vec_id, dim - ${lo - 1} AS dim, e FROM emb
           |  WHERE dim BETWEEN $lo AND ${lo + PqSub - 1}),
           |c0s$s(cell, dim, v) AS (VALUES $seedVals),
           |${lloydRoundOn(s"embs$s", s"c0s$s", 1, s"s$s")},
           |${lloydRoundOn(s"embs$s", s"c1s$s", 2, s"s$s")},
           |enc$s AS (
           |  SELECT vec_id, cell, ${Cross.r6Sql("SUM((e - v) * (e - v))")} AS d
           |  FROM embs$s JOIN c2s$s USING (dim) GROUP BY vec_id, cell),
           |code$s AS (
           |  SELECT vec_id, $s AS s, cell AS code FROM (
           |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
           |    FROM enc$s) t WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $lloydEmbCte,
         |$subspaces
         |SELECT vec_id, s, code
         |FROM (${(0 until PqM).map(s => s"SELECT * FROM code$s").mkString(" UNION ALL ")})
         |ORDER BY vec_id, s""".stripMargin
    }) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cb = SimilaritySearch.pqTrain(emb, PqM, PqK, PqSub, iters = 2)
    SimilaritySearch.pqEncode(emb, cb, PqSub)
      .select(col("vec_id"),
        posexplode(array((0 until PqM).map(s => col(s"c$s")): _*)).as(Seq("s", "code")))
      .orderBy("vec_id", "s")
  }

  /** IVF-PQ encode (SimilaritySearch.ivfPqEncode): coarse cell + PQ
    * codes of the RESIDUAL — the composite billion-scale index layout.
    * The oracle recomputes the coarse argmin (raw distances, the
    * q44/q45 convention), subtracts the assigned centroid per
    * dimension, re-bases dims into subspaces, and takes every residual
    * argmin against a flat (s, c, dim, wv) codebook relation — cell and
    * all m codes hash-verified per vector. */
  val q146 = QueryDef(
    "q146_ivfpq_encode",
    s"""WITH $ivfPqCodesCte
       |SELECT a.vec_id, a.cell, codes.s, codes.code
       |FROM assigned a JOIN codes USING (vec_id)
       |ORDER BY vec_id, s""".stripMargin) { (spark, dir) =>
    val cb = SimilaritySearch.pqSeedCodebooks(PqM, PqK, PqSub)
    SimilaritySearch.ivfPqEncode(Tables.embeddings(spark, dir), Cells, Dims, cb, PqSub)
      .select(col("vec_id"), col("cell"),
        posexplode(array((0 until PqM).map(s => col(s"c$s")): _*)).as(Seq("s", "code")))
      .orderBy("vec_id", "s")
  }

  /** IVF-PQ search (SimilaritySearch.ivfPqTopK): queries take their own
    * residual against their coarse cell and ADC-score only that cell's
    * inverted list — the two-level pruning of billion-vector search.
    * The oracle chains the q146 encode with the q144 ADC algebra over
    * query residuals, so every rank and distance hash-matches. */
  val q147 = QueryDef(
    "q147_ivfpq_topk",
    s"""WITH $ivfPqCodesCte,
       |adc AS (
       |  SELECT qa.vec_id AS query_id, cdn.vec_id AS neighbor_id,
       |         ${Cross.r6Sql("(SUM(qd.d::DECIMAL(18,6)))::DOUBLE")} AS adist
       |  FROM codes cdn
       |  JOIN assigned an ON an.vec_id = cdn.vec_id
       |  JOIN assigned qa ON qa.cell = an.cell AND qa.vec_id < 8
       |  JOIN ad qd ON qd.vec_id = qa.vec_id AND qd.s = cdn.s AND qd.c = cdn.code
       |  WHERE qa.vec_id <> cdn.vec_id
       |  GROUP BY 1, 2),
       |${ascTopKSql("adist", "adc")}""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cb = SimilaritySearch.pqSeedCodebooks(PqM, PqK, PqSub)
    SimilaritySearch.ivfPqTopK(emb.filter(col("vec_id") < 8),
        SimilaritySearch.ivfPqEncode(emb, Cells, Dims, cb, PqSub),
        Cells, Dims, cb, PqSub, 3)
      .orderBy("query_id", "rank")
  }

  /** Semantic dedup with LEARNED blocking (SimilaritySearch
    * .semanticDedup) — the SemDeDup recipe: Lloyd-trained k-means cells
    * bound the pairwise cosine work, min-id survivor within a cell at
    * cosine >= 0.35 (the q41 threshold — these synthetic embeddings are
    * near-uniform, so production-style 0.9+ proves nothing). Unlike the
    * label-blocked q41, the blocking key here is learned, so the oracle
    * re-trains the quantizer (the q49 unroll), re-assigns, and mines
    * within-cell pairs — training, assignment, and dedup hash-match as
    * one chain. */
  val q164 = QueryDef(
    "q164_semantic_dedup",
    s"""WITH $lloydDistCte,
       |a3 AS (SELECT vec_id, cell FROM (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM d3) t WHERE rn = 1),
       |assigned AS (
       |  SELECT a3.vec_id, a3.cell, e.embedding
       |  FROM a3 JOIN embeddings e USING (vec_id)),
       |dups AS (
       |  SELECT a.vec_id, COUNT(*) AS n_dups_below
       |  FROM assigned a JOIN assigned b USING (cell)
       |  WHERE b.vec_id < a.vec_id
       |    AND ${VectorSql.cosine("a.embedding", "b.embedding")} >= 0.35::DOUBLE
       |  GROUP BY a.vec_id)
       |SELECT v.vec_id, v.cell, COALESCE(d.n_dups_below, 0)::BIGINT AS n_dups_below,
       |  (COALESCE(d.n_dups_below, 0) = 0) AS keep
       |FROM assigned v LEFT JOIN dups d USING (vec_id)
       |ORDER BY v.vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cents = SimilaritySearch.ivfTrain(emb, Cells, Dims, iters = 2)
    SimilaritySearch.semanticDedup(emb, cents, tau = 0.35)
      .orderBy("vec_id")
  }

  /** Contrastive triplet mining (SimilaritySearch.contrastiveTriplets):
    * anchor + hardest in-cell positive + hard negative from the
    * second-nearest cell, over the Lloyd-trained quantizer — the
    * embedding-model training-data prep. The oracle re-trains, ranks
    * BOTH cells per vector (rn=1/rn=2 of the same distance order the
    * assignment uses), and mines both top-1s with the identical
    * (cos DESC, id) tie order; margins subtract the already-rounded
    * cosines, mirroring the Spark column order exactly. */
  val q170 = QueryDef(
    "q170_contrastive_triplets",
    s"""WITH $lloydDistCte,
       |ranked AS (
       |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |  FROM d3),
       |asg AS (
       |  SELECT r1.vec_id, r1.cell AS cell1, r2.cell AS cell2, e.embedding
       |  FROM (SELECT vec_id, cell FROM ranked WHERE rn = 1) r1
       |  JOIN (SELECT vec_id, cell FROM ranked WHERE rn = 2) r2 USING (vec_id)
       |  JOIN embeddings e USING (vec_id)),
       |posr AS (
       |  SELECT vec_id, pos_id, cos, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, pos_id) AS rn
       |  FROM (
       |    SELECT a.vec_id, b.vec_id AS pos_id,
       |           ${VectorSql.cosine("a.embedding", "b.embedding")} AS cos
       |    FROM asg a JOIN asg b ON a.cell1 = b.cell1 AND a.vec_id <> b.vec_id) t),
       |negr AS (
       |  SELECT vec_id, neg_id, cos, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neg_id) AS rn
       |  FROM (
       |    SELECT a.vec_id, b.vec_id AS neg_id,
       |           ${VectorSql.cosine("a.embedding", "b.embedding")} AS cos
       |    FROM asg a JOIN asg b ON a.cell2 = b.cell1) t)
       |SELECT p.vec_id, p.pos_id, (round((p.cos) + 1e-9, 6) + 0.0) AS pos_cos,
       |  n.neg_id, (round((n.cos) + 1e-9, 6) + 0.0) AS neg_cos,
       |  ${Cross.r6Sql("(round((p.cos) + 1e-9, 6) + 0.0) - (round((n.cos) + 1e-9, 6) + 0.0)")} AS margin
       |FROM (SELECT * FROM posr WHERE rn = 1) p
       |JOIN (SELECT * FROM negr WHERE rn = 1) n USING (vec_id)
       |ORDER BY p.vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    val cents = SimilaritySearch.ivfTrain(emb, Cells, Dims, iters = 2)
    SimilaritySearch.contrastiveTriplets(emb, cents)
      .orderBy("vec_id")
  }

  /** Hybrid retrieval by reciprocal-rank fusion (Retrieval.rrf): the
    * BM25 lexical shortlist (q112's scoring, top 50) fused with a dense
    * cosine shortlist against vec 0's embedding (top 50), rrf constant
    * 60 — the calibration-free lexical+dense combiner of modern RAG
    * stacks. Ranks are integers over engine-identical scores (BM25 is
    * decimal-summed and rounded before ranking; cosine is the shared
    * fold of q40), so 1/(60+rank) contributions are bit-exact; they add
    * in fixed arm order. The oracle rebuilds both arms, both row_number
    * ranks, and the outer-join fusion. */
  val q163 = QueryDef(
    "q163_rrf_fusion",
    s"""WITH ${TextSql.bm25ScoredCte(Seq("spark", "query", "window"))},
       |agg AS (
       |  SELECT doc_id, (round((${Cross.dsumSql("s", 6)}) + 1e-9, 6) + 0.0) AS score
       |  FROM scored GROUP BY doc_id),
       |lex AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM agg),
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |dcos AS (
       |  SELECT vec_id AS id, ${VectorSql.cosine("qe", "embedding")} AS cos
       |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
       |den AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS r FROM dcos),
       |fused AS (
       |  SELECT COALESCE(l.id, d.id) AS doc_id,
       |    (CASE WHEN l.r IS NOT NULL THEN 1 ELSE 0 END) +
       |    (CASE WHEN d.r IS NOT NULL THEN 1 ELSE 0 END) AS n_lists,
       |    (round((COALESCE(1.0::DOUBLE / (60 + l.r)::DOUBLE, 0.0::DOUBLE) +
       |            COALESCE(1.0::DOUBLE / (60 + d.r)::DOUBLE, 0.0::DOUBLE)) + 1e-9, 6) + 0.0) AS rrf
       |  FROM (SELECT * FROM lex WHERE r <= 50) l
       |  FULL OUTER JOIN (SELECT * FROM den WHERE r <= 50) d ON l.id = d.id)
       |SELECT doc_id, n_lists, rrf FROM fused
       |ORDER BY rrf DESC, doc_id LIMIT 25""".stripMargin) { (spark, dir) =>
    val lexTop = graft.operators.Retrieval.bm25(Tables.documents(spark, dir),
        Seq("spark", "query", "window"), k1 = 1.5, b = 0.75)
      .limit(50)
    val lex = lexTop
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val denTop = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .select(col("vec_id"), VectorFns.cosine(col("qe"), col("embedding")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(50)
    val den = denTop
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("id"), col("rank"))
    graft.operators.Retrieval.rrf(Seq(lex, den), k = 60)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("rrf").desc, col("doc_id")).limit(25)
  }

  /** Matryoshka prefix-dim recall (SimilaritySearch.prefixDimRecall):
    * top-5 under the first 16 of 64 dims, scored for exact overlap
    * against the full-dim top-5 per query. The oracle runs both brute
    * searches (the q40 shape, once on `embedding`, once on the
    * `embedding[1:16]` slice) and counts the intersection through the
    * same left join. Proves the truncation path end to end: slicing,
    * prefix cosine, ranking, and the recall accounting. */
  val q181 = QueryDef(
    "q181_matryoshka_recall",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
       |fs AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         ${VectorSql.cosine("qe", "embedding")} AS cos
       |  FROM q CROSS JOIN embeddings WHERE query_id <> vec_id),
       |fr AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM fs),
       |f AS (SELECT query_id, neighbor_id FROM fr WHERE rank <= 5),
       |tc AS (SELECT vec_id, embedding[1:16] AS te FROM embeddings),
       |tq AS (SELECT vec_id AS query_id, te AS qe FROM tc WHERE vec_id < 8),
       |ps AS (
       |  SELECT query_id, vec_id AS neighbor_id,
       |         ${VectorSql.cosine("qe", "te")} AS cos
       |  FROM tq CROSS JOIN tc WHERE query_id <> vec_id),
       |pr AS (
       |  SELECT query_id, neighbor_id,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM ps),
       |p AS (SELECT query_id, neighbor_id FROM pr WHERE rank <= 5)
       |SELECT f.query_id, COUNT(p.neighbor_id) AS n_common,
       |       (round((COUNT(p.neighbor_id)::DOUBLE / 5.0) + 1e-9, 6) + 0.0) AS recall
       |FROM f LEFT JOIN p
       |  ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
       |GROUP BY f.query_id
       |ORDER BY f.query_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.prefixDimRecall(emb.filter(col("vec_id") < 8), emb,
        k = 5, kDims = 16)
      .orderBy("query_id")
  }

  /** Centroid-distance outlier screen (Features.centroidOutliers): flag
    * vectors whose distance to the corpus centroid z-scores past ±2 —
    * the pre-ANN sanity filter (the naive L2-NORM screen is blind on
    * this corpus: unit-normalized vectors all have norm 1). The oracle
    * recomputes the per-dim exact-decimal centroid, the in-order
    * distance fold, and the identical moment/z arithmetic, so z-scores
    * hash-match bit for bit. */
  val q207 = QueryDef(
    "q207_centroid_outliers",
    s"""WITH dimsum AS (
       |  SELECT dim,
       |         ${Cross.dsumSql("embedding[dim]::DOUBLE", 9)} / COUNT(*) AS mu
       |  FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS dim) dd
       |  GROUP BY dim),
       |muv AS (SELECT list(mu ORDER BY dim) AS m FROM dimsum),
       |d AS (
       |  SELECT vec_id,
       |    ${Cross.r6Sql(
             s"sqrt(list_sum(list_transform(range(1, ${Dims + 1}), " +
               "i -> (embedding[i]::DOUBLE - m[i]) * (embedding[i]::DOUBLE - m[i]))))")} AS dist
       |  FROM embeddings CROSS JOIN muv),
       |mo AS (
       |  SELECT COUNT(*) AS n,
       |         ${Cross.dsumSql("dist")} AS s,
       |         ${Cross.dxsumSql("dist", "dist")} AS q
       |  FROM d)
       |SELECT vec_id, dist,
       |  ${Cross.r6Sql(
             "(dist - s / n) / (sqrt(n::DOUBLE * q - s * s) / n::DOUBLE)")} AS z,
       |  (abs(${Cross.r6Sql(
             "(dist - s / n) / (sqrt(n::DOUBLE * q - s * s) / n::DOUBLE)")}) > 2.0) AS outlier
       |FROM d CROSS JOIN mo
       |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    graft.operators.Features.centroidOutliers(
        Tables.embeddings(spark, dir), "vec_id", "embedding", Dims, zThresh = 2.0)
      .orderBy("vec_id")
  }

  /** Semantic decontamination (SimilaritySearch.semanticDecontaminate):
    * vectors 0–15 act as the eval set, the rest as the train corpus;
    * every train vector carries its best-matching eval id, rounded max
    * cosine, and the >= 0.3 contamination flag. Exact brute scan with
    * the eval side broadcast — the oracle recomputes the full bipartite
    * cosine table and the (cos DESC, eval_id) argmax. */
  val q224 = QueryDef(
    "q224_semantic_decontaminate",
    s"""WITH e AS (SELECT vec_id AS eval_id, embedding AS ee FROM embeddings WHERE vec_id < 16),
       |t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 16),
       |sc AS (
       |  SELECT t.vec_id, e.eval_id,
       |         ${Cross.r6Sql(VectorSql.cosine("t.embedding", "e.ee"))} AS cos
       |  FROM t CROSS JOIN e),
       |r AS (
       |  SELECT vec_id, eval_id, cos,
       |         row_number() OVER (PARTITION BY vec_id
       |                            ORDER BY cos DESC, eval_id) AS rn,
       |         MAX(cos) OVER (PARTITION BY vec_id) AS max_cos
       |  FROM sc)
       |SELECT vec_id, eval_id, max_cos, (max_cos >= 0.3) AS contaminated
       |FROM r WHERE rn = 1
       |ORDER BY vec_id""".stripMargin) { (spark, dir) =>
    val emb = Tables.embeddings(spark, dir)
    SimilaritySearch.semanticDecontaminate(
        emb.filter(col("vec_id") >= 16), emb.filter(col("vec_id") < 16),
        minCos = 0.3)
      .orderBy("vec_id")
  }

  /** Maximal Marginal Relevance re-ranking (SimilaritySearch.mmrSelect):
    * 5 greedy rounds of λ·rel − (1−λ)·max-cos-to-selected over the
    * embedding pool, relevance = cosine to vec 1. The oracle UNROLLS
    * all five rounds — each a scalar argmax CTE whose max_sim joins the
    * previous selections — so hash-equality pins every round's pick,
    * tie-break, and the literal-reentry of selected vectors (the BPE
    * unroll discipline applied to vector search). */
  private def mmrCosSql(a: String, b: String) =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]))"

  /** The q259 MMR unroll, shared with q264: k greedy argmax CTEs
    * (s1..sk) over a CTE named `c` with (vec_id, ne, rel) — each round's
    * max_sim joins every previous selection — plus the UNION ALL arms
    * emitting (rank, vec_id, rel, max_sim, mmr). Mirrors
    * SimilaritySearch.mmrSelect round for round. */
  private def mmrUnrollSql(k: Int, lam: String, oneMinus: String): (String, String) = {
    val s1 =
      s"""s1 AS (
         |  SELECT vec_id, ne, rel, 0.0 AS max_sim,
         |    ${Cross.r6Sql(s"$lam * rel - $oneMinus * 0.0")} AS mmr
         |  FROM c
         |  ORDER BY ${Cross.r6Sql(s"$lam * rel - $oneMinus * 0.0")} DESC, vec_id
         |  LIMIT 1)""".stripMargin
    val rounds = (2 to k).map { r =>
      val prev = (1 until r).map(i => s"s$i")
      val simTerms = prev.map(p => Cross.r6Sql(mmrCosSql("c.ne", s"$p.ne")))
      val ms = if (simTerms.size == 1) simTerms.head
        else s"greatest(${simTerms.mkString(", ")})"
      val obj = Cross.r6Sql(s"$lam * c.rel - $oneMinus * ($ms)")
      s"""s$r AS (
         |  SELECT c.vec_id, c.ne, c.rel, $ms AS max_sim, $obj AS mmr
         |  FROM c, ${prev.mkString(", ")}
         |  WHERE ${prev.map(p => s"c.vec_id <> $p.vec_id").mkString(" AND ")}
         |  ORDER BY $obj DESC, c.vec_id LIMIT 1)""".stripMargin
    }
    val arms = (1 to k).map(r =>
      s"SELECT $r::BIGINT AS rank, vec_id, rel, max_sim, mmr FROM s$r")
      .mkString("\nUNION ALL ")
    ((s1 +: rounds).mkString(",\n"), arms)
  }

  val q259 = {
    val k = 5
    val lam = "CAST(0.7 AS DOUBLE)"
    val oneMinus = "CAST(0.3 AS DOUBLE)"
    def cosSql(a: String, b: String) = mmrCosSql(a, b)
    val (roundCtes, arms) = mmrUnrollSql(k, lam, oneMinus)
    QueryDef(
      "q259_mmr_select",
      s"""WITH $normedCte,
         |q AS (SELECT ne AS qne FROM normed WHERE vec_id = 1),
         |c AS (
         |  SELECT vec_id, ne, ${Cross.r6Sql(cosSql("ne", "qne"))} AS rel
         |  FROM normed, q),
         |$roundCtes
         |$arms
         |ORDER BY rank""".stripMargin) { (spark, dir) =>
      val normed = Tables.embeddings(spark, dir)
        .withColumn("nrm", VectorFns.norm2(col("embedding")))
        .filter(col("nrm") > 0.0)
        .select(col("vec_id"), col("embedding"),
          transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"))
      val qv = normed.filter(col("vec_id") === 1)
        .select(col("ne").as("qne"))
      val cands = normed.crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"),
          VectorFns.dot(col("ne"), col("qne")).as("rel"))
      graft.operators.SimilaritySearch.mmrSelect(cands,
          col("vec_id"), col("embedding"), col("rel"), k = k, lambda = 0.7)
        .orderBy("rank")
    }
  }

  /** END-TO-END RAG retrieval pipeline: q258's sliding-window chunking
    * (24/16 over every 11th doc) → a feature-hashed dense chunk
    * embedding (tokens hash into 16 count buckets — the in-engine
    * text→vector path, q135/q78's hashing trick densified) → q259's MMR
    * diversity selection over the CHUNK pool, relevance = cosine to the
    * lowest-cid chunk. One gate proving the three pieces compose: the
    * oracle inlines the ENTIRE chain — slide-grid arithmetic, per-chunk
    * bucket counts via the shared md5 hash family, normalization, and
    * the full 5-round MMR unroll — so chunk boundaries, every embedding
    * coordinate, and every greedy pick hash-match end to end
    * (PipelineSpec holds the composition law; Curate publishes the same
    * chunks artifact).
    *
    * Scale shape: chunking and embedding are stateless per-row codegen
    * (zero shuffles before the pool), the per-chunk vector build is
    * O(dims·tokens) in one projection, and MMR's driver state stays
    * k-bounded — the whole pipeline inherits its pieces' 100 TB
    * stories. */
  val q264 = {
    val k = 5
    val D = 16
    val lam = "CAST(0.7 AS DOUBLE)"
    val oneMinus = "CAST(0.3 AS DOUBLE)"
    val (roundCtes, arms) = mmrUnrollSql(k, lam, oneMinus)
    QueryDef(
      "q264_rag_chunk_mmr",
      s"""WITH t AS (
         |  SELECT doc_id, ${graft.functions.TextSql.tokens("text")} AS tk
         |  FROM documents WHERE doc_id % 11 = 0),
         |k0 AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN len(tk) <= 24 THEN 0 ELSE (len(tk) - 24 + 15) // 16 END AS kmax
         |  FROM t WHERE len(tk) > 0),
         |ch AS (
         |  SELECT doc_id * 1000000 + i AS cid,
         |         list_slice(tk, i * 16 + 1, i * 16 + 24) AS ctk
         |  FROM (SELECT doc_id, tk, unnest(range(0, kmax + 1)) AS i FROM k0)),
         |vec AS (
         |  SELECT cid,
         |    list_transform(range(0, $D), d ->
         |      len(list_filter(list_transform(ctk, tok -> ${Cross.hash31Sql("tok")} % $D),
         |                      b -> b = d))::DOUBLE) AS v
         |  FROM ch),
         |nr AS (SELECT cid, v, ${VectorSql.norm2("v")} AS nrm FROM vec),
         |normed AS (
         |  SELECT cid AS vec_id,
         |    list_transform(range(1, len(v) + 1), i -> v[i]::DOUBLE / nrm) AS ne
         |  FROM nr WHERE nrm > 0),
         |q AS (SELECT ne AS qne FROM normed
         |      WHERE vec_id = (SELECT MIN(vec_id) FROM normed)),
         |c AS (
         |  SELECT vec_id, ne, ${Cross.r6Sql(mmrCosSql("ne", "qne"))} AS rel
         |  FROM normed, q),
         |$roundCtes
         |$arms
         |ORDER BY rank""".stripMargin) { (spark, dir) =>
      val chunks = graft.operators.Packing.chunkSliding(
        Tables.documents(spark, dir).filter(col("doc_id") % 11 === 0),
        col("doc_id"), graft.functions.TextFns.tokens(col("text")),
        chunkSize = 24, stride = 16)
      val withVec = chunks
        .select((col("doc_id") * 1000000L + col("chunk_idx")).as("cid"),
          col("chunk_text"))
        // chunk_text is space-joined alnum tokens, so re-tokenizing
        // round-trips the exact token slice (the q257 argument)
        .withColumn("bs", transform(graft.functions.TextFns.tokens(col("chunk_text")),
          t => pmod(Cross.hash31(t), lit(D.toLong))))
        .withColumn("embedding", transform(sequence(lit(0), lit(D - 1)),
          d => size(filter(col("bs"), b => b === d.cast("long"))).cast("double")))
        .withColumn("nrm", VectorFns.norm2(col("embedding")))
        .filter(col("nrm") > 0.0)
        .withColumn("ne", transform(col("embedding"), x => x / col("nrm")))
      val qv = withVec.orderBy("cid").limit(1).select(col("ne").as("qne"))
      val cands = withVec.crossJoin(broadcast(qv))
        .select(col("cid").as("vec_id"), col("embedding"),
          VectorFns.dot(col("ne"), col("qne")).as("rel"))
      SimilaritySearch.mmrSelect(cands,
          col("vec_id"), col("embedding"), col("rel"), k = k, lambda = 0.7)
        .orderBy("rank")
    }
  }

  /** Fleet-scale MMR (SimilaritySearch.mmrSelectPerQuery): three anchor
    * queries (vec_id < 3) diversify the whole pool SIMULTANEOUSLY — the
    * serving-batch shape where q259's driver-literal loop would be
    * quadratic chatter. Three rounds, each one anti-join + query-keyed
    * max-sim aggregation + per-query max_by arg-max; no window sorts,
    * no collect. The oracle unrolls every round PER QUERY (per-query
    * row_number arg-max, tuple NOT IN exclusion, max over the selected
    * set's cosines), so each query's picks, tie-breaks, and objective
    * values hash-match independently; PropertySpec additionally pins
    * per-slice equality with the single-query mmrSelect. */
  val q269 = {
    val k = 3
    val lam = "CAST(0.7 AS DOUBLE)"
    val oneMinus = "CAST(0.3 AS DOUBLE)"
    def obj(ms: String) = Cross.r6Sql(s"$lam * rel - $oneMinus * $ms")
    val s1 =
      s"""s1 AS (
         |  SELECT query_id, vec_id, rel, 0.0 AS max_sim, ${obj("0.0")} AS mmr FROM (
         |    SELECT c.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${obj("0.0")} DESC, vec_id) AS rn FROM c) t
         |  WHERE rn = 1)""".stripMargin
    val rounds = (2 to k).map { r =>
      val prev = (1 until r).map(i => s"s$i").mkString(" UNION ALL SELECT * FROM ")
      s"""p$r AS (SELECT * FROM $prev),
         |c$r AS (
         |  SELECT c.query_id, c.vec_id, c.rel,
         |    MAX(${Cross.r6Sql(mmrCosSql("c.ne", "n2.ne"))}) AS max_sim
         |  FROM c JOIN p$r s ON c.query_id = s.query_id
         |  JOIN normed n2 ON n2.vec_id = s.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM p$r x
         |                    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
         |  GROUP BY c.query_id, c.vec_id, c.rel),
         |s$r AS (
         |  SELECT query_id, vec_id, rel, max_sim, ${obj("max_sim")} AS mmr FROM (
         |    SELECT t.*, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${obj("max_sim")} DESC, vec_id) AS rn FROM c$r t) t2
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val arms = (1 to k).map(r =>
      s"SELECT query_id, $r::BIGINT AS rank, vec_id, rel, max_sim, mmr FROM s$r")
      .mkString("\nUNION ALL ")
    QueryDef(
      "q269_mmr_per_query",
      s"""WITH $normedCte,
         |q AS (SELECT vec_id AS query_id, ne AS qne FROM normed WHERE vec_id < 3),
         |c AS (
         |  SELECT q.query_id, n.vec_id, n.ne,
         |         ${Cross.r6Sql(mmrCosSql("n.ne", "q.qne"))} AS rel
         |  FROM normed n CROSS JOIN q),
         |$s1,
         |$rounds
         |$arms
         |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
      val normed = Tables.embeddings(spark, dir)
        .withColumn("nrm", VectorFns.norm2(col("embedding")))
        .filter(col("nrm") > 0.0)
        .select(col("vec_id"), col("embedding"),
          transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"))
      val anchors = normed.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("ne").as("qne"))
      val cands = normed.crossJoin(broadcast(anchors))
        .select(col("query_id"), col("vec_id"), col("embedding"),
          VectorFns.dot(col("ne"), col("qne")).as("rel"))
      SimilaritySearch.mmrSelectPerQuery(cands, k = k, lambda = 0.7)
        .orderBy("query_id", "rank")
    }
  }

  val all: Seq[QueryDef] = Seq(q40, q41, q42, q43, q44, q45, q46, q49, q97, q98, q122, q140, q143, q144, q145, q146, q147, q153, q163, q164, q170, q181, q193, q207, q224, q259, q264, q268, q269, q327, q332, q334, q337, q338, q341)
}
