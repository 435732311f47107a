package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Model-artifact and prediction IO (reference SURVEY.md §1.3 formats,
  * re-expressed as atomic parallel writes).
  *
  * The reference persists driver-side dicts as ad-hoc JSON files, with one
  * racy executor-side append path (S5 — models/content_based_model.py:
  * 404-418); here every artifact is a DataFrame written as parquet
  * (columnar, splittable — the 100 TB-safe choice) and predictions are
  * line-delimited JSON for byte-level compatibility with the reference's
  * output surface (S4 — {user_id, business_id, stars} per line).
  */
object ModelIO {

  def saveTable(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def loadTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Predictions in the reference's JSON-lines output format
    * (models/content_based_model.py:534-539). */
  def savePredictionsJson(preds: DataFrame, path: String): Unit = {
    // a `decision` tag (which rule produced the row) rides along when the
    // model emits one — the reference's predictions carry it and its
    // evaluator branches on its presence (scripts/evaluate.py:137-139)
    val cols = Seq(col("user_id"), col("business_id"), col("pred").as("stars")) ++
      (if (preds.columns.contains("decision")) Seq(col("decision")) else Nil)
    preds.select(cols: _*).write.mode("overwrite").json(path)
  }

  /** The line layout [[savePredictionsJson]] writes. Spark's JSON writer
    * drops null fields, so `decision` is simply absent from the lines of
    * a model that emits no tag. */
  private val predictionsSchema: StructType = StructType.fromDDL(
    "user_id BIGINT, business_id BIGINT, stars DOUBLE, decision STRING")

  /** (user_id, business_id, pred, decision), read with the declared
    * line layout (no inference scan); `decision` is NULL on every row
    * of an untagged model's file. */
  def loadPredictionsJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(predictionsSchema).json(path)
      .select(col("user_id"), col("business_id"), col("stars").as("pred"), col("decision"))

  /** CSV pair-weights table (S6 — reference models/item_cf_model.py:194
    * writes b1,b2,pears,cos,jacc via pandas). */
  def saveCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** CSV scan with header (S3 — reference utils/misc.py:48-56 skips the
    * header by zipWithIndex; the built-in reader does it natively). */
  def loadCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** ORC sink/scan — the second columnar format of the source surface
    * (beyond-reference; Spark ships native vectorized ORC). Same
    * predicate-pushdown/column-pruning properties as the parquet path,
    * so a warehouse standardized on ORC can run every operator here
    * unchanged. */
  def saveOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def loadOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S9: the reference's sparse-profile artifact format — one JSON line
    * per entity holding SparseVector triples `(size, indices[], values[])`
    * (models/content_based_model.py:404-418 persists, 463-469 reloads).
    * `vocabIndex(term, idx)` fixes the index space; indices are written
    * sorted so the artifact is byte-deterministic. */
  def saveSparseArtifact(profiles: DataFrame, vocabIndex: DataFrame,
      size: Int, path: String): Unit = {
    profiles.join(vocabIndex, "term")
      .groupBy(col("entity_id").as("id"))
      .agg(sort_array(collect_list(struct(col("idx"), col("w")))).as("iw"))
      .select(col("id"), lit(size).as("size"),
        col("iw.idx").as("indices"), col("iw.w").as("values"))
      .write.mode("overwrite").json(path)
  }

  /** Read the sparse artifact back to long form (entity_id, term, w). */
  def loadSparseArtifact(spark: SparkSession, path: String,
      vocabIndex: DataFrame): DataFrame =
    spark.read.json(path)
      .select(col("id").as("entity_id"),
        explode(arrays_zip(col("indices"), col("values"))).as("z"))
      .select(col("entity_id"), col("z.indices").as("idx"), col("z.values").as("w"))
      .join(vocabIndex, "idx")
      .select("entity_id", "term", "w")

  /** IVF centroid artifact: one flat parquet of (cell, dim, v) cells —
    * the trained coarse quantizer an ANN deployment persists once and
    * every search job reloads. Doubles round-trip bit-exact through
    * parquet, so search-after-reload plans the identical centroid
    * literals and returns hash-identical results (gate q140). */
  def saveCentroids(spark: SparkSession, cents: Array[Array[Double]],
      path: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.flatMap { case (w, c) =>
      w.zipWithIndex.map { case (v, i) => (c, i, v) }
    }.toSeq.toDF("cell", "dim", "v")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Read [[saveCentroids]] back to the driver-side k×dims array (tiny:
    * nCells·dims doubles). */
  def loadCentroids(spark: SparkSession, path: String): Array[Array[Double]] = {
    val rows = spark.read.parquet(path).select("cell", "dim", "v").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    require(rows.nonEmpty, s"no centroid cells at $path")
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map(_._3)
    }.toArray
  }

  /** Tokenizer artifact: the trained BPE merge table as one flat
    * parquet (rank, a, b, merged, pair_count) — what a tokenizer
    * deployment persists once and every encode job reloads. Rank order
    * IS the program (Bpe.segment / Bpe.encodeDocs replay merges in
    * rank order), so the round-trip must preserve ranks exactly; gate
    * q342 proves load-then-encode hash-matches live encode against the
    * unrolled oracle. */
  def saveMergeTable(mergeTable: DataFrame, path: String): Unit =
    mergeTable.select("rank", "a", "b", "merged", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)

  def loadMergeTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select("rank", "a", "b", "merged", "pair_count")

  /** The merge table's companion artifact: the fixed symbol→id
    * vocabulary (Bpe.symbolVocab). Persisted separately so an encode
    * job can load exactly the id space training assigned — never
    * re-derive it from the data being encoded. */
  def saveVocab(vocab: DataFrame, path: String): Unit =
    vocab.select("sym", "id").coalesce(1).write.mode("overwrite").parquet(path)

  def loadVocab(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select("sym", "id")

  /** S7-analog for the driver-side MLP head (reference np.save of
    * hybridMLP.model, scripts/train_hybrid.py:107): one flat parquet of
    * (layer, row, col, v) weight cells, biases at col = -1, layer sizes
    * at layer = -1. Engine-portable and schema-stable, unlike a pickled
    * object. */
  def saveMlp(spark: SparkSession, model: graft.model.MlpRegressor.Model,
      path: String): Unit = {
    import spark.implicits._
    val cells =
      model.sizes.zipWithIndex.map { case (s, i) => (-1, i, -1, s.toDouble) } ++
        model.w.zipWithIndex.flatMap { case (m, l) =>
          m.zipWithIndex.flatMap { case (row, j) =>
            row.zipWithIndex.map { case (v, i) => (l, j, i, v) } } } ++
        model.b.zipWithIndex.flatMap { case (bl, l) =>
          bl.zipWithIndex.map { case (v, j) => (l, j, -1, v) } }
    cells.toSeq.toDF("layer", "row", "col", "v")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadMlp(spark: SparkSession, path: String): graft.model.MlpRegressor.Model = {
    val cells = spark.read.parquet(path)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val sizes = cells.filter(_._1 == -1).sortBy(_._2).map(_._4.toInt)
    val w = Array.tabulate(sizes.length - 1) { l =>
      val m = Array.ofDim[Double](sizes(l + 1), sizes(l))
      cells.filter(c => c._1 == l && c._3 >= 0).foreach(c => m(c._2)(c._3) = c._4)
      m
    }
    val b = Array.tabulate(sizes.length - 1) { l =>
      val v = new Array[Double](sizes(l + 1))
      cells.filter(c => c._1 == l && c._3 == -1).foreach(c => v(c._2) = c._4)
      v
    }
    graft.model.MlpRegressor.Model(sizes, w, b)
  }

  def saveAls(model: org.apache.spark.ml.recommendation.ALSModel, path: String): Unit =
    model.write.overwrite().save(path)

  def loadAls(path: String): org.apache.spark.ml.recommendation.ALSModel =
    org.apache.spark.ml.recommendation.ALSModel.load(path)
}
