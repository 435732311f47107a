package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every operator family from SURVEY.md §2 registers its gate queries here;
  * every entry's oracle SQL is DuckDB hash-compared. */
object SparkEntry {

  /** All gate queries, grouped by operator family. */
  def defs: Seq[QueryDef] =
    Relational.all ++ TextAnalysis.all ++ DedupQueries.all ++ EmbeddingQueries.all ++ EventQueries.all ++ RecommenderQueries.all ++ ContentQueries.all ++ UserCfQueries.all ++ MlQueries.all ++ MultimodalQueries.all ++ ExtendedQueries.all ++ SqlApiQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    defs.map(d => d.name -> d.oracle).toMap
}
