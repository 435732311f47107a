package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** One gate entry: a Spark query over an sf directory plus the
    * equivalent ANSI SQL, which the correctness check runs in DuckDB
    * on the same parquet tables. */
  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: String)

  object QueryDef {
    def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
      QueryDef(name, fn, sql)
  }
}
