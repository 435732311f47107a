package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** One gate entry: a Spark query over an sf directory plus (optionally)
    * the equivalent ANSI SQL the driver runs in DuckDB on the same parquet
    * tables. Oracle-less entries get a weaker rows-only check. */
  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  object QueryDef {
    def apply(name: String, sql: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
      QueryDef(name, fn, Some(sql))
  }
}
