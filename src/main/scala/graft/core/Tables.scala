package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata star schema (TESTDATA.md).
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1 S1-S3): the
  * reference reads line-delimited JSON with a manual ~10 MB partition
  * heuristic (reference utils/misc.py:35-46); here the engine reads columnar
  * parquet and lets `spark.sql.files.maxPartitionBytes` size splits, so
  * filter/column pushdown reach the scan for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Declared layout of the fixed-layout tables: exactly the schema
    * Spark infers from the testdata files (and from every producer in
    * this repo — the generator, [[graft.cli.ScaleUp]]). Reading with it
    * skips the footer-reading inference job a schema-less parquet read
    * runs on every call. A file whose layout differs fails on read, or
    * reads a missing declared column as NULL; the layout test
    * (TablesLayoutSpec) pins the equality. `events` is not declared:
    * its `ts` has shipped in two encodings, see [[floorEpochSec]]. */
  val layout: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    layout.get(name).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "region")
  /** Floored-epoch-seconds expression over the raw `ts` column,
    * dispatched on its PHYSICAL type — the driver testdata has shipped
    * `events.ts` both as int64 nanoseconds (read via legacy nanosAsLong)
    * and as timestamp[us] (read as TIMESTAMP_NTZ), and the engine must
    * not care. Both arms are pure integer arithmetic reducing to the
    * oracle's `floor(epoch(ts))`: the subtract-pmod floor-division is
    * exact for pre-1970 instants too, and the NTZ→LTZ cast is wall-clock
    * identity because every harness session pins timeZone=UTC — the same
    * naive-as-UTC reading DuckDB's epoch() uses. */
  def floorEpochSec(tsType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.expr
    tsType match {
      case org.apache.spark.sql.types.LongType =>
        expr("(ts - pmod(ts, 1000000000)) div 1000000000")
      case _: org.apache.spark.sql.types.TimestampType |
           _: org.apache.spark.sql.types.TimestampNTZType =>
        expr("(unix_micros(cast(ts as timestamp)) - " +
          "pmod(unix_micros(cast(ts as timestamp)), 1000000)) div 1000000")
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: expected int64-nanos or timestamp, got $other")
    }
  }

  /** Events with `sec` = floored epoch seconds in place of the raw `ts`,
    * which is also what the DuckDB oracle reduces to (`floor(epoch(ts))`)
    * — sub-second precision never participates in query semantics.
    * nanosAsLong is set for the legacy int64-nanos encoding; harmless
    * when the file carries micros timestamps. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.withColumn("sec", floorEpochSec(raw.schema("ts").dataType))
      .drop("ts")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** Business text for the content-based model: part p reads document
    * p_partkey mod |documents| (deterministic stand-in for the reference's
    * business corpus). Shared by the content gate queries and the CLI. */
  def bizText(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = documents(spark, dir)
    val n = docs.count()
    part(spark, dir)
      .select(col("p_partkey").as("business_id"), pmod(col("p_partkey"), lit(n)).as("doc_id"))
      .join(docs.select("doc_id", "text"), "doc_id")
      .select("business_id", "text")
  }

  /** Review-shaped projection of the star schema: (user, item, stars).
    * Stands in for the reference's `train_review.json` surface
    * (reference README.md:38) so the recommender operators have a
    * deterministic input in this repo's testdata.
    * stars = 1..5 derived from quantity (deterministic, integer math).
    */
  def reviews(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = lineitem(spark, dir)
    val o = orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(
        o("o_custkey").as("user_id"),
        li("l_partkey").as("business_id"),
        (pmod(li("l_quantity").cast("long"), lit(5L)) + lit(1L)).cast("double").as("stars"))
  }
}
