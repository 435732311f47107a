package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.LocalFs

/** Deterministic scale-up generator for SCALE MEASUREMENT (not
  * correctness — the oracle gates stay on the driver-generated SFs):
  * writes `factor` shifted copies of every table under the testdata
  * layout, preserving the shapes that make scaling honest:
  *
  *   - per-key cardinalities: every copy shifts its keys by
  *     copy × |table|, so a 10× corpus has 10× the users/items/docs
  *     with the SAME per-key row counts — the TPC-H scaling contract
  *     (dims region/nation stay fixed), and the shape under which
  *     per-key operators must stay flat while global ones grow
  *     linearly;
  *   - foreign keys stay within their copy (orders→customers,
  *     lineitem→orders/parts/suppliers, events→users), so join
  *     fan-outs per key are unchanged;
  *   - document TEXT is cross-mixed, not duplicated: copy c of doc i
  *     keeps its first half and takes the second half of partner
  *     (i + c·2711) mod n — shingle overlap with any original ≈ ½
  *     (Jaccard ≈ ⅓), below every dedup/containment threshold in the
  *     gates, so near-dup structure scales LINEARLY with the corpus
  *     (verbatim copies would add O(factor²) true duplicate pairs and
  *     measure the output explosion, not the operator);
  *   - embeddings mix 0.8·self + 0.2·partner per dimension, so ANN
  *     top-k at 10× searches 10× genuinely distinct vectors instead
  *     of 10-way ties.
  *
  * Usage: runMain graft.cli.ScaleUp <srcDir> <dstDir> [factor=10]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = graft.SessionHygiene.session()
    run(spark, src, dst, factor)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    LocalFs.install(spark)
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // fixed dims: identical at every SF
    wr(rd("region"), "region", 1)
    wr(rd("nation"), "nation", 1)

    /** Union `factor` copies with the given per-copy column rewrites. */
    def copies(t: String)(rewrite: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = rd(t)
      (0 until factor).map(c => rewrite(base, c)).reduce(_ unionByName _)
    }
    def shift(df: DataFrame, colName: String, by: Long): DataFrame =
      df.withColumn(colName, col(colName) + lit(by))

    val nCust = rd("customer").count()
    val nSupp = rd("supplier").count()
    val nPart = rd("part").count()
    val nOrd = rd("orders").count()
    val nEv = rd("events").count()
    val nDoc = rd("documents").count()
    val nVec = rd("embeddings").count()

    wr(copies("customer")((d, c) => shift(d, "c_custkey", c * nCust)),
      "customer", 2)
    wr(copies("supplier")((d, c) => shift(d, "s_suppkey", c * nSupp)),
      "supplier", 1)
    wr(copies("part")((d, c) => shift(d, "p_partkey", c * nPart)), "part", 2)
    wr(copies("orders") { (d, c) =>
      shift(shift(d, "o_orderkey", c * nOrd), "o_custkey", c * nCust)
    }, "orders", 4)
    wr(copies("lineitem") { (d, c) =>
      shift(shift(shift(d, "l_orderkey", c * nOrd),
        "l_partkey", c * nPart), "l_suppkey", c * nSupp)
    }, "lineitem", 8)
    wr(copies("events") { (d, c) =>
      shift(shift(d, "event_id", c * nEv), "user_id", c * nCust)
    }, "events", 4)

    // documents: first half of self + second half of partner (by chars),
    // then ~¼ of tokens salted with a copy-unique suffix. The salting is
    // the Heaps-law correction: block reuse alone keeps the DISTINCT
    // shingle set constant while the corpus grows factor×, which
    // inflates every posting list — including the df=1 rare tail the
    // prefix filters rely on being rare — by factor×, and parks
    // copy-family containment/Jaccard exactly at the gates' 0.5/0.3
    // thresholds. Salted tokens create a fresh rare tail per copy
    // ((1−¼)³ ≈ 0.42 of 3-shingles survive unsalted ⇒ family
    // containment ≈ 0.21, Jaccard ≈ 0.15 — clear of every threshold),
    // while common shingles still inflate linearly, which real corpora
    // do too.
    val docs = rd("documents")
    val partnerTexts = docs.select(col("doc_id").as("p_id"), col("text").as("p_text"))
    wr(copies("documents") { (d, c) =>
      if (c == 0) d
      else {
        val withPartner = d
          .withColumn("p_id", pmod(col("doc_id") + lit(c * 2711L), lit(nDoc)))
          .join(partnerTexts, "p_id")
        val half = (length(col("text")) / 2).cast("int")
        val phalf = (length(col("p_text")) / 2).cast("int")
        val mixed = concat(col("text").substr(lit(1), half),
          col("p_text").substr(phalf + 1, length(col("p_text"))))
        val salted = array_join(
          transform(split(mixed, " "), (t, i) =>
            when(pmod(hash(col("doc_id"), lit(c), i), lit(4)) === 0,
              concat(t, lit(s"x$c"))).otherwise(t)),
          " ")
        withPartner
          .withColumn("text", salted)
          .withColumn("doc_id", col("doc_id") + lit(c * nDoc))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }
    }, "documents", 4)

    // embeddings: 0.8*self + 0.2*partner per dim, float-rounded
    val vecs = rd("embeddings")
    val partnerVecs = vecs.select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    wr(copies("embeddings") { (d, c) =>
      if (c == 0) d
      else d
        .withColumn("p_id", pmod(col("vec_id") + lit(c * 701L), lit(nVec)))
        .join(partnerVecs, "p_id")
        .withColumn("embedding", zip_with(col("embedding"), col("p_emb"),
          (a, b) => (a * lit(0.8f) + b * lit(0.2f)).cast("float")))
        .withColumn("vec_id", col("vec_id") + lit(c * nVec))
        .select("vec_id", "embedding", "label")
    }, "embeddings", 2)

    println(s"[scaleup] wrote ${factor}x of $src to $dst")
  }
}
