package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.AttrParser

/** Extended content model features (reference
  * models/extended_content_model.py): business demographics — category
  * one-hots against a fixed vocabulary (X3), safely-parsed attribute
  * encodings (X4), and the sparse feature concatenation with offsets (X5).
  * The reference assembles driver-side SparseVectors; here features live
  * in long form (entity, feature, value) so assembly is a union and the
  * downstream cosine is the same term-join used by ContentBased (profile
  * algebra scales with a shuffle, not with driver memory).
  */
object ExtendedContent {

  private val parseAlcohol = udf(AttrParser.encodeAlcohol _)
  private val parseNoise = udf(AttrParser.encodeNoise _)
  private val parseBool = udf(AttrParser.encodeBool _)

  /** Long-form category one-hot: (business_id, feature "cat:<c>", 1.0)
    * for each of the business's categories found in `vocab`
    * (X3 — reference models/extended_content_model.py:78,111-121). */
  def categoryFeatures(biz: DataFrame, vocab: Seq[String]): DataFrame =
    biz.select(col("business_id"),
        explode(split(col("categories"), ",\\s*")).as("cat"))
      .filter(col("cat").isin(vocab: _*))
      .distinct()
      .select(col("business_id"), concat(lit("cat:"), col("cat")).as("feature"),
        lit(1.0).as("value"))

  /** Attribute encodings from the stringified-literal map column
    * (X4): ordinal Alcohol/NoiseLevel, code+1 booleans. */
  def attributeFeatures(biz: DataFrame, boolAttrs: Seq[String]): DataFrame = {
    val alcohol = biz.select(col("business_id"), lit("attr:Alcohol").as("feature"),
      parseAlcohol(element_at(col("attributes"), "Alcohol")).cast("double").as("value"))
    val noise = biz.select(col("business_id"), lit("attr:NoiseLevel").as("feature"),
      parseNoise(element_at(col("attributes"), "NoiseLevel")).cast("double").as("value"))
    val bools = boolAttrs.map { a =>
      biz.select(col("business_id"), lit(s"attr:$a").as("feature"),
        parseBool(element_at(col("attributes"), a)).cast("double").as("value"))
    }
    (Seq(alcohol, noise) ++ bools).reduce(_ union _).filter(col("value") =!= 0.0)
  }

  /** X5: concatenate feature families — long form needs no offset
    * arithmetic; the feature name is the dimension. */
  def assemble(families: DataFrame*): DataFrame = families.reduce(_ union _)
}
