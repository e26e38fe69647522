package graft.link

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.extract.Extraction

/**
 * Entity canonicalization: mentions + verified similarity pairs →
 * canonical entities, then rewrite triples onto canonical ids.
 *
 * Reference analog: `nodeIdToClusterLabel` assignment
 * (cs562_sdpg `Clustering.scala:100-105`) + URI minting
 * (`DataToPattern.scala:75-79`), rebuilt distributed: the cluster map is a
 * DataFrame joined onto the triple stream (broadcast when small, shuffle
 * with AQE skew handling otherwise) instead of a driver HashMap broadcast
 * (`Clustering.scala:152-181`).
 */
object Canonicalize {

  /**
   * @param mentions output of [[Extraction.mentions]]
   * @param pairs    output of [[MinHashBlocking.candidatePairs]] (id_a,id_b)
   * @return entity table (mention_id, canonical_id, mention_type, norm,
   *         canonical_form, canonical_uri, n_occurrences)
   */
  def entities(mentions: DataFrame, pairs: DataFrame): DataFrame = {
    val withCc = ConnectedComponents.components(
      mentions, "mention_id",
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .withColumnRenamed("component", "canonical_id")

    // canonical surface form = the most frequent raw form in the cluster
    // (majority vote, reference analog: majority label per cluster, W1)
    val canonForms = withCc
      .groupBy("canonical_id")
      .agg(max_by(col("top_raw"), struct(col("n_occurrences"), col("norm"))).as("canonical_form"))

    withCc.join(canonForms, "canonical_id")
      .withColumn("canonical_uri",
        Extraction.mintUri(col("mention_type"), Extraction.normalize(col("canonical_form"))))
      .select("mention_id", "canonical_id", "mention_type", "norm",
        "canonical_form", "canonical_uri", "n_occurrences")
  }

  /**
   * Rewrite raw triples onto canonical entities. The mention->canonical map
   * is orders of magnitude smaller than the triple stream (distinct
   * mentions vs occurrences) but NOT guaranteed broadcast-safe at 10^12
   * turns (billions of distinct entities) — no broadcast hint here; AQE
   * converts to broadcast-hash at runtime when the dict side is small, and
   * falls back to shuffle join (with skew splitting) when it is not.
   */
  def canonicalTriples(triplesRaw: DataFrame, entities: DataFrame): DataFrame = {
    val dict = entities.select(
      col("mention_type"), col("norm"),
      col("canonical_id"), col("canonical_form"), col("canonical_uri"))
    val subjDict = dict.select(
      col("mention_type").as("subj_type"), col("norm").as("subj_norm"),
      col("canonical_id").as("subj_id"), col("canonical_form").as("subj"),
      col("canonical_uri").as("subj_uri"))
    val objDict = dict.select(
      col("mention_type").as("obj_type"), col("norm").as("obj_norm"),
      col("canonical_id").as("obj_id"), col("canonical_form").as("obj"),
      col("canonical_uri").as("obj_uri"))
    triplesRaw
      .join(subjDict, Seq("subj_type", "subj_norm"))
      .join(objDict, Seq("obj_type", "obj_norm"))
      .select("conv_id", "turn_idx", "subj_id", "subj", "subj_uri", "subj_type",
        "pred", "obj_id", "obj", "obj_uri", "obj_type")
  }
}
