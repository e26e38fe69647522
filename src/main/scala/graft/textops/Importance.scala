package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Data-selection importance scoring — the DSIR recipe (Xie et al. 2023,
 * Data Selection for Language Models via Importance Resampling) with
 * hashed unigram features: estimate a target distribution p_t and a raw
 * distribution p_r over B hashed token buckets, weight each bucket by
 * the log-likelihood ratio ln((p_t+α)/(p_r+α)), and score a document as
 * the sum of its tokens' bucket weights. High scores = "looks like the
 * target corpus"; the caller thresholds or samples proportional to the
 * score to rebalance a crawl toward a curated target.
 *
 * Bucketing is the first `hexChars` characters of md5(word) — portable
 * (the DuckDB oracle derives the identical buckets), uniform, and free
 * of engine-specific hash seeds. B = 16^hexChars (256 at the default 2;
 * raise to 4 → 65536 for production-scale feature resolution).
 *
 * 100 TB shape: the two distribution estimates are partial-agg shuffles
 * carrying at most B rows each after combine; the weight table (≤ B
 * rows) collects to the driver — the same tiny-by-construction collect
 * posture as IVF centroids — and scoring is then a ZERO-SHUFFLE pure
 * projection (a map-literal lookup folded over each document's tokens),
 * repartition/retry-invariant. Weights are rounded to 6 dp before the
 * fold so the score is a sum of short decimals, not of libm-dependent
 * logs.
 *
 * No reference analog; part of the training-data operator family.
 */
object Importance {

  private def words(textCol: Column): Column =
    filter(split(lower(textCol), " +"), w => length(w) > 0)

  private def bucket(word: Column, hexChars: Int): Column =
    substring(md5(word), 1, hexChars)

  /** Token-occurrence counts per hashed bucket: (bucket, n). */
  def bucketFreqs(docs: DataFrame, textCol: String,
                  hexChars: Int = 2): DataFrame = {
    require(hexChars >= 1 && hexChars <= 4, s"hexChars $hexChars")
    docs.select(explode(words(col(textCol))).as("_w"))
      .groupBy(bucket(col("_w"), hexChars).as("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * Per-bucket importance weights from a raw corpus and a target sample:
   * (bucket, w) with w = round(ln((n_t/T_t + α)/(n_r/T_r + α)), 6).
   * Buckets absent from both sides are absent from the table (their
   * weight would be ln(α/α) = 0, the same default [[scoreDocs]] applies
   * to unseen buckets).
   */
  def bucketWeights(raw: DataFrame, target: DataFrame, textCol: String,
                    hexChars: Int = 2, alpha: Double = 1e-4): DataFrame = {
    val r = bucketFreqs(raw, textCol, hexChars)
    val t = bucketFreqs(target, textCol, hexChars)
    val tr = r.agg(sum(col("n"))).head.getLong(0).toDouble
    val tt = t.agg(sum(col("n"))).head.getLong(0).toDouble
    r.select(col("bucket"), col("n").as("_nr"))
      .join(t.select(col("bucket"), col("n").as("_nt")), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        round(log(
          (coalesce(col("_nt"), lit(0L)).cast("double") / tt + alpha) /
            (coalesce(col("_nr"), lit(0L)).cast("double") / tr + alpha)), 6)
          .as("w"))
  }

  /**
   * Score documents against a collected weight table: (id, n_tokens,
   * score) with score = round(Σ_token w(bucket(token)), 6), unseen
   * buckets scoring 0. Pure projection — zero shuffle, plan-pinnable.
   */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                weights: Map[String, Double], hexChars: Int = 2): DataFrame = {
    require(weights.nonEmpty, "empty weight table")
    val m = map(weights.toSeq.sorted
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    // tokenize ONCE per row behind an alias: the word chain is a lambda
    // expression, which subexpression elimination skips, so the
    // single-select form re-tokenized for n_tokens and score separately;
    // a multi-referenced non-cheap alias survives CollapseProject.
    docs.select(col(idCol), words(col(textCol)).as("_ws"))
      .select(col(idCol), size(col("_ws")).cast("long").as("n_tokens"),
        round(aggregate(
          transform(col("_ws"), w => coalesce(element_at(m, bucket(w, hexChars)), lit(0.0))),
          lit(0.0), (acc, x) => acc + x), 6).as("score"))
  }

  /** End-to-end: estimate weights from `docs` (raw) vs the subset
    * matching `targetPred`, collect the ≤ 16^hexChars-row weight table,
    * and score every document.
    *
    * Because the target is a SUBSET of `docs`, both distribution
    * estimates come from ONE tokenize pass (target counts are a
    * conditional count) instead of [[bucketWeights]]' two corpora × two
    * consumers = four scans; per-bucket counts, totals, and the weight
    * expression are identical (target-only buckets cannot exist, raw
    * buckets absent from the target coalesced to 0 in both forms). */
  def importanceReport(docs: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, hexChars: Int = 2,
                       alpha: Double = 1e-4): DataFrame = {
    require(hexChars >= 1 && hexChars <= 4, s"hexChars $hexChars")
    // ≤ 16^hexChars rows; cut so the totals job and the weight collect
    // don't re-tokenize the corpus
    val freqs = Lineage.cut(docs
      .select(targetPred.as("_is_t"), explode(words(col(textCol))).as("_w"))
      .groupBy(bucket(col("_w"), hexChars).as("bucket"))
      .agg(count(lit(1)).as("_nr"), count(when(col("_is_t"), lit(1))).as("_nt")))
    val totals = freqs.agg(sum(col("_nr")), sum(col("_nt"))).head
    val (tr, tt) = (totals.getLong(0).toDouble, totals.getLong(1).toDouble)
    require(tt > 0, "empty target sample")
    val w = freqs.select(col("bucket"),
        round(log(
          (col("_nt").cast("double") / tt + alpha) /
            (col("_nr").cast("double") / tr + alpha)), 6).as("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    scoreDocs(docs, idCol, textCol, w, hexChars)
  }
}
