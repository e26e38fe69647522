package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Evaluation metrics.
 *
 * 1. Triple-set precision/recall vs a golden set — `left_anti`-based set
 *    difference (what the reference's FN computation hand-rolls with a
 *    left-outer join + coalesce, cs562_sdpg `ClusteringEvaluation.scala:48-55`;
 *    SURVEY §2.7 notes `except`/`left_anti` is the idiomatic form).
 * 2. Cluster-majority precision/recall/F1 — faithful rebuild of
 *    `ClusteringEvaluation.computeMetricsWithoutPairwise`
 *    (`ClusteringEvaluation.scala:8-65`): per predicted cluster take the
 *    majority ground-truth label (row_number window), count TP/FP, and count
 *    FN as actual-minus-predicted per label.
 */
object Metrics {

  final case class PR(tp: Long, fp: Long, fn: Long) {
    def precision: Double = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    def f1: Double = {
      val p = precision; val r = recall
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
  }

  /** Exact triple-set P/R: both sides are (subj, pred, obj). */
  def triplePR(predicted: DataFrame, golden: DataFrame): PR = {
    val cols = Seq("subj", "pred", "obj").map(col)
    val p = predicted.select(cols: _*).distinct()
    val g = golden.select(cols: _*).distinct()
    val tp = p.join(g, Seq("subj", "pred", "obj"), "left_semi").count()
    val fp = p.join(g, Seq("subj", "pred", "obj"), "left_anti").count()
    val fn = g.join(p, Seq("subj", "pred", "obj"), "left_anti").count()
    PR(tp, fp, fn)
  }

  /**
   * Cluster-majority TP/FP/FN as a one-row DataFrame (reference
   * `ClusteringEvaluation.scala:8-65`): per predicted cluster take the
   * majority actual label (deterministic tiebreak), TP = members matching
   * it, FP = the rest, FN = per-label actual total minus correctly
   * predicted (left-outer + coalesce, `:48-55`).
   * @param assignments DataFrame with (id, predicted, actual)
   */
  def clusterMajorityCounts(assignments: DataFrame): DataFrame = {
    val counts = assignments.groupBy("predicted", "actual").count()
    val w = Window.partitionBy("predicted").orderBy(col("count").desc, col("actual"))
    val majority = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .select(col("predicted"), col("actual").as("majorityType"))
    val joined = assignments.join(majority, "predicted")
    val tpFp = joined.agg(
      sum(when(col("actual") === col("majorityType"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("actual") =!= col("majorityType"), 1L).otherwise(0L)).as("fp"))
    val totalActual = assignments.groupBy("actual").count()
      .withColumnRenamed("count", "totalActual")
    val totalPredicted = joined.filter(col("actual") === col("majorityType"))
      .groupBy("majorityType").count()
      .withColumnRenamed("count", "totalPredicted")
    val fnDf = totalActual
      .join(totalPredicted, totalActual("actual") === totalPredicted("majorityType"), "left_outer")
      .agg(sum(col("totalActual") - coalesce(col("totalPredicted"), lit(0L))).as("fn"))
    tpFp.crossJoin(fnDf)
  }

  /** Scalar view of [[clusterMajorityCounts]]. */
  def clusterMajorityPR(assignments: DataFrame): PR = {
    val r = clusterMajorityCounts(assignments).head()
    PR(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Exact-set-match pattern P/R (reference Pipeline B,
    * `Metrics.scala:37-47`): both sides are small summary sets — compared
    * distributed via semi/anti joins on a stable digest. */
  def setMatchPR(detected: DataFrame, golden: DataFrame, keyCols: Seq[String]): PR = {
    val d = detected.select(keyCols.map(col): _*).distinct()
    val g = golden.select(keyCols.map(col): _*).distinct()
    PR(
      d.join(g, keyCols, "left_semi").count(),
      d.join(g, keyCols, "left_anti").count(),
      g.join(d, keyCols, "left_anti").count())
  }

  /**
   * Blocking-quality audit — the ER-engineering measurement layer for the
   * LSH blocking the canonicalization stage depends on: pairs
   * completeness (what fraction of the ground-truth duplicate pairs the
   * blocker surfaced) and reduction ratio (what fraction of the n·(n-1)/2
   * all-pairs space it never had to look at). The standard trade-off pair
   * from the record-linkage literature; a blocker is only as good as
   * BOTH numbers together (completeness 1.0 is trivial at reduction 0).
   *
   * 100 TB shape: `truth` and `found` collapse to one row each via
   * partial-agg counts; the only distributed work is one semi join on the
   * canonical (id_a, id_b) pair key; the final arithmetic runs on a
   * four-way cross join of one-row relations (all broadcast). No driver
   * action, no collect.
   *
   * @param truth  ground-truth duplicate pairs (id_a, id_b), id_a < id_b
   * @param found  blocker-surfaced pairs in the same canonical form
   * @return one row: (n_docs, n_true_pairs, n_found_pairs, n_caught,
   *         pairs_completeness, reduction_ratio), ratios 6 dp;
   *         completeness is 1.0 by convention on an empty truth set;
   *         fewer than 2 docs raise [[TooFewDocs]] when evaluated.
   */
  def blockingQuality(docs: DataFrame, idCol: String,
                      truth: DataFrame, found: DataFrame): DataFrame = {
    val nd = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val nt = truth.agg(count(lit(1)).as("n_true_pairs"))
    val nf = found.agg(count(lit(1)).as("n_found_pairs"))
    val nc = truth.join(found, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_caught"))
    nd.crossJoin(nt).crossJoin(nf).crossJoin(nc)
      .select(col("n_docs"), col("n_true_pairs"), col("n_found_pairs"),
        col("n_caught"),
        round(when(col("n_true_pairs") === 0, 1.0)
          .otherwise(col("n_caught").cast("double") / col("n_true_pairs")), 6)
          .as("pairs_completeness"),
        when(col("n_docs") < 2, raise_error(lit(TooFewDocs)))
          .otherwise(round(lit(1.0) - col("n_found_pairs").cast("double") /
            (col("n_docs").cast("double") * (col("n_docs") - 1) / 2.0), 6))
          .as("reduction_ratio"))
  }

  /** [[blockingQuality]]'s error on fewer than 2 docs. */
  val TooFewDocs = "blockingQuality: reduction_ratio needs at least 2 documents"
}
