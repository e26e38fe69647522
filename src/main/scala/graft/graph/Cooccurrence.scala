package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * PMI-weighted entity co-occurrence — the classic second edge source for
 * KG construction besides explicit predicates (Church & Hanks 1990):
 * entities that keep appearing in the SAME context (here: conversation)
 * get an association edge scored by pointwise mutual information,
 *
 *   pmi(a, b) = ln( P(a,b) / (P(a) P(b)) )
 *             = ln( n_ab * N / (n_a * n_b) ),
 *
 * with N the number of contexts, n_x the number of contexts containing x,
 * and n_ab the number containing both. High-PMI pairs are association
 * candidates the predicate extractor has no rule for.
 *
 * Shape: dedup to (context, entity) — one partial-agg exchange — then a
 * self-equi-join on the context id produces the within-context pairs
 * (`a < b` keeps each pair once), and one more groupBy counts them. The
 * pair fan-out is Σ_c m_c², bounded by the per-context entity count m_c —
 * a property of the DOCUMENT, not the corpus, so it scales linearly in
 * contexts. A pathological context naming thousands of entities is the
 * hot-key case: `maxPerContext` drops contexts above the bound up front
 * (count + semi-join, both partial-agg shaped), the same guard the LSH
 * family applies to hot buckets.
 */
object Cooccurrence {

  /**
   * @param mentions      (contextCol, entityCol) rows, duplicates fine.
   * @param maxPerContext drop contexts with more distinct entities than
   *                      this (0 = no guard).
   * @return (ent_a, ent_b, n_pairs: long, pmi: double 6 dp), ent_a < ent_b.
   */
  def pmi(mentions: DataFrame, contextCol: String, entityCol: String,
          maxPerContext: Int = 0): DataFrame = {
    val m0 = mentions
      .select(col(contextCol).as("_ctx"), col(entityCol).as("_ent"))
      .filter(col("_ctx").isNotNull && col("_ent").isNotNull)
      .distinct()
    val guarded =
      if (maxPerContext <= 0) m0
      else m0.join(
        m0.groupBy("_ctx").agg(count(lit(1)).as("_n"))
          .filter(col("_n") <= maxPerContext).select("_ctx"),
        Seq("_ctx"), "left_semi")
    // consumed four times below (N, entity counts, both self-join sides):
    // materialize once, cut the upstream extraction lineage — same posture
    // as ConnectedComponents' per-round cuts
    val m = Lineage.cut(guarded)

    val nCtx = m.select("_ctx").distinct().count()
    val entCnt = m.groupBy(col("_ent")).agg(count(lit(1)).as("_ne"))

    val a = m.select(col("_ctx"), col("_ent").as("ent_a"))
    val b = m.select(col("_ctx"), col("_ent").as("ent_b"))
    val pairs = a.join(b, Seq("_ctx")).filter(col("ent_a") < col("ent_b"))
      .groupBy("ent_a", "ent_b").agg(count(lit(1)).as("n_pairs"))

    pairs
      .join(entCnt.withColumnRenamed("_ent", "ent_a")
        .withColumnRenamed("_ne", "_na"), Seq("ent_a"))
      .join(entCnt.withColumnRenamed("_ent", "ent_b")
        .withColumnRenamed("_ne", "_nb"), Seq("ent_b"))
      .select(col("ent_a"), col("ent_b"), col("n_pairs"),
        round(log(
          (col("n_pairs").cast("double") * lit(nCtx.toDouble)) /
            (col("_na").cast("double") * col("_nb").cast("double"))), 6)
          .as("pmi"))
  }
}
