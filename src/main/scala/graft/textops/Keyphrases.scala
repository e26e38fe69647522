package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * TF-IDF keyphrase extraction — the top-k most characteristic terms per
 * document: score(d, t) = tf(d, t) * ln(N / df(t)). The per-document
 * keyword summary that topic tagging, dedup explanation ("these two docs
 * share their top terms"), and retrieval indexing start from; the
 * document-grain companion to [[Vocab]]'s corpus-grain table and
 * [[Bm25]]'s query-time scoring.
 *
 * 100 TB shape: one explode + partial-agg shuffle keyed by (doc, term)
 * builds tf; df derives from tf LOGICALLY by a vocab-keyed rollup, and the
 * vocab-sized result broadcasts into the tf join; N is a one-row
 * broadcast; the final top-k per document plans as WindowGroupLimit
 * (per-partition k-heaps BEFORE the doc-keyed exchange, PlanSpec-pinned),
 * never a full per-doc sort materialization. Catalyst plans a tree, not a
 * DAG — the df branch duplicates the tf subtree and column pruning makes
 * the two exchange subtrees differ, so AQE's exchange reuse cannot
 * collapse them; the one-shot form therefore CUTS tf's lineage with a
 * lazy localCheckpoint (disk-spilling, unlike a cache() which would pin
 * a corpus-scale table in memory), so the corpus tokenizes exactly once.
 * At pipeline scale, persist tf once and use [[tfidfTopKFromTf]] — tf is
 * a table you want on disk anyway, and df then truly derives from it.
 * Deterministic: score ties break on the term itself, and the double
 * arithmetic (one multiply, one ln — both correctly rounded) replays
 * bit-identically in the DuckDB oracle, the kg14 PMI precedent.
 *
 * No reference analog; part of the training-data operator family.
 */
object Keyphrases {

  /**
   * @return (doc_id, rank, term, tf, df, tfidf) — `k` rows per document
   *         (fewer when it has under k distinct terms), rank 1..k by
   *         (score desc, term asc), `tfidf` rounded to 6 dp.
   */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String, k: Int = 3,
                normalize: Boolean = true): DataFrame = {
    val text = if (normalize) lower(col(textCol)) else col(textCol)
    // lineage cut: tf feeds both the df rollup and the scoring join, and
    // column pruning makes the two subtrees differ so AQE exchange reuse
    // never fires — without the cut the corpus tokenizes twice (the
    // documented tx11 caveat). localCheckpoint spills MEMORY_AND_DISK
    // (it does not pin a corpus-scale table in memory the way cache()
    // would); the parquet-persisted [[tfidfTopKFromTf]] path remains the
    // recommended shape when tf is wanted as a table anyway.
    val tf = Lineage.cut(docs
      .select(col(idCol).as("doc_id"), explode(split(text, " +")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val n = docs.agg(countDistinct(col(idCol)).as("_n"))
    tfidfTopKFromTf(tf, n, k)
  }

  /** The scale path: score from an already-materialized tf table
    * (doc_id, term, tf) — e.g. one persisted to parquet by an earlier
    * pipeline stage — so df's rollup reads tf instead of re-tokenizing
    * the corpus. `nDocs` is a one-row (count) relation. */
  def tfidfTopKFromTf(tf: DataFrame, nDocs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"k $k")
    // df(t) = #docs containing t == #rows of tf at term t: a vocab-keyed
    // rollup of tf, broadcast back into the join below
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = nDocs.toDF("_n")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("_score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("_score", col("tf").cast("double") *
        log(col("_n").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), round(col("_score"), 6).as("tfidf"))
  }
}
