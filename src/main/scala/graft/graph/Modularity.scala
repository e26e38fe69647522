package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Newman–Girvan modularity of a community assignment (Newman & Girvan,
 * Phys. Rev. E 69, 2004): per community c over the undirected simple
 * graph, the contribution
 *
 *   Q_c = e_c/m − (d_c/(2m))²
 *
 * where e_c = edges internal to c, d_c = summed degree of c's nodes,
 * m = total edges; Q = Σ_c Q_c ∈ [−1/2, 1) scores how much denser the
 * communities are than a degree-preserving random rewiring. The
 * standard acceptance metric for [[LabelPropagation]] output — and the
 * over-merge alarm for a canonicalized KG (a merge that glues unrelated
 * entities drags Q down).
 *
 * Determinism: e_c, d_c, n_c and m are exact integer aggregates; the
 * only float math is the final per-community `e/m − (d/(2m))²` chain,
 * written in the same operation order as the SQL oracle
 * (IEEE-deterministic, libm-free), rounded to 6dp.
 *
 * 100 TB shape: one edge normalization + two community-annotation joins
 * (node-keyed), one (community) partial agg for internal edges, one for
 * degree/size, and a one-row m aggregate broadcast-cross-joined in —
 * nothing driver-resident, no window, no iteration.
 */
object Modularity {

  /**
   * @param edges       `src`/`dst` string columns (direction/duplicates/
   *                    self-loops normalized away).
   * @param communities (node, community) assignment — e.g.
   *                    [[LabelPropagation.run]] output. Nodes missing an
   *                    assignment drop with their incident edges' internal
   *                    status (inner joins — assign every node first).
   * @return (community, n_nodes, internal_edges, degree_sum,
   *         modularity) with modularity = round(e/m − (d/(2m))², 6).
   */
  def perCommunity(edges: DataFrame, communities: DataFrame): DataFrame = {
    val und = Lineage.cut(edges
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()) // feeds m, the annotation join, and degrees
    val m = und.agg(count(lit(1)).as("_m"))
    val ca = communities.select(col("node").as("a"), col("community").as("_ca"))
    val cb = communities.select(col("node").as("b"), col("community").as("_cb"))
    val annotated = und.join(ca, "a").join(cb, "b")
    val internal = annotated.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("_deg"))
    val byCommunity = communities.join(deg, Seq("node"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum(col("_deg")).cast("long").as("degree_sum"))
    byCommunity
      .join(internal, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)).cast("double") / col("_m") -
          (col("degree_sum").cast("double") / (col("_m") * 2)) *
            (col("degree_sum").cast("double") / (col("_m") * 2)), 6)
          .as("modularity"))
  }
}
