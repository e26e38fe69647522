package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Community detection over the materialized entity graph — SYNCHRONOUS
 * label propagation (Raghavan et al., Phys. Rev. E 76, 2007) made
 * deterministic: every node starts as its own community, and each round
 * every node simultaneously adopts the label held by the plurality of
 * its neighbors, ties broken by the lexicographically SMALLEST label
 * (the paper breaks ties uniformly at random; a seeded tie-break is the
 * standard reproducible variant). Run for a FIXED number of rounds, the
 * result is a pure function of (edge set, rounds) —
 * repartition/retry/engine-invariant, so the whole loop is
 * oracle-replayable in SQL. Fixed rounds also sidestep synchronous
 * LPA's known 2-cycle oscillation on bipartite structures: the caller
 * picks the horizon (~5 rounds labels most communities in practice),
 * no convergence detection needed.
 *
 * Completes the graph-analytics trio with [[PageRank]] (importance) and
 * [[Triangles]] (local density): LPA groups a canonicalized KG into
 * densely-linked entity clusters — over-merge candidates for review.
 *
 * 100 TB shape — per round:
 *  - one equi-join of the (node → label) table against the symmetric
 *    neighbor list (keyed by node; the neighbor list is built once and
 *    localCheckpoint'd with the loop's lineage-cut discipline from
 *    [[graft.link.ConnectedComponents]]);
 *  - one (node, label) partial-agg count — map-side combine collapses
 *    plurality votes before the exchange;
 *  - one per-node WindowGroupLimit top-1 by (count DESC, label ASC) —
 *    the same rank-1 shape the engine plan-pins for stratified
 *    sampling; no collect, nothing driver-resident.
 */
object LabelPropagation {

  /**
   * @param edges `src`/`dst` string columns; direction/duplicates/
   *              self-loops normalized away (undirected simple graph).
   * @return (node, community) after `rounds` synchronous updates;
   *         community is a node id (the surviving label).
   */
  def run(edges: DataFrame, rounds: Int = 5): DataFrame = {
    require(rounds >= 0, s"rounds $rounds")
    val und = edges
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val nbr = Lineage.cut(und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u"))))
    var labels = nbr.select(col("v").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (r <- 1 to rounds) {
      // plurality winner as an arg-min PARTIAL aggregate: lexicographic
      // min(struct(-count, label)) == ORDER BY c DESC, label ASC LIMIT 1
      // (the ConflictResolution/EntityTyping posture) — map-side combine
      // collapses each node to one row before the exchange and the
      // per-round Sort + Window the row_number formulation paid is gone
      labels = Lineage.cut(nbr
        .join(labels.withColumnRenamed("node", "u"), Seq("u"))
        .groupBy(col("v"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("_b"))
        .select(col("v").as("node"), col("_b.l").as("label")), r)
    }
    labels.select(col("node"), col("label").as("community"))
  }
}
