package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Bounded-depth BFS over a directed edge list: the minimum hop count
 * (<= k) from a seed set to every reachable node — the subgraph /
 * neighborhood-extraction primitive (pull the 2-hop context of a query
 * entity out of a trillion-edge KG for retrieval or labeling). The
 * reference materializes whole clusters in driver memory
 * (cs562_sdpg `Clustering.scala:100-105`); this is the distributed
 * frontier formulation — no RDDs, no driver state.
 *
 * Per round: ONE equi-join (frontier x edges, the frontier always the
 * small side — broadcastable once it fits) + a distinct + a left-anti
 * against the visited set; `localCheckpoint` cuts the iterative lineage
 * exactly like [[graft.link.ConnectedComponents]]. The visited set grows
 * monotonically, so each round's anti-join keys on it once; rounds stop
 * early when the frontier empties (one count action per round, the same
 * posture as CC's convergence checksum).
 *
 * 100 TB shape: the corpus-sized relation (edges) is scanned once per
 * round and only ever equi-joined on `src`; frontier/visited are bounded
 * by the k-hop ball, which for retrieval workloads is orders of magnitude
 * smaller than the graph. A hub whose out-neighborhood alone is
 * task-sized is the usual skew case — AQE skew-split applies since the
 * join is a plain equi-join.
 */
object KHop {

  /**
   * @param edges DataFrame with columns `src`, `dst` (directed).
   * @param seeds DataFrame with column `node` (distance 0; rows not
   *              appearing in the graph are still emitted at hops 0).
   * @return DataFrame (node, hops: int) — minimum forward distance from
   *         any seed, one row per node with hops <= k.
   */
  def distances(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

    var visited = Lineage.cut(seeds.select(col("node")).filter(col("node").isNotNull)
      .distinct().withColumn("hops", lit(0)))
    var frontier = visited.select("node")
    var hop = 1
    var exhausted = frontier.isEmpty
    while (hop <= k && !exhausted) {
      val next = Lineage.cut(frontier.join(e, frontier("node") === e("src"))
        .select(e("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("hops", lit(hop)), hop)
      exhausted = next.isEmpty
      visited = Lineage.cut(visited.unionByName(next), hop)
      frontier = next.select("node")
      hop += 1
    }
    visited
  }
}
