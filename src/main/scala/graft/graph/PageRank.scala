package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * PageRank over the materialized entity graph — entity-importance scoring
 * for a constructed knowledge graph (rank canonical entities to order
 * human review, pick seed entities, weight link-prediction negatives).
 * The reference stops at schema discovery (cs562_sdpg materializes the
 * graph back to Neo4j, `Main.scala:186-199`, and lets the store compute
 * centrality); a Spark-resident KG needs the op in the engine.
 *
 * Semantics: the classic power iteration (Page et al. 1999; the damping
 * form in Brin & Page, WWW 1998) on the DISTINCT directed edge set, run
 * for a FIXED number of iterations from the uniform vector — not to a
 * convergence tolerance, so the result is a pure function of (edges,
 * iterations, damping): repartition/retry/engine-invariant and therefore
 * oracle-checkable.
 *
 *   pr_0(v)   = 1/N
 *   pr_t+1(v) = (1-d)/N + d * ( Σ_{u→v} pr_t(u)/outdeg(u)  +  D_t/N )
 *
 * where D_t = Σ_{outdeg(u)=0} pr_t(u) is the dangling mass, redistributed
 * uniformly (the standard stochastic-matrix completion: Σ pr stays 1
 * every iteration, asserted in the spec). Self-loops count as ordinary
 * edges; parallel edges collapse (DISTINCT).
 *
 * 100 TB shape — per iteration:
 *  - one equi-join of ranks (keyed by node) against the out-degree-
 *    annotated edge list (keyed by src): the edge list is the big side
 *    and is localCheckpoint'd ONCE up front with its degree column so no
 *    per-iteration recompute;
 *  - one partial-agg shuffle on dst for the contribution sums (map-side
 *    combine collapses hot destinations before the exchange);
 *  - one LEFT join back to the node set (nodes without in-edges keep the
 *    teleport + dangling term);
 *  - the dangling mass is a one-row aggregate (an anti-join against the
 *    out-degree keys) broadcast-cross-joined into the update — it NEVER
 *    touches the driver, so the fixed-iteration loop composes into ONE
 *    Spark job with zero per-round driver round-trips (unlike
 *    [[graft.link.ConnectedComponents]], which needs a per-round action
 *    only because it checks CONVERGENCE; a fixed-iteration power method
 *    does not);
 *  - lineage is cut every round (lazy — the plan each round references
 *    the previous round's cut, so the composed job's plan stays O(1) per
 *    iteration); the cut policy, durable posture included, is
 *    [[graft.operators.Lineage]].
 * Nothing node- or edge-sized ever reaches the driver; the only driver
 * action inside `run` is the node COUNT (the N in the teleport term).
 */
object PageRank {

  /**
   * @param edges    two columns `src`, `dst` (any orderable type);
   *                 parallel edges collapse, self-loops are kept.
   * @param iterations fixed power-iteration count (≥ 0; 0 = uniform).
   * @param damping  d in [0, 1].
   * @return (node, rank) over all nodes appearing as src or dst, rank
   *         rounded to 6 dp at the END only (intermediate math is full
   *         double precision).
   */
  def run(edges: DataFrame, iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, s"iterations $iterations")
    require(damping >= 0 && damping <= 1, s"damping $damping")

    val e = edges.select(col("src"), col("dst")).distinct()
    val nodes = Lineage.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst")))
      .distinct(), eager = true) // count() below is its materializing action
    val n = nodes.count().toDouble
    if (n == 0) return nodes.select(col("node"), lit(0.0).as("rank"))

    // out-degree-annotated edges, reused every round: (src, dst, deg)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val eDeg = Lineage.cut(e.join(outDeg, "src"))
    val srcs = Lineage.cut(outDeg.select(col("src")))

    var ranks = nodes.select(col("node"), lit(1.0 / n).as("r"))
    var iter = 0
    while (iter < iterations) {
      // dangling mass: rank held by nodes with no out-edges — a ONE-ROW
      // frame broadcast into the update, never a driver value
      val dangling = ranks.join(srcs, ranks("node") === srcs("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("_dang"))
      val contribs = eDeg.join(ranks, eDeg("src") === ranks("node"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") / col("deg")).as("c"))
      ranks = Lineage.cut(
        nodes.join(contribs, Seq("node"), "left")
          .crossJoin(broadcast(dangling))
          .select(col("node"),
            (lit((1 - damping) / n) +
              lit(damping) * (coalesce(col("c"), lit(0.0)) + col("_dang") / n))
              .as("r")),
        iter + 1)
      iter += 1
    }
    ranks.select(col("node"), round(col("r"), 6).as("rank"))
  }
}
