package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * HITS (hubs & authorities) over the materialized entity graph — the
 * second classic link-analysis scorer beside [[PageRank]]. For a
 * constructed KG the two answer different questions: PageRank ranks
 * global importance; HITS separates REFERRERS (hubs — entities whose
 * out-links concentrate on good authorities, e.g. a person with edges
 * into many well-attested orgs) from REFERENTS (authorities — entities
 * many good hubs point at). The reference stops at schema discovery and
 * delegates centrality to the graph store (cs562_sdpg `Main.scala:186-199`
 * materializes to Neo4j); a Spark-resident KG needs the op in-engine.
 *
 * Semantics: Kleinberg's iterative algorithm (JACM 1999) on the DISTINCT
 * directed edge set, run for a FIXED number of iterations from the
 * all-ones vector with L1 (sum) normalization after each half-step — not
 * to a convergence tolerance, so the result is a pure function of
 * (edges, iterations): repartition/retry/engine-invariant and therefore
 * oracle-checkable (the kg9 PageRank contract).
 *
 *   a_0(v) = 1
 *   h_t(u) = Σ_{u→v} a_{t-1}(v)   then  h_t ← h_t / Σ_u h_t(u)
 *   a_t(v) = Σ_{u→v} h_t(u)       then  a_t ← a_t / Σ_v a_t(v)
 *
 * L1 instead of the textbook L2: the normalizer is then a plain SUM — a
 * one-row partial aggregate both engines compute identically — and the
 * fixed-point direction is the same (normalization only rescales; the
 * principal eigenvector is scale-invariant). Nodes with no out-edges have
 * hub 0; nodes with no in-edges have authority 0 (left joins + coalesce).
 * Self-loops count as ordinary edges; parallel edges collapse (DISTINCT).
 *
 * 100 TB shape — per iteration:
 *  - TWO equi-joins of a (node, score) frame against the checkpointed
 *    edge list (once keyed by dst for the hub half-step, once by src for
 *    the authority half-step), each followed by one partial-agg shuffle
 *    (map-side combine collapses hot endpoints before the exchange);
 *  - each normalizer is a ONE-ROW aggregate broadcast-cross-joined into
 *    the rescale — it never touches the driver, so the fixed-iteration
 *    loop composes into ONE Spark job with zero per-round driver
 *    round-trips (same shape as [[PageRank]]: only convergence-checked
 *    loops like ConnectedComponents need per-round actions);
 *  - lineage is cut every round (lazy) so the composed plan stays O(1)
 *    per iteration; the cut policy, durable posture included, is
 *    [[graft.operators.Lineage]].
 * Nothing node- or edge-sized ever reaches the driver; `run` performs no
 * driver action at all (the edge checkpoint is lazy).
 */
object Hits {

  /**
   * @param edges      two columns `src`, `dst` (any orderable type);
   *                   parallel edges collapse, self-loops are kept.
   * @param iterations fixed iteration count (≥ 1).
   * @return (node, hub, authority) over all nodes appearing as src or
   *         dst, scores rounded to 6 dp at the END only (intermediate
   *         math is full double precision; each column sums to ~1).
   */
  def run(edges: DataFrame, iterations: Int = 5): DataFrame = {
    require(iterations >= 1, s"iterations $iterations")

    val e = Lineage.cut(edges.select(col("src"), col("dst")).distinct())
    val nodes = Lineage.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst")))
      .distinct())

    /** One half-step: score mass flows across `e` from `fromSide` onto
      * `toSide`, then L1-normalizes. `scores` is (node, s). */
    def halfStep(scores: DataFrame, fromSide: String, toSide: String,
                 round: Int): DataFrame = {
      val flowed = e.join(scores, e(fromSide) === scores("node"))
        .groupBy(e(toSide).as("node"))
        .agg(sum(col("s")).as("raw"))
      val norm = flowed.agg(sum(col("raw")).as("_z"))
      Lineage.cut(
        nodes.join(flowed, Seq("node"), "left")
          .crossJoin(broadcast(norm))
          .select(col("node"),
            // a graph whose mass all sits on score-0 endpoints (possible
            // only mid-run on degenerate inputs) keeps zeros instead of
            // dividing by zero
            coalesce(
              when(col("_z") > 0, coalesce(col("raw"), lit(0.0)) / col("_z")),
              lit(0.0)).as("s")),
        round)
    }

    var auth = nodes.select(col("node"), lit(1.0).as("s"))
    var hubs = auth
    var iter = 1
    while (iter <= iterations) {
      // hub(u) = Σ auth(v) over u→v : auth flows from dst onto src
      hubs = halfStep(auth, fromSide = "dst", toSide = "src", iter)
      // auth(v) = Σ hub(u) over u→v : hub flows from src onto dst
      auth = halfStep(hubs, fromSide = "src", toSide = "dst", iter)
      iter += 1
    }
    nodes
      .join(hubs.select(col("node"), col("s").as("_h")), Seq("node"), "left")
      .join(auth.select(col("node"), col("s").as("_a")), Seq("node"), "left")
      .select(col("node"),
        round(coalesce(col("_h"), lit(0.0)), 6).as("hub"),
        round(coalesce(col("_a"), lit(0.0)), 6).as("authority"))
  }
}
