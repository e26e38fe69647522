package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Lineage

/**
 * Deterministic DeepWalk-style random-walk corpus over the constructed
 * KG (Perozzi et al. 2014) — the node-embedding data-prep sibling of
 * [[EgoNets]]: skip-gram training sentences are walks, and at 100 TB the
 * walks must be REPLAYABLE (retry-, repartition-, and
 * incremental-rebuild-invariant), so each step's neighbor choice is the
 * md5-arg-min over the current node's neighbors instead of an RNG draw —
 * the walk is a pure function of (salt, start, walk_idx, step). Distinct
 * walk_idx values decorrelate via the decision key, giving the
 * multi-walk coverage DeepWalk gets from independent random runs.
 *
 * 100 TB shape: starts are hash-sampled (pushdown-able predicate) ×
 * `walksPerNode` exploded; each of the `length` steps is ONE
 * frontier×edges equi-join followed by a per-walk arg-min PARTIAL
 * aggregate `min(struct(key, dst))` — map-side combine reduces a hub's
 * neighbor list to one row per walk BEFORE the exchange; no windows, no
 * driver state, lineage cut once on the symmetrized edge set. Output is
 * exactly |starts| × walksPerNode × (length+1) rows.
 *
 * @param edges        directed edges `src`, `dst`; symmetrized, self-loops
 *                     dropped (walks never die: every node in the edge set
 *                     has a neighbor)
 * @param startFraction hash-sampled fraction of nodes used as walk starts
 * @param walksPerNode  walks per start node
 * @param length        steps per walk (output has length+1 nodes per walk)
 * @return (start, walk_idx, step, node), step 0 = the start node
 */
object RandomWalks {

  /**
   * Skip-gram pair extraction over a walk corpus — the (center, context)
   * co-occurrence table an embedding trainer actually consumes: within
   * each walk, every ordered pair of nodes at step distance 1..`window`,
   * aggregated to counts. ONE (start, walk_idx)-keyed self-join whose
   * group size is walk length+1 (a constant — never degree- or
   * corpus-sized), then a (center, context) partial-agg count.
   *
   * @param walks output of [[walks]]: (start, walk_idx, step, node)
   * @return (center, context, n_pairs)
   */
  def skipGrams(walks: DataFrame, window: Int): DataFrame = {
    require(window > 0, "need a positive window")
    val a = walks.as("a")
    val b = walks.as("b")
    a.join(b, col("a.start") === col("b.start")
        && col("a.walk_idx") === col("b.walk_idx")
        && col("a.step") =!= col("b.step")
        && abs(col("a.step") - col("b.step")) <= window)
      .groupBy(col("a.node").as("center"), col("b.node").as("context"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def walks(edges: DataFrame, startFraction: Double, walksPerNode: Int,
            length: Int, salt: String = "graft"): DataFrame = {
    require(walksPerNode > 0 && length > 0, "need positive walk shape")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull
        && col("src") =!= col("dst"))
    val und = Lineage.cut(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val nodes = und.select(col("src").as("node")).distinct()
    val starts = graft.textops.Sampling.hashSample(nodes, "node", startFraction, salt)
      .select(col("node").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("walk_idx"))
    var cur = starts.withColumn("node", col("start"))
    var out = cur.withColumn("step", lit(0))
      .select(col("start"), col("walk_idx"), col("step"), col("node"))
    (1 to length).foreach { step =>
      // lineage cut per step (the KHop posture): `cur` feeds BOTH the next
      // step's join and its own output branch — without it the L output
      // branches re-evaluate the whole prior join chain, O(L²) work at
      // DeepWalk's typical L=40..80
      cur = Lineage.cut(stepFrame(cur, und, salt, step), step)
      out = out.unionByName(cur.withColumn("step", lit(step))
        .select(col("start"), col("walk_idx"), col("step"), col("node")))
    }
    out
  }

  /** One walk step: each (start, walk_idx) at `cur.node` moves to the
    * md5-arg-min neighbor in `und`. Returns (start, walk_idx, node). */
  private[graft] def stepFrame(cur: DataFrame, und: DataFrame, salt: String,
                               step: Int): DataFrame = {
    val key = md5(concat_ws("|", lit(salt), col("start"), col("walk_idx"),
      lit(step), col("src"), col("dst")))
    cur.join(und, cur("node") === und("src"))
      .groupBy(col("start"), col("walk_idx"))
      .agg(min(struct(key.as("k"), col("dst").as("d"))).as("_c"))
      .select(col("start"), col("walk_idx"), col("_c.d").as("node"))
  }
}
